"""A tiny traced run of every workload: a few hundred records per party
through set-up, one checked end-to-end pass and the traced pass."""

import dataclasses

import pytest

from pprlbench import harness, workloads

# not in fingerprints.json, so the shrunken inputs are not compared with
# the recorded full-size fingerprints
SEED = 424242


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_tiny_traced_run(name, tmp_path):
    wl = dataclasses.replace(workloads.WORKLOADS[name], n_per_party=300)
    result, host = harness.run_benchmark(wl, SEED, seconds=0, trace=True, work=tmp_path / "w")
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] == 3  # warm-up, e2e, traced
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["extract.rows_out"] == 600
    assert m["matching.dice.rows_out"] > 0 and m["clustering.jobs"] > 0
    if wl.blocking == "hlsh":
        assert m["classify.jobs"] == m["blocking.jobs"] == m["window.jobs"] == 0
        assert m["hlsh.rows_out"] > 0
    else:
        assert m["hlsh.jobs"] == 0 and m["window.rows_out"] > 0
        assert 0 <= m["blocking.purged_share"] < 1
    assert host["nproc"] >= 1 and host["setup_s"] > 0
    assert (tmp_path / f"trace-{name}-seed{SEED}.json").is_file()

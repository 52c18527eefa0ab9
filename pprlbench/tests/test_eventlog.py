"""The event-log parser and the per-layer table, on a canned log."""

import json
import shutil
from pathlib import Path

import pytest

from pprlbench import eventlog, harness, workloads

CANNED = Path(__file__).parent / "data" / "canned_eventlog.jsonl"


def test_parse_groups_jobs_and_task_metrics():
    log = eventlog.parse_app(CANNED.parent, CANNED.name)
    c = log.totals("classify")
    assert (c.jobs, c.tasks) == (1, 3)
    assert c.task_run_s == pytest.approx(2.25)
    assert c.task_cpu_s == pytest.approx(1.3)
    assert c.shuffle_write_bytes == 1024
    assert c.spill_bytes == 4096  # disk bytes only; the memory size is not added
    d = log.totals("matching.dice")
    assert (d.jobs, d.tasks, d.shuffle_write_bytes) == (1, 2, 59)
    assert d.task_run_s == pytest.approx(3.0)
    assert log.totals(None).jobs == 1  # the untagged job
    assert log.totals("window").jobs == 0
    assert log.jobs[2].group == "matching.dice"
    assert (log.jobs[0].submit_ms, log.jobs[0].end_ms) == (1000, 3000)


def test_rolling_layout_is_read_in_part_order(tmp_path):
    lines = CANNED.read_text().splitlines(keepends=True)
    split = next(i for i, l in enumerate(lines) if '"Job ID":1,' in l)
    d = tmp_path / "eventlog_v2_local-7"
    d.mkdir()
    # part 10 must follow part 2: a lexical sort would read it first
    (d / "events_2_local-7").write_text("".join(lines[:split]))
    (d / "events_10_local-7").write_text("".join(lines[split:]))
    log = eventlog.parse_app(tmp_path, "local-7")
    assert log.totals("classify").tasks == 3
    assert log.totals("matching.dice").tasks == 2
    with pytest.raises(FileNotFoundError):
        eventlog.parse_app(tmp_path, "local-8")


def _tracer(spans, rows):
    tr = workloads.Tracer(spark=None)
    tr.spans = [workloads.Span(n, a, b, "traced_pass") for n, a, b in spans]
    tr.rows_out = dict(rows)
    return tr


def test_layer_table_attribution_and_ratios():
    log = eventlog.parse_app(CANNED.parent, CANNED.name)
    tr = _tracer(
        [("classify", 0.9, 3.05), ("matching.dice", 3.25, 5.0)],
        {"extract": 100, "classify": 100, "blocking.in": 400, "blocking": 300,
         "window": 1000, "matching.dice": 50},
    )
    table, errors = harness.layer_table(tr, log, total=4.2, cores=4)
    assert errors == []
    assert table["classify.wall_s"][0] == pytest.approx(2.15)
    assert table["classify.idle_core_share"][0] == pytest.approx(1 - 2.25 / (2.15 * 4))
    assert table["window.jobs"][0] == 0 and table["window.idle_core_share"][0] == 0.0
    assert table["driver.wall_s"][0] == pytest.approx(4.2 - 2.15 - 1.75)
    assert table["blocking.purged_share"][0] == pytest.approx(0.25)
    assert table["window.pairs_per_record"][0] == pytest.approx(10.0)
    assert table["matching.dice.match_yield"][0] == pytest.approx(0.05)
    spec = json.loads((harness.ROOT / "BENCHMARK.json").read_text())
    assert set(table) | {"trace.overhead_s"} == {m["name"] for m in spec["per_layer"]}


def test_layer_table_flags_jobs_outside_their_span():
    log = eventlog.parse_app(CANNED.parent, CANNED.name)
    tr = _tracer([("classify", 1.5, 3.05), ("matching.dice", 3.25, 5.0)], {})
    _, errors = harness.layer_table(tr, log, total=4.0, cores=4)
    assert any("outside the classify span" in e for e in errors)
    tr = _tracer([("matching.dice", 3.25, 5.0)], {})
    _, errors = harness.layer_table(tr, log, total=2.0, cores=4)
    assert any("classify ran 1 jobs but has no span" in e for e in errors)


def test_layer_table_flags_a_pass_the_spans_do_not_cover():
    log = eventlog.parse_app(CANNED.parent, CANNED.name)
    tr = _tracer([("classify", 0.9, 3.05), ("matching.dice", 3.25, 5.0)], {})
    # 3.9 s of spans in a 4.5 s pass leave 13% to the driver
    _, errors = harness.layer_table(tr, log, total=4.5, cores=4)
    assert any("spans must cover" in e for e in errors)
    # spans longer than the pass itself
    _, errors = harness.layer_table(tr, log, total=3.5, cores=4)
    assert any("spans must cover" in e for e in errors)


def test_bare_directory_exits_nonzero_without_a_result(tmp_path):
    import subprocess
    import sys

    shutil.copytree(harness.ROOT / "pprlbench", tmp_path / "pprlbench")
    shutil.copy(harness.ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "pprlbench/run.py", "--workload", "link_pairs", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""

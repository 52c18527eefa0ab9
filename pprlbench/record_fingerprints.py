#!/usr/bin/env python3
"""Record the input fingerprint of every workload for a range of seeds.

    python3 pprlbench/record_fingerprints.py --seeds 0-99

Run from the repository root. A benchmark run whose seed is recorded in
``fingerprints.json`` fails if its generated input differs, so a change to
the fixture generator cannot change a workload unnoticed; re-record only
when a workload is changed on purpose, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pprlbench import checks, harness, workloads  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="0-99", help="inclusive range, e.g. 0-99")
    ap.add_argument("--workload", action="append", help="default: every workload")
    args = ap.parse_args(argv)
    lo, hi = (int(x) for x in args.seeds.split("-"))
    names = args.workload or sorted(workloads.WORKLOADS)

    recorded = json.loads(harness.FINGERPRINTS.read_text())
    work = harness.WORK / f"fingerprints-{os.getpid()}"
    spark = harness.start_session(work, trace=False)
    try:
        for name in names:
            wl = workloads.WORKLOADS[name]
            for seed in range(lo, hi + 1):
                inp = workloads.make_inputs(spark, wl, seed)
                recorded.setdefault(name, {})[str(seed)] = checks.fingerprint(
                    inp.record_rows, inp.reference_rows
                )
                del inp
                harness.reset_state(spark)
            print(f"{name}: seeds {lo}-{hi} recorded", flush=True)
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name in recorded:
        recorded[name] = dict(sorted(recorded[name].items(), key=lambda kv: int(kv[0])))
    harness.FINGERPRINTS.write_text(json.dumps(recorded, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

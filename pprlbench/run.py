#!/usr/bin/env python3
"""Warm-session PPRL benchmark.

    python3 pprlbench/run.py --workload link_pairs --seed 1 --seconds 5 --trace 0

Run from the repository root (the package is imported from the checkout,
never from site-packages). One process, one ``local[nproc]`` Spark
session:

* set-up: JVM start, input generation from ``--seed`` and its
  materialization, the input fingerprint check, and one untimed, checked
  warm-up pass. ``setup_s`` is the process's age when set-up ends.
* ``--trace 0``: warm end-to-end passes until ``--seconds`` of pass time
  have been measured (at least one). Every pass starts from the same
  state (``clearCache`` + garbage collection) and is checked afterwards,
  untimed; a pass that fails a check is counted in ``failed`` and never
  reported as a timing. Prints the end-to-end metrics.
* ``--trace 1``: the same, with the Spark event log on, then one traced
  pass that runs each layer under its own job group. Prints the
  per-layer metrics, parsed from the event log.

The last line of standard output is the JSON result; the line before it
is the host block. Scratch files live under ``.pprlbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "scalable_blocking_for_privacy_preserving_record_linkage_spark"
DEFAULT_SEED = 1

if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(
            f"pprlbench: the package {PACKAGE}/ is not in {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    # imported only now: they import the package checked for above
    from pprlbench import harness, workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"pprlbench: unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = harness.WORK / f"{wl.name}-{args.seed}-{os.getpid()}"
    try:
        result, host = harness.run_benchmark(wl, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())

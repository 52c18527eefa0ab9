"""Set-up, timed passes, checks and the per-layer table of one run.

``run.py`` is the command-line entry point; this module does the work and
is what the benchmark's tests call.
"""

from __future__ import annotations

import gc
import json
import os
import platform
import signal
import statistics
import sys
import time
import traceback
from dataclasses import asdict
from pathlib import Path

from scalable_blocking_for_privacy_preserving_record_linkage_spark.functions import bloom
from scalable_blocking_for_privacy_preserving_record_linkage_spark.session import get_spark

from pprlbench import checks, eventlog, proctree, workloads

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".pprlbench_work"
FINGERPRINTS = Path(__file__).resolve().parent / "fingerprints.json"
# a traced span may start or end this far from its jobs' event-log times
# (the event log stamps in whole milliseconds, from the JVM's clock)
SPAN_SLACK_S = 0.05
# the layer spans must cover all but this share of the traced pass
MAX_DRIVER_SHARE = 0.1


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path, trace: bool):
    """A ``local[nproc]`` session whose scratch files stay under ``work``."""
    for d in ("local", "tmp", "eventlog", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # the JVM and the Python workers inherit these; set before launch
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # both JVMs (spark-submit's launcher, then the driver) keep their
    # temporary files in ``work``; no hsperfdata file outside it either
    jvm_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    for var in ("SPARK_LAUNCHER_OPTS", "SPARK_SUBMIT_OPTS"):
        os.environ[var] = " ".join(p for p in (os.environ.get(var), jvm_opts) if p)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # Spark 4 compresses with zstd by default; the parser
                # reads plain JSON lines with the stdlib only
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
            }
        )
    n = nproc()
    spark = get_spark(
        app_name="pprlbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    started = [p for p in proctree.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)  # the JVM, launched by PySpark
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
    deadline = time.monotonic() + 60
    while proctree.alive(started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in proctree.alive(started):
        os.kill(pid, signal.SIGKILL)
    if proc is not None:
        proc.wait(timeout=30)


def reset_state(spark) -> None:
    """Put the session back to the state every pass starts from: no
    cached frames, and the previous pass's checkpoints released."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _tree_cpu_seconds() -> float:
    """CPU of this process and everything below it; the tree is listed
    afresh so a Python worker started during a pass is counted too."""
    return proctree.cpu_seconds(proctree.descendants(os.getpid()))


def load_average() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def recorded_fingerprint(workload: str, seed: int) -> dict | None:
    with open(FINGERPRINTS) as f:
        return json.load(f).get(workload, {}).get(str(seed))


class Bench:
    """One workload on one session: set-up, passes and checks."""

    def __init__(self, spark, wl, seed: int):
        self.spark, self.wl, self.seed = spark, wl, seed
        self.inputs = workloads.make_inputs(spark, wl, seed)
        self.fingerprint = checks.fingerprint(
            self.inputs.record_rows, self.inputs.reference_rows
        )
        self.setup_errors: list[str] = []
        recorded = recorded_fingerprint(wl.name, seed)
        self.fingerprint_recorded = recorded is not None
        if recorded is not None and recorded != self.fingerprint:
            self.setup_errors.append(
                f"input fingerprint {self.fingerprint} != recorded {recorded}"
            )
        self.parties = checks.parties(self.inputs.record_rows)
        self.scorer = checks.Scorer(wl.cfg, bloom.encode_value)
        self.expected_counts = None  # (candidates, matches, clusters) of the warm-up
        self.expected_metrics = None
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.steals: list[float] = []  # host CPU stolen during each timed pass
        self.jit_s: list[float] = []  # JVM JIT compiler time during each timed pass
        self._compiler = spark._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def _check(self, res) -> tuple[list[str], object]:
        out = workloads.collect_output(res, self.seed)
        errors = list(self.setup_errors) + checks.check_pass(out, self.parties, self.scorer)
        if self.expected_counts is None:
            self.expected_counts = out.counts()
            self.expected_metrics = out.metrics
        elif out.counts() != self.expected_counts or out.metrics != self.expected_metrics:
            errors.append(
                f"pass output differs from the warm-up pass: counts {out.counts()} "
                f"vs {self.expected_counts}"
            )
        return errors, out

    def run_pass(self, run, group: str, timed: bool):
        """Run one pass under job group ``group`` and check it, untimed.
        Returns (PassOutput, wall seconds), or (None, None) if the pass
        failed; only a passing timed pass adds to ``walls``/``cpus``."""
        sc = self.spark.sparkContext
        self.attempted += 1
        res = None
        try:
            sc.setJobGroup(group, group)
            jit0 = self._compiler.getTotalCompilationTime()
            cpu0, steal0 = _tree_cpu_seconds(), proctree.host_steal_seconds()
            t0 = time.perf_counter()
            res = run()
            wall = time.perf_counter() - t0
            cpu = _tree_cpu_seconds() - cpu0
            steal = proctree.host_steal_seconds() - steal0
            jit = (self._compiler.getTotalCompilationTime() - jit0) / 1e3
            sc.setJobGroup("checks", "checks")
            errors, out = self._check(res)
        except Exception:  # noqa: BLE001 - a crashed pass is a failed operation
            errors, out = [traceback.format_exc()], None
        del res
        reset_state(self.spark)
        if errors:
            self.failed += 1
            print(f"[{self.wl.name}] {group} pass failed:", *errors[:5], sep="\n  ", file=sys.stderr)
            return None, None
        if timed:
            self.walls.append(wall)
            self.cpus.append(cpu)
            self.steals.append(steal)
            self.jit_s.append(jit)
        return out, wall

    def e2e_passes(self, seconds: float) -> None:
        """Timed passes until ``seconds`` of passing pass time (at least one
        pass), giving up after three failures."""
        while self.failed < 3 and (not self.walls or sum(self.walls) < seconds):
            self.run_pass(lambda: workloads.e2e_pass(self.spark, self.wl, self.inputs), "e2e", True)


def run_benchmark(wl, seed: int, seconds: float, trace: bool, work: Path) -> tuple[dict, dict]:
    """Set up, measure and check one workload; returns (result, host).

    Spark's scratch files go under ``work``; a traced run also writes its
    spans and layer table beside it, as ``trace-<workload>-seed<n>.json``."""
    host = {
        "nproc": nproc(),
        "load_1min_start": load_average(),
        "python": platform.python_version(),
        "workload": wl.name,
        "records_per_party": wl.n_per_party,
        "seed": seed,
        "trace": int(trace),
    }
    spark = start_session(work, trace)
    try:
        host["session_ready_s"] = proctree.process_age_s()
        host["spark"] = spark.version
        bench = Bench(spark, wl, seed)
        host["inputs_ready_s"] = proctree.process_age_s()
        host["input_fingerprint"] = bench.fingerprint
        host["fingerprint_recorded"] = bench.fingerprint_recorded
        bench.run_pass(lambda: workloads.e2e_pass(spark, wl, bench.inputs), "warmup", False)
        setup_s = proctree.process_age_s()
        bench.e2e_passes(seconds)
        traced = None
        if trace:
            traced = _traced(bench)
        children = [p for p in proctree.descendants(os.getpid()) if p != os.getpid()]
        peak_rss = proctree.peak_rss_mb(children)
        host["peak_rss_mb_by_pid"] = {p: proctree.peak_rss_mb([p]) for p in children}
        app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)
    host["load_1min_end"] = load_average()
    host["setup_s"] = setup_s
    host["pass_walls_s"] = bench.walls
    host["pass_steal_s"] = bench.steals
    host["pass_jit_compile_s"] = bench.jit_s

    ok = bench.failed == 0 and bench.walls
    result = {"correct": bool(ok), "attempted": bench.attempted, "failed": bench.failed, "metrics": {}}
    if not bench.walls:
        return result, host
    link_s = statistics.median(bench.walls)
    if not trace:
        m = bench.expected_metrics
        result["metrics"] = {
            "link_s": {"value": link_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(bench.cpus), "unit": "s"},
            "peak_rss_mb": {"value": peak_rss, "unit": "MiB"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "f1": {"value": m.f1, "unit": "ratio"},
            "pairs_completeness": {"value": m.pairs_completeness, "unit": "ratio"},
            "reduction_ratio": {"value": m.reduction_ratio, "unit": "ratio"},
        }
        return result, host

    tracer, total, out = traced
    if out is None:
        result["correct"] = False
        return result, host
    log = eventlog.parse_app(work / "eventlog", app_id)
    table, errors = layer_table(tracer, log, total, nproc())
    if out.counts() != bench.expected_counts:
        errors.append(
            f"traced (candidates, matches, clusters) {out.counts()} != "
            f"end-to-end {bench.expected_counts}"
        )
    table["trace.overhead_s"] = (total - link_s, "s")
    for e in errors:
        print(f"[{wl.name}] trace check failed: {e}", file=sys.stderr)
    result["correct"] = bool(ok) and not errors
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in table.items()}
    (work.parent / f"trace-{wl.name}-seed{seed}.json").write_text(
        json.dumps(
            {
                "host": host,
                "spans": [asdict(s) for s in tracer.spans],
                "rows_out": tracer.rows_out,
                "metrics": result["metrics"],
                "errors": errors,
            },
            indent=1,
        )
    )
    return result, host


def _traced(bench):
    """The traced pass (checked like any other) and its deferred counts.
    Returns (tracer, traced-pass wall seconds or None, PassOutput or None)."""
    tracer = workloads.Tracer(bench.spark)
    out, total = bench.run_pass(
        lambda: workloads.traced_pass(bench.spark, bench.wl, bench.inputs, tracer),
        "driver",
        False,
    )
    bench.spark.sparkContext.setJobGroup("aux", "aux")
    for name, df in tracer.deferred.items():
        tracer.rows_out[name] = df.count()
    return tracer, total, out


def layer_table(tracer, log, total: float, cores: int) -> tuple[dict, list[str]]:
    """Per-layer metrics {name: (value, unit)} and the trace checks' failures."""
    errors: list[str] = []
    spans = {s.name: s for s in tracer.spans}
    rows = tracer.rows_out
    table: dict[str, tuple[float, str]] = {}
    covered = 0.0
    for layer in workloads.LAYERS:
        span = spans.get(layer)
        wall = span.end - span.start if span else 0.0
        covered += wall
        g = log.totals(layer)
        table[f"{layer}.wall_s"] = (wall, "s")
        table[f"{layer}.task_run_s"] = (g.task_run_s, "s")
        table[f"{layer}.task_cpu_s"] = (g.task_cpu_s, "s")
        table[f"{layer}.idle_core_share"] = (
            1.0 - g.task_run_s / (wall * cores) if wall > 0 else 0.0,
            "ratio",
        )
        table[f"{layer}.jobs"] = (g.jobs, "count")
        table[f"{layer}.tasks"] = (g.tasks, "count")
        table[f"{layer}.shuffle_write_bytes"] = (g.shuffle_write_bytes, "bytes")
        table[f"{layer}.spill_bytes"] = (g.spill_bytes, "bytes")
        table[f"{layer}.rows_out"] = (rows.get(layer, 0), "rows")
        if span is None and g.jobs:
            errors.append(f"{layer} ran {g.jobs} jobs but has no span")
        for job in log.jobs.values():
            if span is not None and job.group == layer and (
                job.submit_ms / 1e3 < span.start - SPAN_SLACK_S
                or (job.end_ms or 0) / 1e3 > span.end + SPAN_SLACK_S
            ):
                errors.append(f"a {layer} job ran outside the {layer} span")
                break
    driver = total - covered
    table["driver.wall_s"] = (driver, "s")
    if not 0 <= driver <= MAX_DRIVER_SHARE * total:
        errors.append(
            f"layer walls {covered:.3f} s leave driver {driver:.3f} s of the traced "
            f"{total:.3f} s; the spans must cover at least {1 - MAX_DRIVER_SHARE:.0%} of it"
        )

    records = rows.get("extract", 0)
    elements_in = rows.get("blocking.in", 0)
    scored = rows.get("window", 0) + rows.get("hlsh", 0)
    table["blocking.purged_share"] = (
        (elements_in - rows.get("blocking", 0)) / elements_in if elements_in else 0.0,
        "ratio",
    )
    table["window.pairs_per_record"] = (rows.get("window", 0) / records if records else 0.0, "pairs/record")
    table["hlsh.pairs_per_record"] = (rows.get("hlsh", 0) / records if records else 0.0, "pairs/record")
    table["matching.dice.match_yield"] = (
        rows.get("matching.dice", 0) / scored if scored else 0.0,
        "ratio",
    )
    return table, errors

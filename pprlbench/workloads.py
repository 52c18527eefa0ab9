"""Workload definitions and the passes the benchmark times.

Each workload is generated from a seed by
``sources.fixtures.spark_party_records_distributed`` (voter-roll-like
names, 25% overlap, 5% one-character typos on the B side) and run through
the package's public functions only; nothing here reaches into the
package's internals.

Two pass shapes exist per workload:

* the end-to-end pass is what a user runs: ``run_pipeline`` for the
  reference-set workloads, and the HLSH chain of
  ``__spark_entry__._q_pprl_hlsh_matches`` plus clustering and metrics
  for ``link_hlsh``;
* the traced pass calls the same layer functions in pipeline order, tags
  each call with a Spark job group named after the layer, and forces the
  layer's output (local checkpoint + count) inside the layer's span, so a
  span covers only its own layer's execution.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scalable_blocking_for_privacy_preserving_record_linkage_spark.config import PPRLConfig
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators import (
    blocking,
    classify,
    clustering,
    hlsh,
    matching,
    window,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.operators.evaluate import (
    LinkageMetrics,
    evaluate,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.plans.pipeline import (
    run_pipeline,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources import (
    extract,
    fixtures,
)
from scalable_blocking_for_privacy_preserving_record_linkage_spark.sources.io import (
    ensure_parallelism,
)

# pipeline order; "driver" (traced-pass wall no layer span covers) is
# derived from the spans, not a layer of its own
LAYERS = (
    "extract",
    "classify",
    "blocking",
    "window",
    "matching.encode",
    "matching.dice",
    "hlsh",
    "clustering",
    "evaluate",
)

# candidate pairs re-scored on the driver per pass, besides every match
UNMATCHED_SAMPLE = 200


@dataclass(frozen=True)
class Workload:
    name: str
    n_per_party: int
    cfg: PPRLConfig
    # "reference_sets": classify -> block -> window (run_pipeline);
    # "hlsh": Hamming-LSH over sparse CLKs, bypassing those three layers
    blocking: str
    ref_sizes: tuple[int, int, int]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "link_pairs",
            n_per_party=1_000,
            cfg=PPRLConfig(rs_size_override=20, window_size=10, matching_threshold=0.6),
            blocking="reference_sets",
            ref_sizes=(10_000, 5_000, 1_500),
        ),
        Workload(
            "link_records",
            n_per_party=5_000,
            cfg=PPRLConfig(
                rs_size_override=10_000, window_size=2, matching_threshold=0.6
            ),
            blocking="reference_sets",
            ref_sizes=(100_000, 50_000, 15_000),
        ),
        Workload(
            "link_hlsh",
            n_per_party=1_000,
            cfg=PPRLConfig(matching_threshold=0.6, bloom_representation="sparse"),
            blocking="hlsh",
            ref_sizes=(10_000, 5_000, 1_500),
        ),
    )
}


@dataclass
class Inputs:
    records: DataFrame  # (id, surname, name, city, party), materialized
    reference: DataFrame  # (col1, col2, col3), materialized
    # driver copies, for the checks and the fingerprint:
    # (id, party, surname, name, city) and (col1, col2, col3)
    record_rows: list
    reference_rows: list


def make_inputs(spark: SparkSession, wl: Workload, seed: int) -> Inputs:
    records, reference = fixtures.spark_party_records_distributed(
        spark,
        wl.n_per_party,
        overlap=0.25,
        typo_rate=0.05,
        seed=seed,
        ref_sizes=wl.ref_sizes,
    )
    records = records.localCheckpoint()
    reference = reference.localCheckpoint()
    return Inputs(
        records=records,
        reference=reference,
        record_rows=[tuple(r) for r in records.select("id", "party", "surname", "name", "city").collect()],
        reference_rows=[tuple(r) for r in reference.collect()],
    )


@dataclass
class Result:
    """DataFrames of one pass; all materialized when the pass returns."""

    candidates: DataFrame
    matches: DataFrame
    components: DataFrame
    metrics: LinkageMetrics


@dataclass
class PassOutput:
    """Driver copies of a pass's output, for the checks."""

    matches: list  # (record1, record2, matched_fields)
    components: list  # (node, component)
    unmatched_sample: list  # (record1, record2) candidates not matched
    metrics: LinkageMetrics

    def counts(self) -> tuple[int, int, int]:
        return (
            self.metrics.n_candidates,
            len(self.matches),
            len({c for _, c in self.components}),
        )


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: str | None


class NoTrace:
    """Tracer stand-in for end-to-end passes: adds no job and no timing."""

    @contextmanager
    def span(self, name: str):
        yield

    def rows(self, name: str, df: DataFrame) -> None:
        pass

    def record(self, name: str, n: int) -> None:
        pass


@dataclass
class Tracer:
    """Spans and per-layer counts of one traced pass, kept in memory.

    Each layer runs under a Spark job group named after it; jobs started
    between layers fall under ``driver``."""

    spark: SparkSession
    spans: list[Span] = field(default_factory=list)
    rows_out: dict[str, int] = field(default_factory=dict)
    # frames counted only after the traced pass, so that no span pays
    # for a count that exists only to form a ratio
    deferred: dict[str, DataFrame] = field(default_factory=dict)

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, start, time.time(), "traced_pass"))
            sc.setJobGroup("driver", "driver")

    def rows(self, name: str, df: DataFrame) -> None:
        self.rows_out[name] = df.count()

    def record(self, name: str, n: int) -> None:
        self.rows_out[name] = n


def e2e_pass(spark: SparkSession, wl: Workload, inp: Inputs) -> Result:
    """One end-to-end pass, returning only when every output is forced."""
    if wl.blocking == "hlsh":
        return _hlsh_pass(spark, wl, inp, NoTrace())
    res = run_pipeline(
        spark, inp.records, inp.reference, wl.cfg, with_clusters=True, with_metrics=True
    )
    # run_pipeline checkpoints candidates and matches and computes the
    # metrics eagerly; the components are the one lazy output
    res.components.count()
    return Result(res.candidates, res.matches, res.components, res.metrics)


def traced_pass(spark: SparkSession, wl: Workload, inp: Inputs, tr: Tracer) -> Result:
    if wl.blocking == "hlsh":
        return _hlsh_pass(spark, wl, inp, tr)
    return _reference_set_pass_traced(spark, wl, inp, tr)


def _party_counts(normalized: DataFrame) -> tuple[int, int]:
    counts = {r["party"]: r["count"] for r in normalized.groupBy("party").count().collect()}
    return counts.get("A", 0), counts.get("B", 0)


def _evaluate(normalized, matches, candidates, n_a, n_b) -> LinkageMetrics:
    # expected matches = ids present on both sides, as run_pipeline counts them
    a_ids = normalized.where("party = 'A'").select("id")
    b_ids = normalized.where("party = 'B'").select("id")
    expected = a_ids.intersect(b_ids).count()
    return evaluate(matches, candidates, n_a, n_b, expected)


def _reference_set_pass_traced(spark, wl, inp, tr) -> Result:
    """run_pipeline's stage sequence, one forced layer at a time."""
    cfg = wl.cfg
    with tr.span("extract"):
        # run_pipeline caches this frame; a local checkpoint keeps the
        # same single computation without leaving cache state behind
        normalized = ensure_parallelism(
            extract.normalize_records(inp.records, cfg)
        ).localCheckpoint()
        n_a, n_b = _party_counts(normalized)
        tr.record("extract", n_a + n_b)
    with tr.span("classify"):
        samples = classify.build_reference_samples(inp.reference, cfg, max(n_a, n_b))
        classified = classify.classify_wide(spark, normalized, samples, cfg).localCheckpoint()
        tr.rows("classify", classified)
    with tr.span("blocking"):
        elements = blocking.purge_blocks(
            blocking.block_ids_from_arrays(classified, cfg), cfg
        ).localCheckpoint()
        tr.rows("blocking", elements)
    with tr.span("window"):
        candidates = window.candidate_pairs(elements, cfg).localCheckpoint()
        tr.rows("window", candidates)
    with tr.span("matching.encode"):
        blooms = matching.encode_blooms(normalized, cfg).localCheckpoint()
        tr.rows("matching.encode", blooms)
    with tr.span("matching.dice"):
        matches = matching.match_candidates(candidates, blooms, cfg).localCheckpoint()
        tr.rows("matching.dice", matches)
    with tr.span("clustering"):
        components = clustering.connected_components(matches)
        tr.rows("clustering", components)
    with tr.span("evaluate"):
        metrics = _evaluate(normalized, matches, candidates, n_a, n_b)
        tr.record("evaluate", 1)
    # block elements before the purge, for blocking.purged_share
    tr.deferred["blocking.in"] = blocking.block_ids_from_arrays(classified, cfg)
    return Result(candidates, matches, components, metrics)


def _hlsh_pass(spark, wl, inp, tr) -> Result:
    """HLSH blocking over sparse CLKs (the shape of the
    ``pprl_hlsh_matches`` query), then clustering and metrics. Candidates
    and matches are local-checkpointed as run_pipeline does, because
    Dice, clustering and evaluate each consume them."""
    cfg = wl.cfg
    with tr.span("extract"):
        normalized = ensure_parallelism(extract.normalize_records(inp.records, cfg))
        n_a, n_b = _party_counts(normalized)
        tr.record("extract", n_a + n_b)
    with tr.span("matching.encode"):
        blooms = matching.encode_blooms(normalized, cfg).localCheckpoint()
        tr.rows("matching.encode", blooms)
    with tr.span("hlsh"):
        candidates = hlsh.hlsh_candidate_pairs(
            blooms, cfg, num_passes=8, bits_per_key=16
        ).localCheckpoint()
        tr.rows("hlsh", candidates)
    with tr.span("matching.dice"):
        matches = matching.match_candidates(candidates, blooms, cfg).localCheckpoint()
        tr.rows("matching.dice", matches)
    with tr.span("clustering"):
        components = clustering.connected_components(matches)
        tr.record("clustering", components.count())
    with tr.span("evaluate"):
        metrics = _evaluate(normalized, matches, candidates, n_a, n_b)
        tr.record("evaluate", 1)
    return Result(candidates, matches, components, metrics)


def collect_output(res: Result, seed: int) -> PassOutput:
    """Driver copies for the checks (untimed): every match, every
    component row, and a seeded sample of candidates that did not match."""
    n_cand = max(res.metrics.n_candidates, 1)
    per_million = max(1, min(1_000_000, 2 * UNMATCHED_SAMPLE * 1_000_000 // n_cand))
    unmatched = (
        res.candidates.join(res.matches, ["record1", "record2"], "left_anti")
        .where(
            F.pmod(F.xxhash64("record1", "record2", F.lit(seed)), F.lit(1_000_000))
            < per_million
        )
        .limit(UNMATCHED_SAMPLE)
    )
    return PassOutput(
        matches=[tuple(r) for r in res.matches.select("record1", "record2", "matched_fields").collect()],
        components=[tuple(r) for r in res.components.select("node", "component").collect()],
        unmatched_sample=[tuple(r) for r in unmatched.collect()],
        metrics=res.metrics,
    )

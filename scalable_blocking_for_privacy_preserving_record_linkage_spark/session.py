"""SparkSession factory tuned for this engine.

Local-mode testing only; the settings that matter at cluster scale (AQE,
adaptive skew join, shuffle partitions, Arrow) are set here so plans seen in
tests are the plans we'd ship.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_shuffle_partitions(shuffle_partitions: int | None, cpus: str) -> int:
    """An explicit ``shuffle_partitions`` wins; otherwise one partition per
    core of ``SPARK_GRAFT_CPUS`` when that is a number, else 32."""
    if shuffle_partitions:
        return shuffle_partitions
    return int(cpus) if cpus.isdigit() else 32


def get_spark(
    app_name: str = "pprl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = default_shuffle_partitions(shuffle_partitions, cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # PPRL stages are CPU-heavy per byte (Levenshtein, q-gram hashing,
        # window kernels); the 64MB default advisory size would coalesce
        # post-shuffle partitions below the core count on slim rows
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        # same reason, one level down: AQE never cuts a partition below
        # this floor (default 1 MB), so a whole shuffle smaller than
        # 1 MB × cores collapses onto FEWER tasks than cores. The Dice
        # pair stream is exactly that: 95k deduplicated (record1, record2)
        # pairs are 1.4 MB compressed and were scored on ONE task. At 64k
        # the pair stream keeps one partition per core while the tiny
        # CC-round shuffles still coalesce to one. Measured on pprlbench
        # link_pairs (1k records/party, 4 vCPU): the Dice layer's idle-core
        # share fell from 0.78 to 0.44 and its wall from 2.4 s to 1.1 s.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # static: one pipeline pass generates more whole-stage-codegen
        # classes than the default 100-entry cache holds, so every warm
        # pass regenerated and re-JITted ~280 classes. Measured on the same
        # benchmark: 5000 entries cut the JIT's CPU per warm pass from 20-22 s
        # to 13-15 s, and removing this setting alone costs +3.7 s of an
        # 8.8 s pass (BENCH/BASELINE.md, "One warm pass").
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # caller overrides (e.g. scripts/dice_ab.py re-enables the UI to read
    # per-stage shuffle metrics from the REST API)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Session settings: shuffle-partition precedence and the AQE/codegen
confs the pipeline relies on. ``getOrCreate`` hands back the running
session, so nothing here may need a second one."""

from scalable_blocking_for_privacy_preserving_record_linkage_spark.session import (
    default_shuffle_partitions,
)


def test_explicit_shuffle_partitions_win_over_any_cpu_setting():
    assert default_shuffle_partitions(8, "16") == 8
    assert default_shuffle_partitions(8, "not-a-number") == 8


def test_shuffle_partitions_default_from_cpus():
    assert default_shuffle_partitions(None, "16") == 16
    assert default_shuffle_partitions(None, "not-a-number") == 32


def test_session_keeps_small_shuffles_parallel_and_codegen_warm(spark):
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000"

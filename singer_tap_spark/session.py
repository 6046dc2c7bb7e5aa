"""SparkSession factory tuned for the CDC workload.

Defaults chosen for correctness-vs-DuckDB comparisons (UTC session TZ) and
reference parity (ANSI explicitly OFF — Spark 4 defaults it on — so casts
null-coerce like the reference's lenient Convert, value_converter.go:47-57),
plus scale settings (AQE on, Arrow on for the vectorized decode path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "singer-tap-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to the local core count — at cluster
    scale the caller sets it to ~2-3x total executor cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic oracle comparisons: DuckDB timestamps are UTC-naive
        .config("spark.sql.session.timeZone", "UTC")
        # modern parquet timestamps (micros) instead of legacy INT96:
        # INT96 columns carry NO row-group min/max statistics, which kills
        # both predicate pushdown on ts and the driver-side footer reads
        # (tombstone-GC horizon, lake._max_ts_from_footers)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # EXPLICITLY lenient (Spark 4 defaults ANSI on): malformed casts
        # null-coerce instead of raising, matching the reference's Convert
        # semantics (value_converter.go:11-57 never errors, it coerces).
        # decode.normalize additionally uses try_cast so its semantics hold
        # even under a foreign ANSI-on session.
        .config("spark.sql.ansi.enabled", "false")
        # runtime re-planning: coalesce tiny shuffle partitions, split skewed ones
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for every pandas UDF (the only Python in the hot path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the changelog is many smallish files; don't let one task starve
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # MERGE rewrites only the touched bucket partitions of the target
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""Lake maintenance: multi-merge file accumulation + compaction rewrite
(content-preserving, per-bucket)."""

import os

from singer_tap_spark import CDCPipeline, PipelineConfig
from singer_tap_spark.changelog import generate_changelog, write_changelog
from tests.conftest import assert_frames_equal, duck, lww_oracle_sql


def _count_files(root):
    return sum(
        len([f for f in files if f.endswith(".parquet")])
        for _, _, files in os.walk(root)
    )


def test_compact_preserves_content_and_reduces_files(spark, tmp_path):
    base = str(tmp_path)
    write_changelog(generate_changelog(spark, 9000, update_frac=0.4, delete_frac=0.1),
                    f"{base}/log")
    cfg = PipelineConfig(
        changelog_path=f"{base}/log",
        target_path=f"{base}/tgt",
        lineage_path=f"{base}/lineage.json",
        n_buckets=8,
    )
    p = CDCPipeline(spark, cfg)
    p.replay(n_batches=6)  # several merges -> several file sets per bucket
    before_files = _count_files(f"{base}/tgt/data")
    before = p.lake.read().toPandas()

    after_files = p.lake.compact()
    after = p.lake.read().toPandas()
    # copy-on-write merges already rewrite whole buckets (one file set per
    # bucket), so compaction cannot grow the count; it becomes a real
    # reducer for a merge-on-read variant / multi-file writes
    assert after_files <= before_files
    assert_frames_equal(after, before, ["conv_id", "turn_idx"])
    # content still equals the oracle
    got = p.lake.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts").toPandas()
    want = duck(lww_oracle_sql(f"{base}/log/*/*.parquet"))
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])


def test_stray_staging_dir_cleaned(spark, tmp_path):
    """A staging dir left by a crashed commit must not break or pollute the
    next merge (idempotent replay covers the data; the dir is removed)."""
    import os

    base = str(tmp_path)
    write_changelog(generate_changelog(spark, 2000), f"{base}/log")
    cfg = PipelineConfig(
        changelog_path=f"{base}/log",
        target_path=f"{base}/tgt",
        lineage_path=f"{base}/lineage.json",
    )
    p = CDCPipeline(spark, cfg)
    p.replay()
    stray = f"{base}/tgt/_staging-99"
    os.makedirs(f"{stray}/_bucket=3", exist_ok=True)
    with open(f"{stray}/_bucket=3/garbage.parquet", "w") as f:
        f.write("not parquet")
    # next merge cleans the stray dir and applies normally
    batch = p._read_changelog()[0].limit(10)
    p.lake.merge(batch, batch_id=7)
    assert not os.path.exists(stray)
    got = p.lake.read().select("conv_id", "turn_idx", "text").toPandas()
    want = duck(lww_oracle_sql(f"{base}/log/*/*.parquet"))[["conv_id", "turn_idx", "text"]]
    assert_frames_equal(got, want, ["conv_id", "turn_idx"])


def test_max_records_per_file_caps_sink_files(spark, tmp_path):
    """O15 size-capped batches: every parquet file the sink writes holds at
    most the configured row count (the 1000-object batch-split analogue)."""
    import pyarrow.parquet as pq
    import os

    from singer_tap_spark import CDCPipeline, PipelineConfig
    from singer_tap_spark.changelog import generate_changelog, write_changelog

    base = str(tmp_path)
    write_changelog(generate_changelog(spark, 5000), f"{base}/log")
    cfg = PipelineConfig(
        changelog_path=f"{base}/log",
        target_path=f"{base}/tgt",
        lineage_path=f"{base}/lineage.json",
        n_buckets=4,
        max_records_per_file=200,
    )
    p = CDCPipeline(spark, cfg)
    p.replay()
    counts = []
    for root, _, files in os.walk(f"{base}/tgt/data"):
        for f in files:
            if f.endswith(".parquet"):
                counts.append(pq.ParquetFile(os.path.join(root, f)).metadata.num_rows)
    assert counts and max(counts) <= 200
    assert sum(counts) == p.lake.read().count()


def test_retained_tombstone_blocks_late_resurrection(spark, tmp_path):
    """The reason cadenced in-stream compaction must retain tombstones: a
    key deleted at ts=T then compacted away would be resurrected by a
    legitimately-late event (ts < T) in a later batch.  retain_tombstones
    keeps the guard; the terminal form documents the hazard."""
    from pyspark.sql import functions as F

    from singer_tap_spark.lake import ParquetLakeTable

    def mk(path, retain):
        lake = ParquetLakeTable(spark, path, mode="mor")
        rows = [
            ("c1", 0, "user", "hello", None, "2026-01-01 00:00:01", 1, "UPSERT"),
            ("c2", 0, "user", "other", None, "2026-01-01 00:00:01", 2, "UPSERT"),
            ("c1", 0, "user", None, None, "2026-01-01 00:00:10", 3, "DELETE"),
        ]
        batch = spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string, seq long, op string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        lake.merge(batch, 0)
        lake.compact(retain_tombstones=retain)
        late = spark.createDataFrame(
            [("c1", 0, "user", "late stale write", None,
              "2026-01-01 00:00:05", 4, "UPSERT")],
            "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts string, seq long, op string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        lake.merge(late, 1)
        return {(r["conv_id"], r["turn_idx"]) for r in lake.read().collect()}

    # retained: the ts=10 tombstone still outranks the late ts=5 upsert
    assert mk(f"{tmp_path}/keep", True) == {("c2", 0)}
    # dropped (terminal form): the documented resurrection hazard
    assert mk(f"{tmp_path}/drop", False) == {("c2", 0), ("c1", 0)}


def test_tombstone_lateness_gc(spark, tmp_path):
    """Event-time watermark GC for retained tombstones: with lateness L,
    tombstones older than max(state ts) - L drop at compaction; younger
    ones keep blocking late resurrection."""
    from pyspark.sql import functions as F

    from singer_tap_spark.lake import ParquetLakeTable

    lake = ParquetLakeTable(spark, str(tmp_path / "t"), mode="mor")
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string, seq long, op string")
    batch = spark.createDataFrame(
        [
            ("old", 0, "u", None, None, "2026-01-01 00:00:00", 1, "DELETE"),
            ("new", 0, "u", None, None, "2026-01-09 00:00:00", 2, "DELETE"),
            ("live", 0, "u", "keep me", None, "2026-01-10 00:00:00", 3, "UPSERT"),
        ],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    lake.merge(batch, 0)
    # horizon = 2026-01-10 - 7d = 2026-01-03: 'old' GC'd, 'new' retained
    lake.compact(retain_tombstones=True, tombstone_lateness="7 days")
    kept = lake.read_internal(keep_op=True).where("_op = 'DELETE'")
    assert {r["conv_id"] for r in kept.collect()} == {"new"}

    # the retained tombstone still blocks a late event; the GC'd one no
    # longer does (by design: events older than the horizon must not occur)
    late = spark.createDataFrame(
        [("new", 0, "u", "late", None, "2026-01-08 00:00:00", 4, "UPSERT")],
        schema,
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    lake.merge(late, 1)
    assert {(r["conv_id"]) for r in lake.read().select("conv_id").collect()} == {"live"}


def test_read_bucket_pruning_correct_and_scans_less(spark, tmp_path):
    """read(buckets=[...]) must equal the full resolved read restricted to
    those buckets (keys are bucket-local, so the pruned LWW resolve is
    exact) and must SCAN only those hive partitions (inputFiles
    evidence) — in both cow and mor modes."""
    from pyspark.sql import functions as F

    from singer_tap_spark.lake import ParquetLakeTable

    for mode in ("cow", "mor"):
        base = f"{tmp_path}/{mode}"
        lake = ParquetLakeTable(
            spark, base, key_cols=("conv_id", "turn_idx"),
            bucket_key="conv_id", n_buckets=8, mode=mode,
        )
        ev = generate_changelog(spark, 4000, update_frac=0.3, delete_frac=0.1)
        half = ev.where("seq < 1000")
        rest = ev.where("seq >= 1000")
        lake.merge(half, batch_id=0)
        lake.merge(rest, batch_id=1)  # mor: delta files exist too

        bks = [0, 3]
        got = lake.read(buckets=bks).orderBy("conv_id", "turn_idx").collect()
        full = lake.read().where(
            lake._bucket_expr().isin(bks)
        ).orderBy("conv_id", "turn_idx").collect()
        assert got == full and len(got) > 0, mode

        # pruning evidence: the scan carries a partition filter on the
        # bucket column (inputFiles() lists pre-pruning files, so the
        # physical plan is the honest witness)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            lake.read(buckets=bks).explain(mode="formatted")
        plan = buf.getvalue()
        assert "PartitionFilters" in plan and "_bucket" in plan.split(
            "PartitionFilters", 1)[1][:200], (mode, plan)

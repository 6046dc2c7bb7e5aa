"""Merge-on-read sink mode: O(batch) appends, LWW resolved at read,
compaction folds deltas into the base — same final state as copy-on-write."""

import os

from pyspark.sql import functions as F

from singer_tap_spark import CDCPipeline, PipelineConfig
from singer_tap_spark.changelog import generate_changelog, write_changelog
from tests.conftest import assert_frames_equal, duck, lww_oracle_sql

KEYS = ["conv_id", "turn_idx"]
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _cfg(base, **kw):
    return PipelineConfig(
        changelog_path=f"{base}/log",
        target_path=f"{base}/tgt",
        lineage_path=f"{base}/lineage.json",
        sink_mode="mor",
        **kw,
    )


def test_mor_multi_batch_matches_oracle(spark, tmp_path):
    base = str(tmp_path)
    df = generate_changelog(spark, 9000, update_frac=0.5, delete_frac=0.1, dup_frac=0.05)
    write_changelog(df, f"{base}/log")
    p = CDCPipeline(spark, _cfg(base))
    p.replay(n_batches=5)  # five appends, zero base rewrites
    assert os.path.exists(f"{base}/tgt/delta")
    assert not os.path.exists(f"{base}/tgt/data")  # nothing compacted yet
    got = p.lake.read().select(*COLS).toPandas()
    want = duck(lww_oracle_sql(f"{base}/log/*/*.parquet"))
    assert_frames_equal(got, want, KEYS)


def test_mor_compact_then_incremental(spark, tmp_path):
    base = str(tmp_path)
    df = generate_changelog(spark, 8000, update_frac=0.4, delete_frac=0.1)
    write_changelog(df.where("seq < 5000"), f"{base}/log")
    cfg = _cfg(base)
    p = CDCPipeline(spark, cfg)
    p.replay()
    p.lake.compact()  # deltas folded into base
    assert not os.path.exists(f"{base}/tgt/delta")
    assert os.path.exists(f"{base}/tgt/data")

    # new events append as fresh deltas over the compacted base
    df.where("seq >= 5000").repartition(2).write.mode("append").partitionBy(
        "shard"
    ).parquet(f"{base}/log")
    p2 = CDCPipeline(spark, cfg)
    m = p2.replay()
    assert 0 < m.total_events <= 3000
    got = p2.lake.read().select(*COLS).toPandas()
    want = duck(lww_oracle_sql(f"{base}/log/*/*.parquet"))
    assert_frames_equal(got, want, KEYS)


def test_mor_replay_idempotent(spark, tmp_path):
    """Appending the same batch twice (crash between merge and lineage)
    leaves the RESOLVED state identical — ties on (ts, _seq)."""
    base = str(tmp_path)
    write_changelog(generate_changelog(spark, 4000, delete_frac=0.1), f"{base}/log")
    p = CDCPipeline(spark, _cfg(base))
    batch = p._read_changelog()[0]
    p.apply_batch(batch, 0)
    before = p.lake.read().select(*COLS).toPandas()
    p.apply_batch(batch, 0)  # replay
    after = p.lake.read().select(*COLS).toPandas()
    assert_frames_equal(after, before, KEYS)


def test_mor_equals_cow(spark, tmp_path):
    base = str(tmp_path)
    df = generate_changelog(spark, 6000, update_frac=0.4, delete_frac=0.1)
    write_changelog(df, f"{base}/log")
    cow_cfg = PipelineConfig(
        changelog_path=f"{base}/log", target_path=f"{base}/t_cow",
        lineage_path=f"{base}/l_cow.json")
    mor_cfg = PipelineConfig(
        changelog_path=f"{base}/log", target_path=f"{base}/t_mor",
        lineage_path=f"{base}/l_mor.json", sink_mode="mor")
    pc, pm = CDCPipeline(spark, cow_cfg), CDCPipeline(spark, mor_cfg)
    pc.replay(n_batches=3)
    pm.replay(n_batches=3)
    a = pc.lake.read().select(*COLS).toPandas()
    b = pm.lake.read().select(*COLS).toPandas()
    assert_frames_equal(b, a, KEYS)


def test_cow_open_on_pending_deltas_raises(spark, tmp_path):
    """A table with pending mor deltas opened in cow mode (the CLI default)
    must fail loudly — silently reading base-only state loses writes."""
    import json

    import pytest

    from singer_tap_spark.lake import ParquetLakeTable

    base = str(tmp_path)
    write_changelog(generate_changelog(spark, 3000), f"{base}/log")
    cfg = _cfg(base)
    p = CDCPipeline(spark, cfg)
    p.replay()  # mor: deltas pending, no base

    # sink mode is persisted with the schema metadata
    with open(f"{base}/tgt/_schema.json") as f:
        assert json.load(f)["sink_mode"] == "mor"

    cow = ParquetLakeTable(spark, f"{base}/tgt", mode="cow")
    with pytest.raises(RuntimeError, match="pending merge-on-read deltas"):
        cow.read()
    with pytest.raises(RuntimeError, match="pending merge-on-read deltas"):
        cow.merge(p._read_changelog()[0].limit(10), batch_id=1)

    # compact from a mor instance resolves; cow open then works
    p.lake.compact()
    assert cow.read().count() > 0


def test_mor_streaming_matches_oracle(spark, tmp_path):
    """run_streaming with the merge-on-read sink: foreachBatch appends
    O(batch) deltas, the read resolves LWW — final state equals the DuckDB
    naive-LWW oracle (r3: streaming no longer carries the state-store dedup,
    so exact replays in the log must die in the read-time LWW here)."""
    base = str(tmp_path)
    df = generate_changelog(spark, 9000, update_frac=0.5, delete_frac=0.1,
                            dup_frac=0.08)
    write_changelog(df, f"{base}/log")
    p = CDCPipeline(spark, _cfg(base, checkpoint_dir=f"{base}/ckpt"))
    p.run_streaming(available_now=True)
    got = p.lake.read().select(*COLS).toPandas()
    want = duck(lww_oracle_sql(f"{base}/log/*/*.parquet"))
    assert_frames_equal(got, want[COLS], KEYS)


def test_mor_streaming_cadenced_sink_compaction(spark, tmp_path):
    """sink_compact_every: a many-microbatch stream leaves a BOUNDED delta
    backlog (deltas fold into the base every cadence) and the same final
    table as an uncompacted twin run over the identical log."""
    import glob

    base = str(tmp_path)
    df = generate_changelog(spark, 9000, update_frac=0.5, delete_frac=0.1)
    write_changelog(df, f"{base}/log")

    def run(tgt, ckpt, every):
        cfg = PipelineConfig(
            changelog_path=f"{base}/log", target_path=f"{base}/{tgt}",
            lineage_path=f"{base}/{tgt}.lineage.json", sink_mode="mor",
            checkpoint_dir=f"{base}/{ckpt}",
            max_files_per_trigger=2,  # force several microbatches
            sink_compact_every=every,
        )
        p = CDCPipeline(spark, cfg)
        p.run_streaming(available_now=True)
        return p

    pc = run("tgt_c", "ck_c", 2)
    pu = run("tgt_u", "ck_u", 0)
    assert len(pc.metrics.batches) >= 4  # cadence exercised at least twice

    def delta_files(tgt):
        return len(glob.glob(f"{base}/{tgt}/delta/_bucket=*/*.parquet"))

    # uncompacted twin accumulates O(batches) delta sets; the cadenced run
    # holds at most the post-cadence remainder
    assert delta_files("tgt_u") > 0
    assert delta_files("tgt_c") < delta_files("tgt_u")

    got = pc.lake.read().select(*COLS).toPandas()
    want = pu.lake.read().select(*COLS).toPandas()
    assert_frames_equal(got, want, KEYS)
    oracle = duck(lww_oracle_sql(f"{base}/log/*/*.parquet"))
    assert_frames_equal(got, oracle[COLS], KEYS)


def test_cow_rows_after_incremental_bookkeeping(spark, tmp_path):
    """merge()'s rows_after is maintained INCREMENTALLY (r6): one full
    footer sweep per session, then footer-counts of only the swapped
    buckets — a streaming sink at a 100-TB table must not pay an
    O(all files) driver metadata pass per microbatch for a metrics field.
    The cached number must stay exactly equal to the table count across
    merges, deletes, replays (LWW tie), and a cold-cache reopen."""
    from singer_tap_spark.lake import ParquetLakeTable

    t = ParquetLakeTable(
        spark, str(tmp_path / "t"),
        key_cols=("conv_id", "turn_idx"), bucket_key="conv_id", n_buckets=8,
    )
    log = generate_changelog(spark, 6000, delete_frac=0.15, update_frac=0.4)
    b1, b2 = log.where("seq < 3000"), log.where("seq >= 3000")
    s1 = t.merge(b1, batch_id=0)
    assert s1.rows_after == t.read().count()
    s2 = t.merge(b2, batch_id=1)
    assert s2.rows_after == t.read().count()
    s3 = t.merge(b2, batch_id=1)  # replay: state identical, count stable
    assert s3.rows_after == s2.rows_after
    # cold cache (fresh instance): one-key merge re-seeds and stays exact
    t2 = ParquetLakeTable(
        spark, str(tmp_path / "t"),
        key_cols=("conv_id", "turn_idx"), bucket_key="conv_id", n_buckets=8,
    )
    s4 = t2.merge(b2.limit(1), batch_id=2)
    assert s4.rows_after == t2.read().count()

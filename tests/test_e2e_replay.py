"""End-to-end replay scenarios (FIXTURES.md §7) — engine vs DuckDB naive-LWW
oracle; per-turn text equality under stable turn ordering (BASELINE.json)."""

import shutil

import pytest
from pyspark.sql import functions as F

from singer_tap_spark import CDCPipeline, PipelineConfig
from singer_tap_spark.changelog import generate_changelog, write_changelog
from tests.conftest import assert_frames_equal, duck, lww_oracle_sql

KEYS = ["conv_id", "turn_idx"]


def _setup(spark, tmp_path, n=12000, **knobs):
    base = str(tmp_path)
    df = generate_changelog(spark, n, **knobs)
    write_changelog(df, f"{base}/log")
    cfg = PipelineConfig(
        changelog_path=f"{base}/log",
        target_path=f"{base}/tgt",
        lineage_path=f"{base}/lineage.json",
        checkpoint_dir=f"{base}/ckpt",
    )
    return cfg, f"{base}/log/*/*.parquet"


def _check(pipeline, log_glob):
    got = pipeline.lake.read().select("conv_id", "turn_idx", "role", "text", "tool", "ts").toPandas()
    want = duck(lww_oracle_sql(log_glob))
    assert_frames_equal(got, want, KEYS)


def test_happy_replay_inserts_only(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, n=5000, update_frac=0.0, delete_frac=0.0)
    p = CDCPipeline(spark, cfg)
    p.replay()
    _check(p, glob)


def test_update_wins_out_of_order(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, update_frac=0.6, ooo_frac=0.4)
    p = CDCPipeline(spark, cfg)
    p.replay()
    _check(p, glob)


def test_delete_and_reinsert(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, delete_frac=0.25, update_frac=0.4)
    p = CDCPipeline(spark, cfg)
    p.replay()
    _check(p, glob)


def test_duplicate_replay_idempotent(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, dup_frac=0.15, delete_frac=0.1)
    p = CDCPipeline(spark, cfg)
    p.replay()
    _check(p, glob)


def test_multi_batch_equals_single(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, delete_frac=0.1, dup_frac=0.05)
    p = CDCPipeline(spark, cfg)
    p.replay(n_batches=5)
    _check(p, glob)
    assert len(p.metrics.batches) >= 2


def test_rerun_with_no_new_data_is_noop(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, n=4000)
    CDCPipeline(spark, cfg).replay()
    p2 = CDCPipeline(spark, cfg)
    m = p2.replay()
    assert m.total_events == 0  # resume filter saw nothing new
    _check(p2, glob)


def test_whole_batch_replay_is_noop(spark, tmp_path):
    """Crash between MERGE and lineage write -> batch replays; the (ts, seq)
    guard makes the second application a no-op (§2.3 #2/#3)."""
    cfg, glob = _setup(spark, tmp_path, n=6000, delete_frac=0.1)
    p = CDCPipeline(spark, cfg)
    batch = p._read_changelog()[0]
    p.apply_batch(batch, 0)
    before = p.lake.read().toPandas()
    p.apply_batch(batch, 0)  # replay the whole batch
    after = p.lake.read().toPandas()
    assert_frames_equal(after, before, KEYS)
    _check(p, glob)


def test_full_table_mode_rebuilds(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, n=4000)
    p = CDCPipeline(spark, cfg)
    p.replay()
    # FULL_TABLE ignores saved lineage and re-applies everything (sync.go:81-83)
    cfg2 = PipelineConfig(**{**cfg.__dict__, "replication_method": "FULL_TABLE"})
    p2 = CDCPipeline(spark, cfg2)
    m = p2.replay()
    assert m.total_events > 0
    _check(p2, glob)


def test_skewed_hot_conversation(spark, tmp_path):
    cfg, glob = _setup(spark, tmp_path, n=15000, hot_conv_frac=0.5, update_frac=0.5)
    p = CDCPipeline(spark, cfg)
    p.replay()
    _check(p, glob)

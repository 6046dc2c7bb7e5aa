"""Dead-letter queue (quarantine) for the jsonl/payload wire.

The reference ABORTS the entire run when one stdin line fails to parse
(http-tap/main.go:59-61) or carries an unknown message type (:125).  At
10^10 events that turns one corrupt record into a dead pipeline, so the
engine quarantines instead: undecodable lines land under ``rejects_path``
as (value, reason) parquet, good rows flow, SCHEMA/STATE control lines and
blank lines belong to neither side, and ``decode_errors='fail'`` restores
the reference's semantics.  Both write paths are idempotent (batch:
whole-dir overwrite; streaming: per-microbatch ``batch=N`` overwrite,
rejects committed BEFORE the merge)."""

import json
import os

import pytest

from singer_tap_spark import CDCPipeline, PipelineConfig

KEYS = ["conv_id", "turn_idx"]


def _line(seq, conv="c1", turn=0, op="UPSERT"):
    return json.dumps(
        {
            "shard": "shard-0",
            "offset": seq,
            "seq": seq,
            "op": op,
            "ts": f"2026-01-01T00:00:{seq:02d}.000Z",
            "conv_id": conv,
            "turn_idx": turn,
            "role": "user",
            "text": f"t{seq}",
            "tool": None,
            "schema_version": 1,
        }
    )


GOOD = [
    _line(1, "c1", 0),
    _line(2, "c1", 1),
    _line(3, "c2", 0),
    # full Singer RECORD envelope form on the same stream
    json.dumps(
        {
            "type": "RECORD",
            "stream": "transcripts",
            "record": json.loads(_line(4, "c2", 1)),
        }
    ),
]
CONTROL = [
    json.dumps({"type": "SCHEMA", "stream": "transcripts",
                "schema": {"properties": {"conv_id": {"type": ["null", "string"]}}}}),
    json.dumps({"type": "STATE", "value": {}}),
    "",
    "   ",
    "\t\t",   # tab-only: blank under \s, not a parse failure
    "\r",     # bare CR from a CRLF-terminated log
]
BAD = [
    '{"shard": "shard-0", "offset": 9, not json at all',        # parse fail
    json.dumps({"type": "ACTIVATE_VERSION", "stream": "x"}),     # unknown type
    json.dumps({"shard": "shard-0", "offset": 9, "op": "UPSERT",
                "conv_id": "c9", "turn_idx": 0}),                # no seq
]
EXPECT_REASONS = {
    "json_parse_failed": 1,
    "unknown_message_type": 1,
    "missing_required_field": 1,
}


def _write_log(base):
    os.makedirs(f"{base}/log", exist_ok=True)
    with open(f"{base}/log/part-0.jsonl", "w") as f:
        f.write("\n".join(GOOD + CONTROL + BAD) + "\n")


def _cfg(base, **kw):
    return PipelineConfig(
        changelog_path=f"{base}/log",
        target_path=f"{base}/tgt",
        lineage_path=f"{base}/lin.json",
        checkpoint_dir=f"{base}/ckpt",
        changelog_format="jsonl",
        **kw,
    )


def _reasons(spark, path):
    rows = spark.read.parquet(path).groupBy("reason").count().collect()
    return {r["reason"]: r["count"] for r in rows}


def test_batch_quarantine_and_idempotence(spark, tmp_path):
    base = str(tmp_path)
    _write_log(base)
    cfg = _cfg(base, rejects_path=f"{base}/rejects")
    CDCPipeline(spark, cfg).replay()

    # good rows all applied (3 bare + 1 RECORD envelope)
    tgt = spark.read.parquet(f"{base}/tgt")
    assert tgt.select(*KEYS).distinct().count() == 4
    # the three bad lines quarantined with the right reasons; control lines
    # and blanks in neither output
    assert _reasons(spark, f"{base}/rejects") == EXPECT_REASONS

    # FULL_TABLE re-run: quarantine is a deterministic function of the log —
    # overwrite, not append (no duplicate rejects), target unchanged
    cfg2 = _cfg(base, rejects_path=f"{base}/rejects",
                replication_method="FULL_TABLE")
    CDCPipeline(spark, cfg2).replay()
    assert _reasons(spark, f"{base}/rejects") == EXPECT_REASONS
    assert spark.read.parquet(f"{base}/tgt").select(*KEYS).distinct().count() == 4


def test_decode_errors_fail_matches_reference_abort(spark, tmp_path):
    base = str(tmp_path)
    _write_log(base)
    with pytest.raises(ValueError, match="undecodable change record"):
        CDCPipeline(spark, _cfg(base, decode_errors="fail")).replay()
    # rejects_path set too: the line is quarantined BEFORE the abort
    cfg = _cfg(base, rejects_path=f"{base}/rej2", decode_errors="fail")
    cfg.target_path = f"{base}/tgt2"
    cfg.lineage_path = f"{base}/lin2.json"
    with pytest.raises(ValueError, match="undecodable change record"):
        CDCPipeline(spark, cfg).replay()
    assert sum(_reasons(spark, f"{base}/rej2").values()) == 3


def test_clean_log_quarantine_writes_empty_not_missing(spark, tmp_path):
    """A fully-clean log still materializes the (empty) quarantine dir, so
    downstream auditing can distinguish 'no rejects' from 'not enabled'."""
    base = str(tmp_path)
    os.makedirs(f"{base}/log")
    with open(f"{base}/log/part-0.jsonl", "w") as f:
        f.write("\n".join(GOOD) + "\n")
    CDCPipeline(spark, _cfg(base, rejects_path=f"{base}/rejects")).replay()
    assert spark.read.parquet(f"{base}/rejects").count() == 0


def test_streaming_quarantine_and_forced_replay(spark, tmp_path):
    """Streaming path: rejects land in batch=N BEFORE the merge; a forced
    checkpoint replay rewrites the partition byte-identically (no dupes)
    and the table matches the batch path."""
    base = str(tmp_path)
    _write_log(base)
    cfg = _cfg(base, rejects_path=f"{base}/rejects")
    p = CDCPipeline(spark, cfg)
    p.run_streaming(available_now=True)

    tgt = spark.read.parquet(f"{base}/tgt")
    assert tgt.select(*KEYS).distinct().count() == 4
    assert _reasons(spark, f"{base}/rejects") == EXPECT_REASONS
    parts = [e for e in os.listdir(f"{base}/rejects") if e.startswith("batch=")]
    assert parts  # partitioned per microbatch

    # forced replay of the last committed microbatch (crash window)
    commits = sorted(
        c for c in os.listdir(f"{base}/ckpt/commits") if not c.startswith(".")
    )
    last = commits[-1]
    os.remove(f"{base}/ckpt/commits/{last}")
    crc = f"{base}/ckpt/commits/.{last}.crc"  # hadoop local-fs sidecar
    if os.path.exists(crc):
        os.remove(crc)
    CDCPipeline(spark, cfg).run_streaming(available_now=True)
    assert _reasons(spark, f"{base}/rejects") == EXPECT_REASONS
    assert spark.read.parquet(f"{base}/tgt").select(*KEYS).distinct().count() == 4


def test_quarantine_off_keeps_r3_skip_semantics(spark, tmp_path):
    """Default config (no rejects_path): bad lines silently skipped, good
    rows applied — the pre-DLQ behavior, unchanged."""
    base = str(tmp_path)
    _write_log(base)
    CDCPipeline(spark, _cfg(base)).replay()
    assert spark.read.parquet(f"{base}/tgt").select(*KEYS).distinct().count() == 4
    assert not os.path.exists(f"{base}/rejects")


def test_delta_feed_quarantine(spark, tmp_path):
    """DLQ parity on the delta-feed head: bad lines
    quarantined per batch, good rows emitted as feed events."""
    base = str(tmp_path)
    _write_log(base)
    cfg = _cfg(base, rejects_path=f"{base}/rejects")
    p = CDCPipeline(spark, cfg)
    p.run_delta_feed(f"{base}/feed", available_now=True)
    assert _reasons(spark, f"{base}/rejects") == EXPECT_REASONS
    feed = spark.read.parquet(f"{base}/feed")
    assert feed.select("conv_id", "turn_idx").distinct().count() == 4


def test_quarantine_with_self_describing_wire(spark, tmp_path):
    """DLQ composes with jsonl_schema='from_schema_messages': the record
    schema folds from the log's own SCHEMA lines, and the quarantine logic
    still classifies against it."""
    base = str(tmp_path)
    schema_line = json.dumps({
        "type": "SCHEMA", "stream": "transcripts",
        "schema": {"properties": {
            "shard": {"type": ["null", "string"]},
            "offset": {"type": ["null", "integer"]},
            "seq": {"type": ["null", "integer"]},
            "op": {"type": ["null", "string"]},
            "ts": {"type": ["null", "string"], "format": "date-time"},
            "conv_id": {"type": ["null", "string"]},
            "turn_idx": {"type": ["null", "integer"]},
            "role": {"type": ["null", "string"]},
            "text": {"type": ["null", "string"]},
            "tool": {"type": ["null", "string"]},
            "schema_version": {"type": ["null", "integer"]},
        }},
    })
    os.makedirs(f"{base}/log")
    with open(f"{base}/log/part-0.jsonl", "w") as f:
        f.write("\n".join([schema_line] + GOOD + BAD) + "\n")
    cfg = _cfg(base, rejects_path=f"{base}/rejects",
               jsonl_schema="from_schema_messages")
    CDCPipeline(spark, cfg).replay()
    assert _reasons(spark, f"{base}/rejects") == EXPECT_REASONS
    assert spark.read.parquet(f"{base}/tgt").select(*KEYS).distinct().count() == 4


def test_reject_counts_in_metrics(spark, tmp_path):
    """Per-batch observability: n_rejects lands in BatchMetrics (footer
    metadata read, no extra job) on batch, streaming, and feed paths."""
    base = str(tmp_path)
    _write_log(base)
    m = CDCPipeline(spark, _cfg(base, rejects_path=f"{base}/rejects")).replay()
    assert m.batches[0].n_rejects == 3
    assert '"n_rejects": 3' in m.to_json()

    cfg_s = _cfg(base, rejects_path=f"{base}/rej_s")
    cfg_s.target_path = f"{base}/tgt_s"
    cfg_s.lineage_path = f"{base}/lin_s.json"
    cfg_s.checkpoint_dir = f"{base}/ck_s"
    m2 = CDCPipeline(spark, cfg_s).run_streaming(available_now=True)
    assert sum(b.n_rejects for b in m2.batches if b.n_rejects >= 0) == 3

    # off: stays -1 (not tracked)
    cfg_u = _cfg(base)
    cfg_u.target_path = f"{base}/tgt_u"
    cfg_u.lineage_path = f"{base}/lin_u.json"
    cfg_u.checkpoint_dir = f"{base}/ck_u"
    m3 = CDCPipeline(spark, cfg_u).run_streaming(available_now=True)
    assert all(b.n_rejects == -1 for b in m3.batches)


def test_all_rejects_batch_metrics_not_lost(spark, tmp_path):
    """A batch where EVERY line is undecodable still records its reject
    count (and the count never leaks to a later batch)."""
    base = str(tmp_path)
    os.makedirs(f"{base}/log")
    with open(f"{base}/log/part-0.jsonl", "w") as f:
        f.write("\n".join(BAD) + "\n")
    m = CDCPipeline(spark, _cfg(base, rejects_path=f"{base}/rejects")).replay()
    assert len(m.batches) == 1
    assert m.batches[0].events == 0 and m.batches[0].n_rejects == 3


def test_reprocess_rejects_after_schema_fix(spark, tmp_path):
    """The DLQ drain workflow: lines missing `seq` quarantine under the
    default wire schema; after the 'fix' (a wire schema whose seq maps
    from an alternate field — here we just re-supply good lines), the
    still-bad remain and the now-good rows merge idempotently."""
    from pyspark.sql import functions as F

    base = str(tmp_path)
    _write_log(base)
    cfg = _cfg(base, rejects_path=f"{base}/rejects")
    p = CDCPipeline(spark, cfg)
    p.replay()
    assert sum(_reasons(spark, f"{base}/rejects").values()) == 3

    # cow default refuses (historical replay can resurrect deleted keys)
    with pytest.raises(ValueError, match="resurrected"):
        CDCPipeline(spark, cfg).reprocess_rejects()

    # nothing fixed yet: reprocess applies 0 rows, quarantine unchanged
    bm = CDCPipeline(spark, cfg).reprocess_rejects(allow_cow=True)
    assert bm is None or bm.events == 0
    assert sum(_reasons(spark, f"{base}/rejects").values()) == 3

    # simulate the upstream fix: rewrite the quarantine so the
    # missing_required_field line now carries seq (the other two stay bad)
    rej = spark.read.parquet(f"{base}/rejects").collect()
    fixed_rows = []
    for r in rej:
        v = r["value"]
        if r["reason"] == "missing_required_field":
            doc = json.loads(v)
            doc["seq"] = 99
            doc["ts"] = "2026-01-01T00:01:39.000Z"
            v = json.dumps(doc)
        fixed_rows.append((v, r["reason"]))
    import shutil

    shutil.rmtree(f"{base}/rejects")
    spark.createDataFrame(fixed_rows, "value string, reason string") \
        .write.parquet(f"{base}/rejects")

    bm2 = CDCPipeline(spark, cfg).reprocess_rejects(allow_cow=True)
    assert bm2 is not None and bm2.events == 1
    assert bm2.n_rejects == 2  # residual quarantine
    assert sum(_reasons(spark, f"{base}/rejects").values()) == 2
    tgt = spark.read.parquet(f"{base}/tgt")
    assert tgt.where("conv_id = 'c9'").count() == 1  # fixed row merged

    # idempotent: drain again — nothing applies, residual unchanged
    bm3 = CDCPipeline(spark, cfg).reprocess_rejects(allow_cow=True)
    assert bm3 is None or bm3.events == 0
    assert sum(_reasons(spark, f"{base}/rejects").values()) == 2


def test_reprocess_old_residue_not_duplicated(spark, tmp_path):
    """Crash between rename(stage, rp) and rmtree(old): rp already holds
    the residue AND _old holds the original lines (incl. that residue).
    The recovery union must DEDUP the raw lines — without it every
    still-bad line doubles in the rewritten quarantine on each such
    drain, permanently inflating n_rejects."""
    base = str(tmp_path)
    _write_log(base)
    cfg = _cfg(base, rejects_path=f"{base}/rejects", sink_mode="mor")
    CDCPipeline(spark, cfg).replay()
    assert sum(_reasons(spark, f"{base}/rejects").values()) == 3
    # simulate the crash point: _old = a full copy of the quarantine
    import shutil

    shutil.copytree(f"{base}/rejects", f"{base}/rejects_old")
    bm = CDCPipeline(spark, cfg).reprocess_rejects()
    assert bm is not None and bm.n_rejects == 3  # not 6
    assert sum(_reasons(spark, f"{base}/rejects").values()) == 3
    assert not os.path.exists(f"{base}/rejects_old")


def test_reprocess_old_dir_union_recovery(spark, tmp_path):
    """A crash between the drain's swap renames leaves <rp>_old; even if a
    normal sync recreates the rejects dir meanwhile, the next drain UNIONS
    _old back in — quarantined lines are never silently lost."""
    base = str(tmp_path)
    _write_log(base)
    cfg = _cfg(base, rejects_path=f"{base}/rejects", sink_mode="mor")
    CDCPipeline(spark, cfg).replay()
    # simulate the crash window: quarantine moved aside, rp recreated by a
    # later sync with only a fresh subset
    import shutil

    os.rename(f"{base}/rejects", f"{base}/rejects_old")
    spark.createDataFrame(
        [('{fresh-garbage', 'json_parse_failed')], "value string, reason string"
    ).write.parquet(f"{base}/rejects")

    bm = CDCPipeline(spark, cfg).reprocess_rejects()
    # all 3 original still-bad lines + the fresh one survive the drain
    assert bm is not None and bm.n_rejects == 4
    assert sum(_reasons(spark, f"{base}/rejects").values()) == 4
    assert not os.path.exists(f"{base}/rejects_old")

    # empty-queue contract: drain everything bad away manually -> None
    shutil.rmtree(f"{base}/rejects")
    spark.createDataFrame([], "value string, reason string").write.parquet(
        f"{base}/rejects"
    )
    assert CDCPipeline(spark, cfg).reprocess_rejects() is None

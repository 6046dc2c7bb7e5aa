#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line for the driver.

Runs the headline operators at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``, plus the end-to-end
CDC replay throughput on a deterministic synthetic change log sized to the
scale factor (the BASELINE.json headline metric: change-events/sec applied).

Output: {"metric": ..., "value": total_sec, "unit": "sec",
         "queries": {name: sec, ...}, "sf": ...,
         "cdc_events_per_sec": ..., "sink_path": "parquet-cow"}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = 0.1

    from singer_tap_spark import CDCPipeline, PipelineConfig, get_spark
    from singer_tap_spark.changelog import generate_changelog, write_changelog
    import __spark_entry__ as entry_mod

    spark = get_spark("bench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        # best-of-2: first pass compiles the plan (JIT/codegen noise swings
        # one-shots ±30% on this host), second measures the engine
        best = None
        for _ in range(2):
            t0 = time.monotonic()
            fn()
            s = time.monotonic() - t0
            best = s if best is None else min(best, s)
        queries[name] = round(best, 3)

    def force(df) -> None:
        # full-evaluation collapse: hash EVERY output column into one
        # bit_xor aggregate.  A bare .count() lets Catalyst prune all
        # unreferenced projections — pure-projection entries were timing a
        # parquet row count, not the operator (VERDICT r2 #2).  bit_xor,
        # not sum: session-independent under ANSI overflow rules.
        from pyspark.sql import functions as F

        df.agg(F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()

    # --- end-to-end CDC replay (the headline): events scaled to sf ---------
    n_events = max(100_000, int(sf * 20_000_000))
    base = "/tmp/stsp_bench"
    shutil.rmtree(base, ignore_errors=True)
    log = generate_changelog(
        spark, n_events, update_frac=0.3, delete_frac=0.05,
        dup_frac=0.02, hot_conv_frac=0.1, n_shards=8,
    )
    write_changelog(log, f"{base}/log", n_files_per_shard=max(4, cpus // 4))
    # best-of-2 with fresh targets: rep 1 compiles the plan (one-shot
    # timings on this host mix in 3-10 s of JIT/codegen — BENCH/BASELINE.md
    # notes); rep 2 measures the engine
    replay_s = None
    for rep in range(2):
        cfg = PipelineConfig(
            changelog_path=f"{base}/log",
            target_path=f"{base}/tgt{rep}",
            lineage_path=f"{base}/lineage{rep}.json",
            n_buckets=32,
        )
        pipe = CDCPipeline(spark, cfg)
        t0 = time.monotonic()
        pipe.replay()
        s = time.monotonic() - t0
        replay_s = s if replay_s is None else min(replay_s, s)
    queries["cdc_replay"] = round(replay_s, 3)
    events_per_sec = round(n_events / replay_s, 1)

    # the same log through the Structured Streaming path (AvailableNow +
    # watermarked dedup + foreachBatch merge) into a fresh target
    # three reps: the streaming plan (state store + watermark dedup +
    # foreachBatch) JIT-converges slower than the batch path
    stream_s = None
    for rep in range(3):
        cfg_s = PipelineConfig(
            changelog_path=f"{base}/log",
            target_path=f"{base}/tgt_s{rep}",
            lineage_path=f"{base}/lineage_s{rep}.json",
            checkpoint_dir=f"{base}/ckpt_s{rep}",
            n_buckets=32,
        )
        t0 = time.monotonic()
        CDCPipeline(spark, cfg_s).run_streaming(available_now=True)
        s = time.monotonic() - t0
        stream_s = s if stream_s is None else min(stream_s, s)
    queries["cdc_replay_streaming"] = round(stream_s, 3)
    streaming_events_per_sec = round(n_events / stream_s, 1)

    # the delta-feed head (JVM keyed-state impl): per-key UPSERT/DELETE
    # change feed instead of a materialized table
    feed_s = None
    for rep in range(2):
        cfg_f = PipelineConfig(
            changelog_path=f"{base}/log",
            target_path=f"{base}/tgt_f{rep}",
            lineage_path=f"{base}/lineage_f{rep}.json",
            checkpoint_dir=f"{base}/ckpt_f{rep}",
            n_buckets=32,
        )
        t0 = time.monotonic()
        CDCPipeline(spark, cfg_f).run_delta_feed(
            f"{base}/feed{rep}", available_now=True
        )
        s = time.monotonic() - t0
        feed_s = s if feed_s is None else min(feed_s, s)
    queries["cdc_delta_feed"] = round(feed_s, 3)
    feed_events_per_sec = round(n_events / feed_s, 1)

    # --- operator queries at the sf dir -------------------------------------
    Q = entry_mod.queries()
    for name in [
        "lww_latest_per_key",
        "merge_final_state",
        "dedup_exact_replay",
        "type_normalization",
        "docs_quality_score",
        "docs_quality_gate",
        "docs_lang_id",
        "docs_fingerprint",
        "docs_exact_dedup",
        "docs_ngram_jaccard",
        "docs_dup_clusters",
        "docs_cluster_best",
        "docs_dup_incremental",
        "docs_dup_clusters_incremental",
        "docs_redact",
        "docs_normalize",
        "docs_boilerplate",
        "media_image_dims",
        "media_video_meta",
        "docs_stats",
        "docs_preprocess",
        "docs_eval_sample",
        "docs_vocab",
        "docs_repetition",
        "docs_contamination",
        "docs_verbatim_spans",
        "docs_mixture",
        "docs_chunks",
        "emb_ann_incremental",
        "emb_ivf_incremental",
        "conversation_prefix_dedup",
        "docs_minhash_lsh",
        "docs_simhash_dedup",
        "emb_cosine_topk",
        "emb_lsh_ann",
        "emb_near_dup_pairs",
        "ivf_ann",
    ]:
        timed(name, lambda n=name: force(Q[n](spark, sf_dir)))

    # raw SimHash signature table (no longer a driver entry — its xxhash64
    # output has pytest oracles only): timed directly for r1/r2 continuity
    from singer_tap_spark.ops.dedup_text import simhash as _simhash

    timed(
        "docs_simhash",
        lambda: force(_simhash(spark.read.parquet(f"{sf_dir}/documents.parquet"))),
    )

    # IVF at PRODUCTION settings — since r4 the DEFAULT n_centroids is the
    # adaptive max(8, isqrt(n)) (VERDICT r3 #2), so the bench calls the
    # default path; the driver entry pins tiny probe-all settings for
    # oracle exactness, which times fixed stage overhead, not the scale path
    from singer_tap_spark.ops.similarity import ivf_ann_topk as _ivf

    def _ivf_prod():
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        return _ivf(emb, k=5, n_probe=2, vectorized_scoring=True)

    timed("ivf_ann_prod", lambda: force(_ivf_prod()))

    shutil.rmtree(base, ignore_errors=True)
    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                "cdc_events": n_events,
                "cdc_events_per_sec": events_per_sec,
                "cdc_streaming_events_per_sec": streaming_events_per_sec,
                "cdc_delta_feed_events_per_sec": feed_events_per_sec,
                "cpus": cpus,
                "sink_path": "parquet-cow (no Iceberg jar in sandbox)",
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())

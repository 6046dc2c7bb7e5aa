#!/usr/bin/env python
"""Targeted benchmark harness for optimization work (r7) — NOT the driver
bench.  Same methodology as the frozen bench.py (best-of-2, full-evaluation
bit_xor force), but runs only the queries named on the command line so a
single optimization can be re-measured in ~a minute instead of ~10.

    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    python bench_extra.py --cdc            # the three CDC paths only
    python bench_extra.py --all            # every operator query

Jobs are labelled (spark.sparkContext.setJobDescription) per guide §1.5.
Prints one JSON line: {"queries": {...}, "sf": ...}.
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
    import __spark_entry__ as entry_mod

    spark = get_spark("bench-extra", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    queries: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        best = None
        for _ in range(2):
            spark.sparkContext.setJobDescription(name)
            t0 = time.monotonic()
            fn()
            s = time.monotonic() - t0
            spark.sparkContext.setJobDescription(None)
            best = s if best is None else min(best, s)
        queries[name] = round(best, 3)

    def force(df) -> None:
        from pyspark.sql import functions as F

        df.agg(F.bit_xor(F.xxhash64(*df.columns)).alias("h")).collect()

    args = sys.argv[1:]
    Q = entry_mod.queries()
    names = [a for a in args if not a.startswith("--")]
    if "--all" in args:
        names = list(Q)

    if "--cdc" in args:
        from singer_tap_spark.changelog import generate_changelog, write_changelog

        n_events = max(100_000, int(sf * 20_000_000))
        base = "/tmp/stsp_bench_extra"
        shutil.rmtree(base, ignore_errors=True)
        log = generate_changelog(
            spark, n_events, update_frac=0.3, delete_frac=0.05,
            dup_frac=0.02, hot_conv_frac=0.1, n_shards=8,
        )
        write_changelog(log, f"{base}/log", n_files_per_shard=max(4, cpus // 4))
        best = None
        for rep in range(2):
            cfg = PipelineConfig(
                changelog_path=f"{base}/log", target_path=f"{base}/tgt{rep}",
                lineage_path=f"{base}/lineage{rep}.json", n_buckets=32,
            )
            spark.sparkContext.setJobDescription("cdc_replay")
            t0 = time.monotonic()
            CDCPipeline(spark, cfg).replay()
            s = time.monotonic() - t0
            best = s if best is None else min(best, s)
        queries["cdc_replay"] = round(best, 3)
        best = None
        for rep in range(3):
            cfg_s = PipelineConfig(
                changelog_path=f"{base}/log", target_path=f"{base}/tgt_s{rep}",
                lineage_path=f"{base}/lineage_s{rep}.json",
                checkpoint_dir=f"{base}/ckpt_s{rep}", n_buckets=32,
            )
            spark.sparkContext.setJobDescription("cdc_replay_streaming")
            t0 = time.monotonic()
            CDCPipeline(spark, cfg_s).run_streaming(available_now=True)
            s = time.monotonic() - t0
            best = s if best is None else min(best, s)
        queries["cdc_replay_streaming"] = round(best, 3)
        best = None
        for rep in range(2):
            cfg_f = PipelineConfig(
                changelog_path=f"{base}/log", target_path=f"{base}/tgt_f{rep}",
                lineage_path=f"{base}/lineage_f{rep}.json",
                checkpoint_dir=f"{base}/ckpt_f{rep}", n_buckets=32,
            )
            spark.sparkContext.setJobDescription("cdc_delta_feed")
            t0 = time.monotonic()
            CDCPipeline(spark, cfg_f).run_delta_feed(
                f"{base}/feed{rep}", available_now=True
            )
            s = time.monotonic() - t0
            best = s if best is None else min(best, s)
        queries["cdc_delta_feed"] = round(best, 3)
        shutil.rmtree(base, ignore_errors=True)

    for name in names:
        if name == "ivf_ann_prod":
            from singer_tap_spark.ops.similarity import ivf_ann_topk as _ivf

            timed(name, lambda: force(_ivf(
                spark.read.parquet(f"{sf_dir}/embeddings.parquet"),
                k=5, n_probe=2, vectorized_scoring=True,
            )))
        elif name == "docs_simhash":
            from singer_tap_spark.ops.dedup_text import simhash as _simhash

            timed(name, lambda: force(_simhash(
                spark.read.parquet(f"{sf_dir}/documents.parquet"))))
        else:
            timed(name, lambda n=name: force(Q[n](spark, sf_dir)))

    print(json.dumps({"queries": queries, "sf": sf, "cpus": cpus}))


if __name__ == "__main__":
    sys.exit(main())

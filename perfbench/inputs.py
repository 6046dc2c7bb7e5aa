"""Seeded workload inputs, made once per (workload, seed, sizes) and cached.

Every input comes from ``singer_tap_spark.changelog.generate_changelog``,
which is deterministic in (seed, size): the same seed yields byte-identical
events at any parallelism.  Inputs are built under a temporary name and
renamed into the cache when complete, so an interrupted build is never
reused.  Runs only read the cache; they land inputs into their own work
directory by hard link.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# bench.py's change mix: 30% updates, 5% deletes, 2% exact replays, 10% of
# events on one hot conversation, 10% out-of-order ts, 8 shards
MIX = dict(update_frac=0.30, delete_frac=0.05, dup_frac=0.02,
           hot_conv_frac=0.10, ooo_frac=0.10, n_shards=8)

SIZES = {
    # the cow sink assumes ordered delivery across batches (lake.py): with
    # out-of-order ts, a late update to a hot key in segment i+1 can land
    # after the key's DELETE in segment i and resurrect it, so the tail log
    # keeps event time in commit order, as a binlog tail delivers it
    "tail": dict(base_events=100_000, segment_events=5_000, segments=30,
                 ooo_frac=0.0),
    # JSON-lines Singer wire: RECORD envelopes, a STATE line every
    # `control_every` seqs (a SCHEMA line every fifth of those), and
    # `corrupt_bp` basis points of corrupt lines in three kinds
    "wire": dict(file_events=2_500, files=26, control_every=500,
                 corrupt_bp=50),
}
LAYOUT_VERSION = 1
# cache entries kept per workload (oldest go first): ~8 MB each, enough for
# every seed of a 22-run set, so a repeated seed is never rebuilt
KEEP_PER_WORKLOAD = 24


def fingerprint(workload: str) -> str:
    doc = json.dumps([LAYOUT_VERSION, MIX, SIZES[workload]], sort_keys=True)
    return hashlib.sha256(doc.encode()).hexdigest()[:10]


def cached(cache_root: str, workload: str, seed: int, spark_fn) -> tuple[str, bool]:
    """Path of the complete input set, building it when missing.
    Returns (path, built_now).  ``spark_fn()`` gives the SparkSession."""
    path = os.path.join(cache_root, f"{workload}-s{seed}-{fingerprint(workload)}")
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        os.utime(path)  # most recently used
        return path, False
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    BUILDERS[workload](spark_fn(), tmp, seed, SIZES[workload])
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(fingerprint(workload))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    _evict(cache_root, workload, keep=path)
    return path, True


def _evict(cache_root: str, workload: str, keep: str) -> None:
    entries = [
        os.path.join(cache_root, e) for e in os.listdir(cache_root)
        if e.startswith(f"{workload}-s") and ".tmp-" not in e
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_PER_WORKLOAD:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def _events(spark, n: int, seed: int, **over):
    from singer_tap_spark.changelog import generate_changelog

    return generate_changelog(spark, n, seed=seed, **{**MIX, **over})


def build_tail(spark, out: str, seed: int, size: dict) -> None:
    """One log of base + segments; segment i is the seq range
    [base + i*seg, base + (i+1)*seg) of the same generator and key space.
    Layout: ``seg=<i>/shard=<s>/<one file>``, base is ``seg=-1``."""
    from pyspark.sql import functions as F

    base, seg = size["base_events"], size["segment_events"]
    n = base + seg * size["segments"]
    log = _events(spark, n, seed, ooo_frac=size["ooo_frac"])
    seg_col = F.when(F.col("seq") < base, F.lit(-1)).otherwise(
        F.floor((F.col("seq") - base) / seg).cast("int"))
    (log.withColumn("seg", seg_col)
        .repartition("seg", "shard")
        .write.partitionBy("seg", "shard").parquet(f"{out}/segs"))


def build_wire(spark, out: str, seed: int, size: dict) -> None:
    """JSON-lines files ``log/part-<f>.jsonl`` in seq order, plus the
    oracle's inputs: the good events and the injected corrupt lines, both
    partitioned by file index ``f`` so a run checks only what it landed."""
    from pyspark.sql import functions as F

    from singer_tap_spark.changelog import CHANGE_SCHEMA

    per, files = size["file_events"], size["files"]
    n = per * files
    ev = _events(spark, n, seed).withColumn(
        "f", F.floor(F.col("seq") / per).cast("int"))

    def h(tag):
        return F.abs(F.xxhash64(F.lit(seed), F.col("seq"), F.lit(tag)))

    cols = [F.col(c) for c in CHANGE_SCHEMA.names]
    env = F.struct(F.lit("RECORD").alias("type"), F.lit("transcripts").alias("stream"),
                   F.struct(*cols).alias("record"))
    good = F.to_json(env)
    no_seq = F.to_json(F.struct(
        F.lit("RECORD").alias("type"), F.lit("transcripts").alias("stream"),
        F.struct(*[F.col(c) for c in CHANGE_SCHEMA.names if c != "seq"])
        .alias("record")))
    kind = h("corrupt_kind") % 3
    corrupt = (
        F.when(kind == 0, good.substr(F.lit(1), F.length(good) - 5))  # not JSON
        .when(kind == 1, F.to_json(F.struct(
            F.lit("ACTIVATE_VERSION").alias("type"),
            F.lit("transcripts").alias("stream"),
            F.col("seq").alias("version"))))        # unknown message type
        .otherwise(no_seq)                           # RECORD without seq
    )
    is_bad = (h("corrupt") % 10_000) < size["corrupt_bp"]
    ev = ev.select("*", is_bad.alias("bad"),
                   F.when(is_bad, corrupt).otherwise(good).alias("value")).cache()

    every = size["control_every"]
    ctl = spark.range(0, n, every).select(
        F.floor(F.col("id") / per).cast("int").alias("f"),
        F.when(F.col("id") % (5 * every) == 0, F.to_json(F.struct(
            F.lit("SCHEMA").alias("type"), F.lit("transcripts").alias("stream"),
            F.lit(CHANGE_SCHEMA.json()).alias("schema"),
            F.array(F.lit("conv_id"), F.lit("turn_idx")).alias("key_properties"),
        ))).otherwise(F.to_json(F.struct(
            F.lit("STATE").alias("type"),
            F.struct(F.struct(F.col("id").alias("seq")).alias("transcripts"))
            .alias("value"),
        ))).alias("value"),
    )
    try:
        (ev.select("f", "value").unionByName(ctl).repartition("f")
            .write.partitionBy("f").text(f"{out}/parts"))
        (ev.where("bad").select("f", "value")
            .write.partitionBy("f").parquet(f"{out}/oracle/rejects"))
        (ev.where("not bad").drop("bad", "value")
            .write.partitionBy("f").parquet(f"{out}/oracle/events"))
    finally:
        ev.unpersist()
    os.makedirs(f"{out}/log")
    for part in sorted(os.listdir(f"{out}/parts")):
        if not part.startswith("f="):
            continue
        i = int(part[2:])
        txt = [x for x in os.listdir(f"{out}/parts/{part}") if x.endswith(".txt")]
        if len(txt) != 1:  # runs land whole files: one file per index
            raise RuntimeError(f"expected one file in {part}, found {len(txt)}")
        os.rename(f"{out}/parts/{part}/{txt[0]}", f"{out}/log/part-{i:05d}.jsonl")
    shutil.rmtree(f"{out}/parts")


BUILDERS = {"tail": build_tail, "wire": build_wire}


def link_files(src_files: list[str], dst_dir: str, prefix: str = "") -> None:
    """Make ``src_files`` visible in ``dst_dir`` as ``prefix + basename``
    (hard links; copies when the cache sits on another device)."""
    os.makedirs(dst_dir, exist_ok=True)
    for src in src_files:
        dst = os.path.join(dst_dir, prefix + os.path.basename(src))
        if os.path.exists(dst):
            raise FileExistsError(dst)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)

"""Keyed upsert sink — operator O16 + O15 (SURVEY §2.1), the MERGE target.

The reference's sink is the Stitch Import API: per-PK ``upsert`` messages with
a monotone ``sequence``, last-writer-wins at the destination
(cmd/internal/http_record_writer.go:71-119, 184-191; types.go:491-523).
Spark-natively that is ``MERGE INTO`` an Iceberg table; with no Iceberg
runtime jar in the repository, :class:`ParquetLakeTable` implements the SAME
semantics as a bucket-partitioned merge and is the only sink:

- target layout: parquet partitioned by ``_bucket = pmod(xxhash64(conv_id), B)``
  — the Spark analogue of Vitess hash-range shards AND of Iceberg's
  ``bucket(B, conv_id)`` partition transform.  A conversation lives in one
  bucket; a merge touches ONLY the buckets its batch hits (partition pruning),
  so merge cost scales with batch size, not table size — the property that
  keeps this viable at 100 TB / 10^10 rows.
- LWW sequence guard: a batch row replaces the stored row iff its
  ``(ts, seq)`` strictly exceeds the stored ``(ts, _seq)`` — ties mean the
  same event replayed, so either copy is identical (§2.3 #3).  Replaying a
  whole batch is therefore a no-op: exactly-once table state from
  at-least-once delivery, exactly the reference's flush-before-STATE +
  destination-LWW contract (sync.go:96-142).
- DELETE: the winning event for a key having ``op='DELETE'`` removes the row
  (Iceberg's MERGE ... WHEN MATCHED AND op='DELETE' THEN DELETE).

Commits are local-filesystem renames, so the table must live on a local
(or NFS) path.  An object-storage sink waits on an Iceberg runtime: a real
``MERGE INTO`` sink comes back with the jar, selected by config and tested.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from singer_tap_spark.dedup import lww_latest
from singer_tap_spark.evolve import align, evolve_schema

BUCKET_COL = "_bucket"
SEQ_COL = "_seq"
OP_COL = "_op"


@dataclass
class MergeStats:
    batch_rows: int
    affected_buckets: int
    rows_after: int
    commit_id: str
    schema_changes: list[str]


class ParquetLakeTable:
    """Keyed destination table (RecordWriter analogue, types.go:420-424)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str] = ("conv_id", "turn_idx"),
        bucket_key: str = "conv_id",
        n_buckets: int = 16,
        mode: str = "cow",
        max_records_per_file: int = 0,
    ) -> None:
        """``mode``: 'cow' (default) rewrites touched buckets per merge —
        best read latency, merge cost O(touched buckets).  Delivery-order
        contract: cow resolves per batch and drops deleted keys
        immediately, so it assumes a key's DELETE is delivered no earlier
        than its other events across batches (the binlog/VStream ordered
        tail — the reference makes the same assumption by applying its
        stream sequentially); an order-scrambled feed can resurrect
        deleted keys — use 'mor', whose retained history makes read-time
        LWW order-independent (SIGKILL chaos tests pin both).  'mor'
        (merge-on-read) APPENDS delta files per merge — merge cost O(batch),
        the right tradeoff for high-frequency small batches; reads resolve
        LWW over base+deltas and :meth:`compact` folds deltas into the base
        (Iceberg's copy-on-write vs merge-on-read duality)."""
        assert mode in ("cow", "mor")
        # O15 size-capped batches: the reference splits sink batches at
        # 1000 objects / 2 MB (http_record_writer.go:17-26); here the cap is
        # rows-per-parquet-file at the sink (0 = Spark's own file sizing)
        self.max_records_per_file = max_records_per_file
        self.spark = spark
        self.path = path.rstrip("/")
        self.key_cols = list(key_cols)
        self.bucket_key = bucket_key
        self.n_buckets = n_buckets
        self.mode = mode
        self._data = f"{self.path}/data"
        self._delta = f"{self.path}/delta"
        self._schema_file = f"{self.path}/_schema.json"
        # session-local rows_after cache (see merge): None = not swept yet
        self._rows_total: int | None = None

    # -- metadata ----------------------------------------------------------
    def exists(self) -> bool:
        return os.path.exists(self._schema_file)

    def _load_meta(self) -> dict:
        """Table metadata: {"spark_schema": ..., "sink_mode": ...}.  Accepts
        the legacy bare-StructType form (pre-round-2 tables)."""
        with open(self._schema_file) as f:
            doc = json.load(f)
        if "spark_schema" not in doc:  # legacy: the file IS the schema json
            return {"spark_schema": doc, "sink_mode": None}
        return doc

    def _load_schema(self) -> T.StructType:
        return T.StructType.fromJson(self._load_meta()["spark_schema"])

    def _save_schema(self, schema: T.StructType) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._schema_file + ".tmp"
        with open(tmp, "w") as f:
            # sink mode rides with the schema so a later open in the wrong
            # mode can be detected (see _guard_cow_vs_deltas)
            json.dump({"spark_schema": schema.jsonValue(),
                       "sink_mode": self.mode}, f)
        os.replace(tmp, self._schema_file)  # atomic metadata swap

    def _delta_pending(self) -> bool:
        if not os.path.exists(self._delta):
            return False
        for _, _, files in os.walk(self._delta):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def _guard_cow_vs_deltas(self) -> None:
        """A table written in mor mode carries pending delta files; a
        cow-mode open that silently ignored them would read/merge stale
        base-only state.  Fail loudly instead (ADVICE r1)."""
        if self.mode == "cow" and self._delta_pending():
            persisted = self._load_meta().get("sink_mode") if self.exists() else None
            raise RuntimeError(
                f"lake table {self.path} has pending merge-on-read deltas "
                f"(last written in sink_mode={persisted!r}); open it with "
                "mode='mor' (or run compact() from a mor-mode instance) "
                "before using cow mode"
            )

    def schema(self) -> T.StructType:
        return self._load_schema()

    def _bucket_expr(self, col: F.Column | None = None) -> F.Column:
        """Bucket id of ``col`` (default: this table's bucket key) — callers
        probing with a differently-named key column pass it explicitly so
        the hash matches the storage layout exactly."""
        key = F.col(self.bucket_key) if col is None else col
        return F.pmod(F.xxhash64(key), F.lit(self.n_buckets)).cast("int")

    def probe_bucket_expr(self, col: F.Column) -> F.Column:
        """Bucket id for a CALLER-typed key column: cast to the STORED key
        type first.  ``xxhash64`` is type-sensitive (``xxhash64(int 5) !=
        xxhash64(bigint 5)``) and the storage layout hashes the
        post-``align`` column (merge casts src to the evolved schema BEFORE
        bucketing), so probing with e.g. an int-typed id frame against a
        bigint-keyed table through the raw ``_bucket_expr`` would silently
        prune the WRONG buckets — an empty lookup, not an error."""
        if self.exists():
            dt = self._load_schema()[self.bucket_key].dataType
            col = col.cast(dt)
        return self._bucket_expr(col)

    # -- reads ---------------------------------------------------------------
    def read(self, buckets: Sequence[int] | None = None) -> DataFrame:
        """Current table state (without sink-metadata columns).
        ``buckets``: restrict to these bucket partitions (hive partition
        pruning at the scan).  Correct for any per-key question: a key's
        entire history lives in one bucket, so the pruned LWW resolve is
        identical to the full one restricted to those buckets."""
        return self.read_internal(buckets=buckets).drop(SEQ_COL)

    def read_internal(
        self, keep_op: bool = False, buckets: Sequence[int] | None = None
    ) -> DataFrame:
        """Resolved state incl. ``_seq``.  ``keep_op=True`` (mor only) keeps
        the ``_op`` column and DELETE winners — tombstones included — for
        maintenance jobs that must preserve the LWW guard (compaction with
        ``retain_tombstones``)."""
        if not self.exists():
            raise FileNotFoundError(f"lake table does not exist: {self.path}")
        self._guard_cow_vs_deltas()
        schema = self._load_schema()
        base = None
        if os.path.exists(self._data):
            base = self.spark.read.schema(
                T.StructType(
                    schema.fields
                    + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
                )
            ).parquet(self._data)
            if buckets is not None:
                base = base.where(F.col(BUCKET_COL).isin(list(buckets)))
            base = base.drop(BUCKET_COL)
        if self.mode == "cow" or not os.path.exists(self._delta):
            if base is None:
                raise FileNotFoundError(f"lake table has no data: {self.path}")
            return base.withColumn(OP_COL, F.lit("STORED")) if keep_op else base
        # merge-on-read: resolve LWW over base (already resolved, acts as
        # op=STORED) + appended delta events (carry their _op incl DELETE)
        delta = self.spark.read.schema(
            T.StructType(
                schema.fields
                + [
                    T.StructField(OP_COL, T.StringType(), True),
                    T.StructField(BUCKET_COL, T.IntegerType(), True),
                ]
            )
        ).parquet(self._delta)
        if buckets is not None:
            delta = delta.where(F.col(BUCKET_COL).isin(list(buckets)))
        delta = delta.drop(BUCKET_COL)
        both = delta if base is None else base.withColumn(
            OP_COL, F.lit("STORED")
        ).unionByName(delta)
        resolved = lww_latest(both, self.key_cols, ("ts", SEQ_COL))
        if keep_op:
            return resolved
        return resolved.where(F.col(OP_COL) != "DELETE").drop(OP_COL)

    # -- merge ---------------------------------------------------------------
    def merge(
        self,
        batch: DataFrame,
        batch_id: int = 0,
        affected: list[int] | None = None,
    ) -> MergeStats:
        """Keyed merge of one (already decoded) change batch — columns: key
        + payload + ts + seq + op — idempotently, LWW by (ts, seq).
        ``affected``: the batch's bucket ids when the caller already knows
        them (lets the caller fold bucket discovery into its own stats
        pass — one fewer job/scan per batch).

        One declarative plan, one key-shuffle (Catalyst prunes partitions
        and columns):
          1. read ONLY the target buckets the batch touches;
          2. union stored rows with raw batch events; a single LWW
             aggregation is simultaneously the in-batch dedup AND the
             sequence-guarded merge (stored ``_seq`` is the guard);
          3. drop keys whose winner is a DELETE;
          4. write to staging, atomically swap exactly the touched buckets.
        """
        payload_cols = [
            c
            for c in batch.columns
            if c not in (*self.key_cols, "ts", "seq", "op", "shard", "offset",
                          "schema_version")
        ]
        # raw batch mapped to the target shape — NO pre-dedup pass: in-batch
        # LWW and the merge against stored rows collapse into ONE key-shuffle
        # top-1 below (map-side WindowGroupLimit, so a hot key still ships
        # <= one row per input partition).
        src = batch.select(
            *self.key_cols, *payload_cols, "ts",
            F.col("seq").alias(SEQ_COL), F.col("op").alias(OP_COL),
        )
        src_schema_nometa = T.StructType(
            [f for f in src.schema.fields if f.name != OP_COL]
        )

        if self.mode == "mor":
            # merge-on-read fast path: ONE append of the raw batch (with op,
            # incl. DELETE tombstones) as bucket-partitioned delta files —
            # no target read, no rewrite; cost is O(batch).  LWW resolution
            # happens at read; replays append duplicate rows that tie on
            # (ts, _seq) and resolve identically (idempotent state).
            if self.exists():
                new_schema, changes = evolve_schema(
                    self._load_schema(), src_schema_nometa
                )
            else:
                new_schema, changes = src_schema_nometa, ["create table (mor)"]
            out = align(src, T.StructType(
                new_schema.fields + [T.StructField(OP_COL, T.StringType(), True)]
            )).withColumn(BUCKET_COL, self._bucket_expr())
            (
                out.hint("rebalance", BUCKET_COL)
                .write.mode("append")
                .option("maxRecordsPerFile", self.max_records_per_file)
                .partitionBy(BUCKET_COL)
                .parquet(self._delta)
            )
            self._save_schema(new_schema)
            return MergeStats(
                batch_rows=-1,
                affected_buckets=-1,
                rows_after=-1,  # unresolved until read/compact (by design)
                commit_id=f"parquet-mor-{batch_id}",
                schema_changes=changes,
            )

        if self.exists():
            cur_schema = self._load_schema()
            new_schema, changes = evolve_schema(cur_schema, src_schema_nometa)
            src = align(src, T.StructType(new_schema.fields + [
                T.StructField(OP_COL, T.StringType(), True)]))
            src = src.withColumn(BUCKET_COL, self._bucket_expr())
            if affected is None:
                affected = [
                    r[0] for r in src.select(BUCKET_COL).distinct().collect()
                ]  # bounded by n_buckets — a metadata-sized collect
            # prune the target scan to the buckets this batch touches AT
            # THE PARTITION LAYER: read_internal filters on the stored
            # `_bucket` hive column, so Catalyst prunes untouched bucket
            # directories from the scan entirely.  (Filtering a RECOMPUTED
            # xxhash column — the pre-r6 shape — evaluated per row after a
            # full-table scan: at 100 TB every merge read the whole table.)
            cur = align(
                self.read_internal(buckets=affected), new_schema
            ).withColumn(OP_COL, F.lit("STORED"))
            cur = cur.withColumn(BUCKET_COL, self._bucket_expr())
            # one shuffle: stored row (its _seq is the guard) vs every batch
            # event, latest (ts, _seq) wins — §2.3 #3 sequence semantics
            merged = lww_latest(
                cur.unionByName(src),
                self.key_cols,
                ("ts", SEQ_COL),
            )
        else:
            new_schema, changes = src_schema_nometa, ["create table"]
            merged = lww_latest(
                src.withColumn(BUCKET_COL, self._bucket_expr()),
                self.key_cols,
                ("ts", SEQ_COL),
            )
            affected = None  # fresh table: every bucket written is new

        # 4. apply deletes; 5. write the new bucket files to a STAGING dir,
        # then swap touched buckets in — never read-and-overwrite the same
        # path (self-overwrite hazard), and crash-mid-swap just replays the
        # batch, which the LWW guard absorbs (idempotent commit).
        final = merged.where(F.col(OP_COL) != "DELETE").drop(OP_COL)
        # AQE REBALANCE on the bucket: coalesces tiny buckets into shared
        # write tasks AND splits a hot bucket (one conversation = 50% of a
        # batch) across several writers at the advisory partition size —
        # no hand-tuned task count, holds at any scale
        final = final.hint("rebalance", BUCKET_COL)
        # clear any staging left by a crashed earlier commit (the batch it
        # belonged to replays anyway — idempotent)
        for e in os.listdir(self.path) if os.path.isdir(self.path) else []:
            if e.startswith("_staging-"):
                shutil.rmtree(f"{self.path}/{e}", ignore_errors=True)
        staging = f"{self.path}/_staging-{batch_id}"
        (
            final.write.mode("overwrite")
            .option("maxRecordsPerFile", self.max_records_per_file)
            .partitionBy(BUCKET_COL)
            .parquet(staging)
        )

        present = {
            int(e.split("=", 1)[1])
            for e in os.listdir(staging)
            if e.startswith(f"{BUCKET_COL}=")
        }
        swapped = present if affected is None else set(affected) | present
        os.makedirs(self._data, exist_ok=True)
        # rows_after bookkeeping is INCREMENTAL (r6): footer-count only the
        # buckets this merge swaps, before and after, against a
        # once-per-session full sweep — a streaming sink at a 100-TB table
        # must not pay an O(all files) driver metadata pass per microbatch
        # for a metrics field.  The cache is in-memory only: single-writer
        # contract, and a fresh session just re-sweeps once.
        prev_swapped = (
            self._bucket_rows(swapped) if self._rows_total is not None else 0
        )
        for b in swapped:
            dst = f"{self._data}/{BUCKET_COL}={b}"
            src_dir = f"{staging}/{BUCKET_COL}={b}"
            if os.path.exists(dst):
                shutil.rmtree(dst)  # bucket emptied by deletes or replaced
            if os.path.exists(src_dir):
                os.rename(src_dir, dst)
        shutil.rmtree(staging, ignore_errors=True)

        if self._rows_total is None:
            # first merge this session: one full footer sweep seeds the cache
            import pyarrow.dataset as pds

            # ignore_prefixes: pyarrow's default ['.', '_'] would skip the
            # `_bucket=N` partition dirs (Spark keeps underscore-dirs that
            # contain '='); only dotfiles are truly hidden here
            self._rows_total = pds.dataset(
                self._data, format="parquet", partitioning="hive",
                ignore_prefixes=["."],
            ).count_rows()
        else:
            self._rows_total += self._bucket_rows(swapped) - prev_swapped
        rows_after = self._rows_total

        self._save_schema(new_schema)
        commit_id = f"parquet-cow-{batch_id}"
        n_aff = len(affected) if affected is not None else self.n_buckets
        return MergeStats(
            batch_rows=-1,  # filled by caller if it wants an extra count job
            affected_buckets=n_aff,
            rows_after=rows_after,
            commit_id=commit_id,
            schema_changes=changes,
        )


    def _bucket_rows(self, buckets) -> int:
        """Footer-metadata row count of the given bucket partitions only —
        O(affected files) driver reads, no Spark job."""
        import pyarrow.dataset as pds

        total = 0
        for b in buckets:
            d = f"{self._data}/{BUCKET_COL}={b}"
            if os.path.isdir(d):
                total += pds.dataset(
                    d, format="parquet", ignore_prefixes=["."]
                ).count_rows()
        return total

    # -- maintenance ---------------------------------------------------------
    def _max_ts_from_footers(self):
        """Max ``ts`` across base+delta from parquet row-group statistics —
        a driver-side footer pass, no Spark job (same technique as the
        pipeline's retained-offset scan)."""
        import pyarrow.dataset as pds

        mx = None
        for root in (self._data, self._delta):
            if not os.path.exists(root):
                continue
            d = pds.dataset(root, format="parquet", ignore_prefixes=[".", "_SUCCESS"])
            for frag in d.get_fragments():
                for rg in frag.row_groups:
                    st = (rg.statistics or {}).get("ts")
                    if st and st.get("max") is not None:
                        mx = st["max"] if mx is None else max(mx, st["max"])
        return mx

    def compact(
        self,
        retain_tombstones: bool = False,
        tombstone_lateness: str | None = None,
    ) -> int:
        """Small-file compaction — the Iceberg ``rewrite_data_files``
        analogue.  Every merge appends one file set per touched bucket, so a
        long-running incremental table accumulates small files; this
        rewrites each bucket into one file set (one write task per bucket)
        via the same staging-swap commit as merge.  Returns file count
        after.  On 10^10-row tables run it per-bucket on a schedule, exactly
        like Iceberg compaction jobs.

        ``retain_tombstones`` (mor): DELETE winners survive as ONE folded
        delta file set instead of vanishing with the delta dir.  Dropping a
        tombstone mid-stream loses the LWW guard for that key — a later
        micro-batch carrying a legitimately-late event (older ts) would
        resurrect the deleted row (caught by test_mor's cadenced-compaction
        oracle).  So in-stream cadenced compaction MUST retain; the default
        drop-tombstones form is terminal maintenance, safe only when no
        event older than a retained tombstone can still arrive (end of
        stream, or tombstones past the lateness watermark).

        ``tombstone_lateness`` (with ``retain_tombstones``): the principled
        middle ground — a tombstone may be garbage-collected once no event
        older than it can still arrive.  With a lateness bound L (e.g.
        ``'7 days'``), tombstones with ``ts < max(ts over the resolved
        state) - L`` are dropped at compaction; younger ones are retained.
        Deterministic (horizon is a function of the state, not the clock)
        and exactly the event-time-watermark GC rule Structured Streaming
        applies to its own state stores.  None = retain forever.

        Crash-safe by
        construction: the folded tombstone files are MOVED into the delta
        dir before the obsolete delta files are deleted, and duplicate
        tombstones tie on (ts, _seq) — any crash point replays to the same
        state."""
        # rewriting the base invalidates the session rows_after cache
        # (resolved rows change as deltas fold / tombstones drop)
        self._rows_total = None
        retain = retain_tombstones and self.mode == "mor"
        old_delta_files: list[str] = []
        if retain and os.path.exists(self._delta):
            for root, _, files in os.walk(self._delta):
                old_delta_files += [
                    os.path.join(root, f) for f in files if f.endswith(".parquet")
                ]
        resolved = self.read_internal(keep_op=retain)
        if retain:
            tombs = resolved.where(F.col(OP_COL) == "DELETE")
            if tombstone_lateness is not None:
                # horizon from parquet FOOTER stats (driver metadata read,
                # no job): max ts over raw base+delta events == max over
                # LWW winners — the max-ts event is never beaten on ts.
                # An agg over `resolved` would re-execute the whole
                # resolve shuffle just for one scalar.
                horizon = self._max_ts_from_footers()
                if horizon is None:
                    # stats-less files (legacy INT96 parquet, stripped
                    # footers): silently retaining forever would mean a
                    # configured GC that never engages — warn and fall back
                    # to a one-scalar agg over the resolved state (one extra
                    # job, compaction-time only).
                    import warnings

                    warnings.warn(
                        "tombstone_lateness configured but no parquet footer "
                        "ts statistics found; falling back to a full-scan "
                        "max(ts) for the GC horizon",
                        stacklevel=2,
                    )
                    horizon = resolved.agg(F.max("ts")).first()[0]
                if horizon is not None:
                    tombs = tombs.where(
                        F.col("ts")
                        >= F.lit(horizon) - F.expr(f"INTERVAL {tombstone_lateness}")
                    )
            df = (
                resolved.where(F.col(OP_COL) != "DELETE")
                .drop(OP_COL)
                .withColumn(BUCKET_COL, self._bucket_expr())
            )
        else:
            df = resolved.withColumn(BUCKET_COL, self._bucket_expr())
        staging = f"{self.path}/_staging-compact"
        shutil.rmtree(staging, ignore_errors=True)
        (
            df.repartition(self.n_buckets, BUCKET_COL)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", self.max_records_per_file)
            .partitionBy(BUCKET_COL)
            .parquet(staging)
        )
        tstag = f"{self.path}/_staging-tombs"
        if retain:
            # tombstone staging is written BEFORE the base-bucket swap: its
            # plan re-scans the OLD base + delta files, which must still
            # exist (writing it after the swap reads replaced paths)
            shutil.rmtree(tstag, ignore_errors=True)
            (
                tombs.withColumn(BUCKET_COL, self._bucket_expr())
                .repartition(self.n_buckets, BUCKET_COL)
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(tstag)
            )
        present = {
            e for e in os.listdir(staging) if e.startswith(f"{BUCKET_COL}=")
        }
        existing = (
            {e for e in os.listdir(self._data) if e.startswith(f"{BUCKET_COL}=")}
            if os.path.exists(self._data)
            else set()
        )
        os.makedirs(self._data, exist_ok=True)
        for e in present | existing:
            dst = f"{self._data}/{e}"
            if os.path.exists(dst):
                shutil.rmtree(dst)  # replaced, or emptied by delta deletes
            if e in present:
                os.rename(f"{staging}/{e}", dst)
        shutil.rmtree(staging, ignore_errors=True)
        if retain:
            # surviving tombstones -> ONE folded delta file set.  Order:
            # MOVE the staged files into delta, only then delete the
            # obsolete delta files — at any crash point old+new tombstones
            # coexist and tie on (ts, _seq), so the read resolves identically
            for e in os.listdir(tstag):
                if not e.startswith(f"{BUCKET_COL}="):
                    continue
                os.makedirs(f"{self._delta}/{e}", exist_ok=True)
                for f in os.listdir(f"{tstag}/{e}"):
                    if f.endswith(".parquet"):
                        shutil.move(
                            f"{tstag}/{e}/{f}", f"{self._delta}/{e}/tomb-{f}"
                        )
            shutil.rmtree(tstag, ignore_errors=True)
            for f in old_delta_files:
                try:
                    os.remove(f)
                except OSError:
                    pass
        else:
            # deltas folded into the base — a crash BEFORE this line replays
            # them over the new base, where they tie on (ts, _seq): idempotent
            shutil.rmtree(self._delta, ignore_errors=True)
        return sum(
            len([f for f in files if f.endswith(".parquet")])
            for _, _, files in os.walk(self._data)
        )


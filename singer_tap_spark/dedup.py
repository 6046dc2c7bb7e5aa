"""Last-writer-wins dedup — operator O17 (SURVEY.md §2.1).

The reference gets LWW implicitly: binlog order per shard
(planetscale_edge_database.go:207-227) plus the destination's per-PK
``sequence`` resolution (types.go:496-503).  Here it is explicit and
distributed; the total order per key is ``(ts, seq)`` — equal (ts, seq)
means the same event replayed, so either copy is correct (§2.3 #3, #10).

Two equivalent implementations:

- :func:`lww_latest` — ``row_number() == 1`` over a key-partitioned
  window.  Spark's WindowGroupLimit plans a *partial* group-limit on every
  input partition before the shuffle (the window-form map-side combine;
  r1-r6 shipped the equivalent partial-``max_by`` aggregate, retired r7 —
  the window form drops the reduce-side SortAggregate merge, measured
  3.9 s vs 5.1 s on the 20M-event log).  A key with 10^6 duplicate updates
  still ships at most one row per input partition — this is the skew-proof
  default and needs NO salting for the dedup stage itself.
- :func:`lww_latest_window` — window ``row_number`` over
  ``partitionBy(key).orderBy(desc(order))``.  No partial aggregation (all
  rows of a key shuffle to one task), kept for parity testing and because
  it is the shape the DuckDB oracle uses.

At 100 TB: `lww_latest` is one shuffle on the key columns; AQE coalesces
small post-shuffle partitions. Hot *conversations* are naturally spread
because the key includes ``turn_idx``; hot single *keys* are absorbed by
the map-side group-limit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_latest(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    order_cols: Sequence[str] = ("ts", "seq"),
    value_cols: Sequence[str] | None = None,
    hash_prefix: bool = True,
) -> DataFrame:
    """One row per key: the one with the max ``(order_cols)`` tuple.

    Ordering desc by ``order_cols`` picks the latest-(ts, seq) row —
    map-side group-limited, hence skew-proof (see module docstring).

    ``hash_prefix``: the sort fast-path compares an 8-byte prefix of the
    FIRST sort column — string keys sharing a common prefix
    (``conv-0000…``) defeat it.  Prepending ``xxhash64(keys)`` as an extra
    (redundant) partition column gives every comparison a discriminating
    numeric prefix; semantics are unchanged because the hash is a function
    of the keys.

    Engine (r7): ``row_number() == 1`` over a window partitioned by the
    key — Spark's WindowGroupLimit optimization inserts a PARTIAL
    group-limit below the exchange (each map partition forwards at most
    one row per key, exactly the skew-proofness the previous
    partial-``max_by`` form bought) and the reduce side is one sort +
    limit instead of a SortAggregate's sort + merge-agg; measured 3.9 s
    vs 5.1 s noop-sink on the 20M-event sf1.0 log.  Row-for-row
    equivalent to the ``max_by`` form: ties on the full order tuple are
    byte-identical replays by the §2.3 #3 contract (either copy is the
    same row), and per-field null ordering agrees (desc NULLS LAST ==
    null-first struct compare under max).  The one divergence — a key
    whose EVERY order value is NULL yields its row's real payload here
    where ``max_by`` yielded a NULL payload — is on the oracle's side:
    the DuckDB twin is itself row_number-shaped.
    """
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in key_cols]
    part_cols = list(key_cols)
    if hash_prefix:
        df = df.withColumn("__khash", F.xxhash64(*[F.col(c) for c in key_cols]))
        part_cols = ["__khash", *key_cols]
    w = Window.partitionBy(*part_cols).orderBy(
        *[F.desc(c) for c in order_cols]
    )
    out = df.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") == 1
    )
    return out.select(*key_cols, *value_cols)


def lww_latest_window(
    df: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    order_cols: Sequence[str] = ("ts", "seq"),
) -> DataFrame:
    """Window-function variant (oracle-shaped; no map-side combine)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def drop_exact_duplicates(
    df: DataFrame, identity_cols: Sequence[str] = ("shard", "offset", "seq")
) -> DataFrame:
    """Remove exact replay duplicates — same (shard, offset, seq) is the
    same binlog event re-received (no-double-emission invariant,
    planetscale_edge_database_test.go:669-679).  The CDC merge and delta
    feed never call it: replays tie on (ts, seq) inside their LWW top-1."""
    return df.dropDuplicates(list(identity_cols))

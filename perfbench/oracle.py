"""Correctness gate: DuckDB checks run after the timed region of every run.

The final-state oracle is the naive last-writer-wins over the same events
that the suite uses (``tests/conftest.py::lww_oracle_sql``): distinct exact
rows, latest ``(ts, seq)`` per key wins, a DELETE winner removes the key.
Tables are compared as multisets, so a changed, missing or duplicated row
is each caught."""

from __future__ import annotations

import json

import duckdb

COLS = "conv_id, turn_idx, role, text, tool, ts"


def lww_oracle_sql(source: str) -> str:
    """``source``: a FROM-clause item yielding change events."""
    return f"""
    WITH dedup AS (
      SELECT DISTINCT * FROM {source}
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY ts DESC, seq DESC) rn
      FROM dedup
    )
    SELECT {COLS}
    FROM ranked WHERE rn = 1 AND op <> 'DELETE'
    """


def parquet(glob: str, hive: bool = True) -> str:
    return f"read_parquet('{glob}', hive_partitioning={int(hive)})"


def multiset_diff(con, got_sql: str, want_sql: str) -> tuple[int, int]:
    """(rows in want missing from got, rows in got not in want)."""
    missing = con.sql(
        f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))"
    ).fetchone()[0]
    extra = con.sql(
        f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))"
    ).fetchone()[0]
    return int(missing), int(extra)


def check_table(got_glob: str, events_source: str) -> list[str]:
    """Errors (empty when the table equals the oracle).  ``got_glob``: the
    consumer-visible table written out as parquet."""
    con = duckdb.connect()
    try:
        missing, extra = multiset_diff(
            con,
            f"SELECT {COLS} FROM {parquet(got_glob, hive=False)}",
            lww_oracle_sql(events_source),
        )
    finally:
        con.close()
    if missing or extra:
        return [f"table != LWW oracle: {missing} rows missing, {extra} unexpected"]
    return []


def check_cursors(lineage_path: str, stream: str, log_glob: str) -> list[str]:
    """Each shard's saved cursor must equal that shard's max log offset."""
    with open(lineage_path) as f:
        doc = json.load(f)
    got = {
        shard: cur["offset"]
        for shard, cur in doc["streams"][stream]["shards"].items()
    }
    con = duckdb.connect()
    try:
        want = dict(
            con.sql(
                f"SELECT shard, max(\"offset\") FROM {parquet(log_glob)} GROUP BY shard"
            ).fetchall()
        )
    finally:
        con.close()
    if got != want:
        bad = {s: (got.get(s), want.get(s)) for s in set(got) | set(want)
               if got.get(s) != want.get(s)}
        return [f"lineage cursor != max log offset for {len(bad)} shards: {bad}"]
    return []


def check_rejects(rejects_glob: str, expected_sql: str) -> list[str]:
    """The quarantine must hold exactly the injected corrupt lines, and no
    Singer SCHEMA/STATE control line."""
    con = duckdb.connect()
    try:
        got = f"SELECT value FROM {parquet(rejects_glob)}"
        missing, extra = multiset_diff(con, got, expected_sql)
        control = con.sql(
            f"SELECT count(*) FROM ({got}) "
            "WHERE regexp_matches(value, '\"type\":\\s*\"(SCHEMA|STATE)\"')"
        ).fetchone()[0]
    finally:
        con.close()
    errs = []
    if missing or extra:
        errs.append(
            f"quarantine != injected corrupt lines: {missing} missing, {extra} unexpected"
        )
    if control:
        errs.append(f"{control} Singer control lines were quarantined")
    return errs

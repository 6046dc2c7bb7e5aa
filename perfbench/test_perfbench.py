"""Tests of the benchmark's own logic; no Spark session, a few seconds.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os

import duckdb
import pytest

from perfbench import oracle, stats
from perfbench.spans import Span, Tracer, covered, layer_table, self_times


# -- tail percentile: highest candidate with >= 10 samples beyond it --------
@pytest.mark.parametrize("n, want", [
    (0, None), (10, None), (19, None),
    (20, 50.0), (39, 50.0),
    (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0),
    (200, 95.0), (999, 95.0),
    (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_tail_percentile_leaves_ten_samples_above_it():
    for n in range(20, 2_000, 7):
        p = stats.tail_percentile(n)
        vals = list(range(n))
        beyond = [v for v in vals if v > stats.percentile(vals, p)]
        assert len(beyond) >= stats.MIN_BEYOND
        higher = [q for q in stats.TAIL_CANDIDATES if q > p]
        if higher:  # the next candidate up would leave fewer than ten
            nxt = stats.percentile(vals, min(higher))
            assert len([v for v in vals if v > nxt]) < stats.MIN_BEYOND


def test_percentile_and_spread():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(vals, 50) == 3.0
    assert stats.percentile(vals, 100) == 5.0
    assert stats.median(vals) == 3.0
    assert stats.quartile_spread([10.0] * 4) == 0.0


# -- self time: a span minus the union of its children -----------------------
def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3


def _span(i, name, a, b, parent=None, op="op0"):
    return Span(i, name, a, b, parent, op)


def test_self_time_subtracts_children_not_grandchildren():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "pipeline.replay", 1.0, 9.0, parent=0),
        _span(2, "pipeline.apply_batch", 2.0, 8.0, parent=1),
        _span(3, "lake.merge", 3.0, 6.0, parent=2),
        _span(4, "lineage.save", 6.5, 7.0, parent=2),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 2.0, 2: 2.5, 3: 3.0, 4: 0.5})
    assert sum(st.values()) == pytest.approx(10.0)  # accounts for the wall


def test_layer_table_sums_to_wall_with_overlapping_children():
    spans = [
        _span(0, "op", 0.0, 4.0),
        _span(1, "a", 0.5, 2.0, parent=0),
        _span(2, "b", 1.5, 3.0, parent=0),  # overlaps a: union is 2.5
    ]
    row = layer_table(spans, lambda s: s.name)["op0"]
    assert row["op"] == pytest.approx(1.5)
    assert sum(row.values()) == pytest.approx(4.0 + 0.5)  # a, b overlap 0.5


def test_tracer_wrap_parents_and_restores():
    class Layer:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = Tracer()
    t.wrap(Layer, "outer", "outer")
    t.wrap(Layer, "inner", "inner")
    assert Layer().outer() == 2 and not t.spans  # disabled: no spans
    t.enabled = True
    t.start_op("op7")
    Layer().outer()
    root = t.finish_op()
    outer, inner = t.spans[1], t.spans[2]
    assert (outer.parent, inner.parent) == (root.id, outer.id)
    assert {s.op for s in t.spans} == {"op7"}
    t.unwrap_all()
    assert Layer.outer.__name__ == "outer" and not hasattr(Layer.outer, "__wrapped__")


# -- oracle: the gate must catch a tampered table ----------------------------
LOG = """
SELECT * FROM (VALUES
  ('shard-0', 0, 0, 'INSERT', TIMESTAMPTZ '2024-01-01 00:00:00+00', 'c1', 0, 'user', 'a', NULL),
  ('shard-0', 1, 1, 'UPDATE', TIMESTAMPTZ '2024-01-01 00:00:05+00', 'c1', 0, 'user', 'b', NULL),
  ('shard-0', 1, 1, 'UPDATE', TIMESTAMPTZ '2024-01-01 00:00:05+00', 'c1', 0, 'user', 'b', NULL),
  ('shard-1', 2, 2, 'INSERT', TIMESTAMPTZ '2024-01-01 00:00:01+00', 'c2', 1, 'tool', 'x', 't'),
  ('shard-1', 3, 3, 'UPDATE', TIMESTAMPTZ '2024-01-01 00:00:00+00', 'c2', 1, 'tool', 'late', 't'),
  ('shard-1', 4, 4, 'INSERT', TIMESTAMPTZ '2024-01-01 00:00:02+00', 'c3', 0, 'user', 'gone', NULL),
  ('shard-1', 5, 5, 'DELETE', TIMESTAMPTZ '2024-01-01 00:00:03+00', 'c3', 0, NULL, NULL, NULL)
) t(shard, "offset", seq, op, ts, conv_id, turn_idx, role, text, tool)
"""


@pytest.fixture
def log_and_table(tmp_path):
    con = duckdb.connect()
    os.makedirs(tmp_path / "log/shard=all")
    con.sql(f"COPY ({LOG}) TO '{tmp_path}/log/shard=all/part-0.parquet' (FORMAT parquet)")
    events = oracle.parquet(f"{tmp_path}/log/*/*.parquet")
    good = con.sql(oracle.lww_oracle_sql(events)).df()
    con.close()
    assert sorted(good["text"]) == ["b", "x"]  # LWW by ts, DELETE removes
    return tmp_path, events, good


def _write(tmp_path, df) -> str:
    os.makedirs(tmp_path / "got", exist_ok=True)
    con = duckdb.connect()
    con.register("t", df)
    con.sql(f"COPY (SELECT * FROM t) TO '{tmp_path}/got/part-0.parquet' (FORMAT parquet)")
    con.close()
    return f"{tmp_path}/got/*.parquet"


def test_oracle_accepts_the_lww_state(log_and_table):
    tmp, events, good = log_and_table
    assert oracle.check_table(_write(tmp, good), events) == []


@pytest.mark.parametrize("tamper", ["change", "drop", "duplicate", "resurrect"])
def test_oracle_catches_a_tampered_table(log_and_table, tamper):
    import pandas as pd

    tmp, events, good = log_and_table
    bad = good.copy()
    if tamper == "change":
        bad.loc[0, "text"] = "tampered"
    elif tamper == "drop":
        bad = bad.iloc[1:]
    elif tamper == "duplicate":
        bad = pd.concat([bad, bad.iloc[:1]])
    else:  # the deleted key comes back
        row = bad.iloc[:1].copy()
        row["conv_id"], row["text"] = "c3", "gone"
        bad = pd.concat([bad, row])
    errs = oracle.check_table(_write(tmp, bad), events)
    assert len(errs) == 1 and "LWW oracle" in errs[0]


def test_rejects_check_flags_control_lines_and_missing(tmp_path):
    con = duckdb.connect()
    os.makedirs(tmp_path / "rej/batch=0")
    got = ['{"type":"STATE","value":{}}', "not json"]
    con.sql("COPY (SELECT unnest(?) AS value) TO "
            f"'{tmp_path}/rej/batch=0/p.parquet' (FORMAT parquet)", params=[got])
    con.close()
    expected = "SELECT unnest(['not json', '{\"type\":\"ACTIVATE\"}']) AS value"
    errs = oracle.check_rejects(f"{tmp_path}/rej/*/*.parquet", expected)
    assert any("1 missing, 1 unexpected" in e for e in errs)
    assert any("control lines" in e for e in errs)


def test_seed_ranges():
    from perfbench.steadiness import seeds

    assert seeds("1-3,7") == [1, 2, 3, 7]
    assert seeds("5") == [5]

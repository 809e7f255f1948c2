"""Self-tests of the benchmark's own logic (no Spark, no server).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from check import value_hash  # noqa: E402
from stats import median, tail  # noqa: E402
from tracing import Span, coverage, layer_summary, self_times  # noqa: E402


# ---------------------------------------------------------------- stats

def test_tail_leaves_exactly_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    pct, value = tail(xs)
    assert (pct, value) == (90.0, 90.0)
    assert sum(x > value for x in xs) == 10


def test_tail_is_order_free_and_needs_eleven_samples():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 11.0, 10.0]
    assert tail(xs) == (100.0 / 11, 1.0)
    with pytest.raises(ValueError):
        tail(xs[:10])


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5


# ---------------------------------------------------------------- spans

def _span(i, name, start, end, parent=None, op=None):
    return Span(name, start, end, i, parent, op)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "op", 0.0, 10.0, op=0),
        _span(1, "queries.build", 1.0, 4.0, parent=0, op=0),
        _span(2, "exec.collect", 3.0, 8.0, parent=0, op=0),  # overlaps build by 1 s
        _span(3, "inner", 5.0, 6.0, parent=2, op=0),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 3.0, 2: 4.0, 3: 1.0}
    summary = layer_summary(spans)
    assert summary["exec.collect"] == {"count": 1, "total_s": 5.0, "self_s": 4.0}


def test_coverage_is_share_of_op_wall_under_named_children():
    spans = [
        _span(0, "op", 0.0, 10.0, op=0),
        _span(1, "sinks.write", 0.5, 9.5, parent=0, op=0),
        _span(2, "op", 10.0, 20.0, op=1),
        _span(3, "queries.build", 10.0, 15.0, parent=2, op=1),
    ]
    assert coverage(spans) == pytest.approx((9.0 + 5.0) / 20.0)


# ---------------------------------------------------------------- inputs

def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = gen.write_tables(gen.make_tables(0.001, 7), str(tmp_path / "a"))
    b = gen.write_tables(gen.make_tables(0.001, 7), str(tmp_path / "b"))
    c = gen.write_tables(gen.make_tables(0.001, 8), str(tmp_path / "c"))
    assert gen.dir_digest(a) == gen.dir_digest(b)
    assert gen.dir_digest(a) != gen.dir_digest(c)
    corpus = [gen.scale_corpus(gen.make_documents(40, s), 10, s) for s in (3, 3, 4)]
    assert corpus[0].equals(corpus[1]) and not corpus[0].equals(corpus[2])


def test_tables_keep_fixture_shapes():
    t = gen.make_tables(0.01, 1)
    assert {k: v.num_rows for k, v in t.items()} == {
        "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
        "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
    }
    ts = t["events"].column("ts").to_pylist()
    assert ts == sorted(ts)
    docs = t["documents"].column("text").to_pylist()
    assert all(10 <= len(d.split(" ")) <= 101 for d in docs)
    assert sum(d.endswith(" dup") for d in docs) >= int(500 * gen.DUP_SHARE)


def test_scaled_corpus_shards_are_vocabulary_disjoint():
    base = gen.make_documents(30, 5)
    big = gen.scale_corpus(base, 10, 5)
    assert big.num_rows == 300
    assert sorted(big.column("doc_id").to_pylist()) == list(range(300))
    by_id = dict(zip(big.column("doc_id").to_pylist(), big.column("text").to_pylist()))
    vocab = [
        {w for i in range(30) for w in by_id[c * 30 + i].split(" ")} for c in range(10)
    ]
    for c in range(10):
        for d in range(c + 1, 10):
            assert not vocab[c] & vocab[d]
    # per-document statistics are those of the base document
    for i, text in enumerate(base.column("text").to_pylist()):
        assert len(by_id[90 + i].split(" ")) == len(text.split(" "))


def test_op_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(14)]
    first = gen.op_order(names, 11, 0)
    assert sorted(first) == sorted(names)
    assert first == gen.op_order(names, 11, 0)
    assert first != gen.op_order(names, 11, 1) or first != gen.op_order(names, 12, 0)


# ---------------------------------------------------------------- checks

def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "a", 2.5), (2, None, float("nan"))]
    swapped = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert value_hash(["k", "s", "x"], rows) == value_hash(["x", "k", "s"], swapped)
    assert value_hash(["k", "s", "x"], rows) != value_hash(["k", "s", "x"], rows[:1])


def test_value_hash_canonicalises_engine_types():
    class Row(tuple):  # stands in for pyspark.sql.Row
        def asDict(self):
            return {"a": self[0], "b": self[1]}

    aware = dt.datetime(2024, 1, 1, 1, 0, tzinfo=dt.timezone(dt.timedelta(hours=1)))
    naive = dt.datetime(2024, 1, 1, 0, 0)
    assert value_hash(["t"], [(aware,)]) == value_hash(["t"], [(naive,)])
    assert value_hash(["s"], [(Row((1, "x")),)]) == value_hash(["s"], [({"b": "x", "a": 1},)])

"""Property-based tests (hypothesis) for the pure-Python pieces and
the Column-expression contracts that must hold for ALL inputs, not
just fixture data: COPY escaping, identifier validation, fold-hash
range/determinism, column-map parsing."""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st

from parquet_to_sql_spark.cli import parse_column_map
from parquet_to_sql_spark.identifiers import (
    _COLUMN_RE,
    assert_safe_column_name,
    quote_identifier,
)

# ---------------------------------------------------------------- pure


@given(st.text(max_size=40))
def test_column_validation_accepts_iff_regex(name):
    ok = bool(_COLUMN_RE.match(name))
    if ok:
        assert_safe_column_name(name)
    else:
        with pytest.raises(ValueError):
            assert_safe_column_name(name)


@given(st.text(max_size=30))
def test_quote_identifier_roundtrip_shape(name):
    q = quote_identifier(name)
    # always fully quoted, embedded quotes doubled
    assert q.startswith('"') and q.endswith('"')
    for seg in name.split("."):
        assert '"' + seg.replace('"', '""') + '"' in q


@given(st.lists(st.text(max_size=20), max_size=10))
def test_parse_column_map_never_crashes(pairs):
    m = parse_column_map(pairs)
    for src, dst in m.items():
        assert src and dst and "=" in f"{src}={dst}"


# ------------------------------------------------- spark expressions


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


COPY_CONTROL = {"\t": "\\t", "\r": "\\r", "\n": "\\n", "\\": "\\\\"}


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=30
        ),
        min_size=1,
        max_size=8,
    )
)
def test_copy_escape_property(spark, values):
    """For arbitrary strings: escaped output contains no raw TAB/CR/LF
    and unescaping recovers the original exactly."""
    from parquet_to_sql_spark.normalize import copy_lines

    df = spark.createDataFrame([(v,) for v in values], "s string")
    lines = [r.line for r in copy_lines(df).collect()]
    for line in lines:
        assert "\t" not in line and "\r" not in line and "\n" not in line

    def unescape(s: str) -> str:
        out, i = [], 0
        while i < len(s):
            if s[i] == "\\" and i + 1 < len(s):
                nxt = s[i + 1]
                out.append({"t": "\t", "r": "\r", "n": "\n", "\\": "\\"}.get(nxt, "\\" + nxt))
                i += 2
            else:
                out.append(s[i])
                i += 1
        return "".join(out)

    got = sorted(unescape(line) for line in lines)
    want = sorted(v if v != "" else "" for v in values)
    assert got == want


@settings(max_examples=20, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=50))
def test_fold_hash_range_and_determinism(spark, s):
    """fold hash is always in [0, 2^31-1) and equals a pure-Python
    reimplementation (the cross-engine contract)."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.functions.hashing import FOLD_MOD, char_fold_hash

    df = spark.createDataFrame([(s,)], "s string")
    h = df.select(char_fold_hash(F.col("s")).alias("h")).collect()[0].h
    assert 0 <= h < FOLD_MOD
    expect = 0
    for ch in s:
        expect = (expect * 31 + ord(ch)) % FOLD_MOD
    assert h == expect, f"fold mismatch for {s!r}"


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """The iterative hash-min operator must agree with a sequential
    union-find on arbitrary random graphs (self-loops, parallel edges,
    multiple components, isolated nodes)."""
    from parquet_to_sql_spark.operators.dedup import connected_components

    nodes = sorted({0, 30} | {v for e in edges for v in e})

    # reference: plain union-find
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in the component
    comp_of = {}
    for v in nodes:
        r = find(v)
        comp_of.setdefault(r, []).append(v)
    want = {v: min(vs) for r, vs in comp_of.items() for v in vs}

    pairs_df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "doc1 long, doc2 long"
    )
    nodes_df = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    got = {
        r.node: r.label
        for r in connected_components(
            pairs_df, nodes_df, "doc1", "doc2", "doc_id"
        ).collect()
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=0,
        max_size=40,
    )
)
def test_cc_star_matches_union_find(spark, edges):
    """The alternating large-star/small-star operator must agree with a
    sequential union-find on arbitrary random graphs (self-loops,
    parallel edges, multiple components, isolated nodes) — same
    contract as the hash-min variant."""
    from parquet_to_sql_spark.operators.dedup import connected_components_star

    nodes = sorted({0, 30} | {v for e in edges for v in e})
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_of = {}
    for v in nodes:
        comp_of.setdefault(find(v), []).append(v)
    want = {v: min(vs) for vs in comp_of.values() for v in vs}

    pairs_df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "doc1 long, doc2 long"
    )
    nodes_df = spark.createDataFrame([(v,) for v in nodes], "doc_id long")
    got = {
        r.node: r.label
        for r in connected_components_star(
            pairs_df, nodes_df, "doc1", "doc2", "doc_id"
        ).collect()
    }
    assert got == want


def _winnow_reference(words: list[str], k: int = 3, w: int = 4):
    """Sequential reference implementation of Schleimer et al.'s
    winnowing over word k-grams with the 31-ary fold hash: returns the
    {(pos, hash)} fingerprint set (1-based positions, rightmost-min
    selection)."""
    M = 2_147_483_647

    def fold(s: str) -> int:
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % M
        return h

    hs = [fold(" ".join(words[i : i + k])) for i in range(len(words) - k + 1)]
    if not hs:
        return set()
    L = min(w, len(hs))
    out = set()
    for i in range(max(len(hs) - w + 1, 1)):
        win = hs[i : i + L]
        mn = min(win)
        # rightmost occurrence of the minimum
        j = max(idx for idx, v in enumerate(win) if v == mn)
        out.add((i + j + 1, hs[i + j]))
    return out


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh word1 word2".split()),
            max_size=12,
        ),
        min_size=1,
        max_size=5,
    )
)
def test_winnowing_matches_sequential_reference(spark, docs):
    """The row-local Column-expression winnowing must agree with the
    sequential reference on arbitrary word sequences (duplicate words,
    ties between equal hashes, docs shorter than k or w)."""
    from parquet_to_sql_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(df, "doc_id", "text", k=3, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    want = {
        i: _winnow_reference(ws)
        for i, ws in enumerate(docs)
        if _winnow_reference(ws)
    }
    assert got == want


def _containment_reference(docs: dict[int, list[str]], n: int = 3, pct: int = 80):
    """Sequential reference for ngram_containment_pairs (hashed=True):
    per-doc distinct shingle-hash sets via the word-hash composition,
    directed 80% containment flags, doc1 < doc2."""
    M = 2_147_483_647

    def fold(s: str) -> int:
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % M
        return h

    sets = {}
    for d, words in docs.items():
        hw = [fold(w) for w in words]
        hs = set()
        for i in range(len(hw) - n + 1):
            acc = hw[i]
            for off in range(1, n):
                acc = (acc * 31 + hw[i + off]) % M
            hs.add(acc)
        sets[d] = hs
    out = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = len(sets[a] & sets[b])
            if common == 0:
                continue
            a_in_b = 100 * common >= pct * len(sets[a])
            b_in_a = 100 * common >= pct * len(sets[b])
            if a_in_b or b_in_a:
                out[(a, b)] = (common, len(sets[a]), len(sets[b]), a_in_b, b_in_a)
    return out


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from("tok1 tok2 tok3 tok4 tok5 tok6".split()),
            min_size=0,
            max_size=10,
        ),
        min_size=2,
        max_size=4,
    )
)
def test_containment_matches_sequential_reference(spark, docs):
    """The distributed containment operator must agree with a
    sequential set-arithmetic reference on arbitrary small corpora
    (duplicate words, empty docs, full-overlap cases)."""
    from parquet_to_sql_spark.operators.dedup import ngram_containment_pairs

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        (r.doc1, r.doc2): (r.common, r.n1, r.n2, r.doc1_in_doc2, r.doc2_in_doc1)
        for r in ngram_containment_pairs(
            df, "doc_id", "text", n=3, threshold_pct=80, hashed=True
        ).collect()
    }
    want = _containment_reference({i: ws for i, ws in enumerate(docs)})
    assert got == want


def test_triangle_counts_matches_bruteforce(spark):
    """Degree-ordered triangle counting vs brute-force enumeration on
    random graphs: every vertex's participation count must match the
    itertools reference exactly."""
    import itertools
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 30
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(n), rng.randrange(n)) for _ in range(120)
                )
                if a != b
            }
        )
        eset = set(edges)
        want: dict[int, int] = {}
        for x, y, z in itertools.combinations(range(n), 3):
            if (x, y) in eset and (x, z) in eset and (y, z) in eset:
                for v in (x, y, z):
                    want[v] = want.get(v, 0) + 1

        from parquet_to_sql_spark.operators.dedup import triangle_counts

        df = spark.createDataFrame(edges, "doc1 long, doc2 long")
        got = {r.doc_id: r.n_triangles for r in triangle_counts(df).collect()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_pagerank_int_matches_sequential_reference(spark):
    """Fixed-point PageRank vs a sequential integer reference on a
    random graph: identical BIGINT arithmetic must yield identical
    scores (that determinism is the operator's whole contract)."""
    import random

    rng = random.Random(11)
    n = 25
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(80))
            if a != b
        }
    )
    adj: dict[int, list[int]] = {}
    for x, y in edges:
        adj.setdefault(x, []).append(y)
        adj.setdefault(y, []).append(x)
    scores = {v: 1_000_000 for v in adj}
    for _ in range(3):
        inflow: dict[int, int] = {v: 0 for v in adj}
        for u, nbrs in adj.items():
            c = scores[u] // len(nbrs)
            for v in nbrs:
                inflow[v] += c
        scores = {v: 150_000 + (85 * s) // 100 for v, s in inflow.items()}

    from parquet_to_sql_spark.operators.dedup import pagerank_int

    df = spark.createDataFrame(edges, "doc1 long, doc2 long")
    got = {r.node: r.pr_scaled for r in pagerank_int(df, iterations=3).collect()}
    assert got == scores


def test_binned_range_join_matches_bruteforce(spark):
    """Interval binning vs brute force on random integer intervals,
    including negative bounds and spans crossing zero (the truncating
    div's non-floor behavior near zero is the edge the bin-coverage
    superset argument must survive)."""
    import random

    rng = random.Random(23)
    for trial in range(3):
        ivals = [
            (i, lo, lo + rng.randrange(0, 250))
            for i, lo in enumerate(rng.randrange(-300, 300) for _ in range(40))
        ]
        probes = [(rng.randrange(-350, 350),) for _ in range(120)]
        want = sorted(
            (i, x)
            for (i, lo, hi) in ivals
            for (x,) in probes
            if lo <= x < hi
        )
        from parquet_to_sql_spark.operators.relational import binned_range_join

        idf = spark.createDataFrame(ivals, "iid long, lo long, hi long")
        pdf = spark.createDataFrame(probes, "x long")
        got = sorted(
            (r.iid, r.x)
            for r in binned_range_join(idf, pdf, bin_width=100).collect()
        )
        assert got == want, f"trial {trial}"


def test_banded_hamming_pairs_matches_bruteforce(spark):
    """The shared pigeonhole-band candidate generator (SimHash + aHash
    paths) vs brute force: for random sketches it must return exactly
    the pairs within the radius — the pigeonhole guarantee says no
    candidate within radius is ever missed by the band join."""
    import random

    from parquet_to_sql_spark.operators.dedup import banded_hamming_pairs

    rng = random.Random(31)
    for bits, radius in ((24, 1), (24, 2), (16, 3)):
        rows = [(i, rng.getrandbits(bits)) for i in range(60)]
        # plant some near-duplicates: copies with <= radius bits flipped
        for i in range(60, 80):
            base = rows[rng.randrange(60)][1]
            for _ in range(rng.randrange(0, radius + 1)):
                base ^= 1 << rng.randrange(bits)
            rows.append((i, base))
        want = sorted(
            (a, b, bin(sa ^ sb).count("1"))
            for (a, sa) in rows
            for (b, sb) in rows
            if a < b and bin(sa ^ sb).count("1") <= radius
        )
        sig = spark.createDataFrame(rows, "doc_id long, sk long")
        got = sorted(
            (r.doc1, r.doc2, r.hamming)
            for r in banded_hamming_pairs(
                sig.localCheckpoint(), "doc_id", "sk", bits=bits, radius=radius
            ).collect()
        )
        assert got == want and len(got) > 0, (bits, radius)


def test_banded_hamming_mega_cluster_salted_path(spark):
    """Skew guard (optimization r14, ADVICE r13): a sketch value shared
    by MORE than ``same_value_cap`` docs must expand through the salted
    distributed self-join, not the row-local g² struct array — and the
    pair set must be IDENTICAL either way.  Builds one 300-doc
    mega-cluster (all docs share sketch value 0b101010...) plus a few
    normal near-dup values, runs the operator with a cap of 50 (salted
    path engaged for the mega value) and a cap far above the corpus
    (row-local path only), and requires byte-identical output."""
    import random

    from parquet_to_sql_spark.operators.dedup import banded_hamming_pairs

    rng = random.Random(14)
    hot = 0b1010_1010_1010_1010_1010_1010
    rows = [(i, hot) for i in range(300)]  # the degenerate cluster
    rows += [(1000 + i, rng.getrandbits(24)) for i in range(40)]
    rows.append((2000, hot ^ 1))  # within radius of the hot value
    sig = spark.createDataFrame(rows, "doc_id long, sk long").localCheckpoint()

    def run(cap):
        return sorted(
            (r.doc1, r.doc2, r.hamming)
            for r in banded_hamming_pairs(
                sig, "doc_id", "sk", bits=24, radius=1, same_value_cap=cap
            ).collect()
        )

    salted = run(50)  # 300 > 50: mega value takes the salted legs
    rowlocal = run(10**6)  # everything row-local (the r13 shape)
    assert salted == rowlocal
    # sanity: the mega cluster really is in the output (300*299/2
    # same-value pairs plus its radius-1 neighbor edges)
    assert len(salted) >= 300 * 299 // 2


def test_sum_charge_hi_lo_split_exact_and_cross_engine(spark):
    """ADVICE r04: SUM(CHARGE_CENTS) (scale 1e6, <= ~1e11/row) would
    hit the int64 ceiling near SF ~60 where DuckDB silently promotes
    to HUGEINT and Spark ANSI-errors.  SUM_CHARGE splits each term
    into (hi, lo) = (x div 1e6, x mod 1e6) BIGINT sums — safe past
    1e12 rows/group — and recomposes in double.  Pin: on extreme
    2-decimal inputs the identical fragment text gives Spark == DuckDB
    == exact-Fraction arithmetic."""
    import random
    from fractions import Fraction

    import duckdb

    from parquet_to_sql_spark.queries.relational import SUM_CHARGE

    rng = random.Random(7)
    rows = []
    for _ in range(500):
        # worst-case money values: price up to the 999999.99 schema max
        price = round(rng.uniform(900000, 999999.99), 2)
        disc = round(rng.choice([0.0, 0.01, 0.1]), 2)
        tax = round(rng.choice([0.0, 0.08]), 2)
        rows.append((price, disc, tax))

    def cents(x):
        return int(round(Fraction(repr(x)) * 100))

    exact = sum(
        cents(p) * (100 - cents(d)) * (100 + cents(t))
        for p, d, t in rows
    )
    # exact integer -> the fragment's double recomposition
    hi, lo = divmod(exact, 10**6)
    want = (float(hi) * 1e6 + float(lo)) / 1e6

    sdf = spark.createDataFrame(
        rows, "l_extendedprice double, l_discount double, l_tax double"
    )
    sdf.createOrReplaceTempView("lineitem_extreme")
    got_spark = spark.sql(
        f"SELECT {SUM_CHARGE} AS s FROM lineitem_extreme"
    ).collect()[0].s

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem_extreme AS SELECT * FROM (VALUES "
        + ",".join(f"({p!r}, {d!r}, {t!r})" for p, d, t in rows)
        + ") t(l_extendedprice, l_discount, l_tax)"
    )
    got_duck = con.execute(
        f"SELECT {SUM_CHARGE} AS s FROM lineitem_extreme"
    ).fetchone()[0]

    assert got_spark == got_duck == want


def test_prefix_filter_jaccard_is_lossless_vs_full_join(spark):
    """The PPJoin claim: prefix filtering (index only each doc's
    rarest n - ceil(t*n) + 1 shingles) returns EXACTLY the full
    inverted-index join's answer for Jaccard >= t — same pairs, same
    scores — unlike the doc-frequency cap, which changes the measure.
    Checked on the real sf0.01 corpus."""
    from parquet_to_sql_spark.catalog import load_table
    from parquet_to_sql_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from tests.conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents")
    full = {
        (r.doc1, r.doc2): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5,
            max_doc_freq=None, hashed=True,
        ).collect()
    }
    pref = {
        (r.doc1, r.doc2): r.jaccard
        for r in prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold_pct=50
        ).collect()
    }
    assert pref == full and len(pref) > 0


def test_kcore_peel_matches_sequential_reference(spark):
    """kcore_peel's fixed-round distributed peel must agree with a
    sequential Python peel of the same number of rounds, on random
    graphs including stars (peel fully), cliques (survive intact),
    and chains (peel from the ends)."""
    import random

    from parquet_to_sql_spark.operators.dedup import kcore_peel

    rng = random.Random(11)
    for trial in range(4):
        edges = set()
        # clique of 5 (every vertex degree 4 — survives k=3 forever)
        for i in range(5):
            for j in range(i + 1, 5):
                edges.add((i, j))
        # star on 6 (hub degree 5, leaves 1 — leaves peel, then hub)
        for leaf in range(10, 16):
            edges.add((6, leaf))
        # random sprinkle
        for _ in range(30):
            u, v = rng.randrange(20), rng.randrange(20)
            if u != v:
                edges.add((min(u, v), max(u, v)))
        k, rounds = rng.choice([(2, 2), (3, 3), (3, 1)])

        und = set()
        for u, v in edges:
            und.add((u, v)); und.add((v, u))
        for _ in range(rounds):
            deg = {}
            for u, _v in und:
                deg[u] = deg.get(u, 0) + 1
            keep = {u for u, d in deg.items() if d >= k}
            und = {(u, v) for u, v in und if u in keep and v in keep}
        want = {}
        for u, _v in und:
            want[u] = want.get(u, 0) + 1

        df = spark.createDataFrame(
            sorted(edges), "doc1 long, doc2 long"
        )
        got = {
            r.doc_id: r.residual_degree
            for r in kcore_peel(df, "doc1", "doc2", k=k, rounds=rounds).collect()
        }
        assert got == want, (trial, k, rounds)


def test_repeated_spans_matches_sequential_reference(spark):
    """repeated_spans must report exactly the maximal constant-offset
    runs a sequential scan finds — planted shared spans (including
    two disjoint shared spans between the same pair, and a shared
    span duplicated at two offsets) and random noise."""
    import random

    from parquet_to_sql_spark.operators.dedup import repeated_spans

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(200)]
    K, MIN = 4, 6

    def rand_words(n):
        return [rng.choice(vocab) for _ in range(n)]

    shared_a = rand_words(9)     # >= MIN tokens -> must be reported
    shared_b = rand_words(7)
    docs = {
        1: rand_words(15) + shared_a + rand_words(10) + shared_b + rand_words(5),
        2: rand_words(3) + shared_a + rand_words(20) + shared_b + rand_words(8),
        3: shared_a + rand_words(12) + shared_a + rand_words(4),  # twice
        4: rand_words(40),
    }

    # sequential reference over TOKEN positions: hash k-grams the same
    # way (position i matches iff tokens equal — vocab words are
    # distinct strings so fold-hash collisions are not a concern here)
    def kgrams(ws):
        return [" ".join(ws[i : i + K]) for i in range(len(ws) - K + 1)]

    want = set()
    ids = sorted(docs)
    for i1 in range(len(ids)):
        for i2 in range(i1 + 1, len(ids)):
            d1, d2 = ids[i1], ids[i2]
            g1, g2 = kgrams(docs[d1]), kgrams(docs[d2])
            matches = {}
            for p1, ga in enumerate(g1, start=1):
                for p2, gb in enumerate(g2, start=1):
                    if ga == gb:
                        matches.setdefault(p2 - p1, []).append(p1)
            for off, ps in matches.items():
                ps = sorted(set(ps))
                run = [ps[0]]
                for p in ps[1:] + [None]:
                    if p is not None and p == run[-1] + 1:
                        run.append(p)
                    else:
                        span = len(run) + K - 1
                        if span >= MIN:
                            want.add((d1, d2, run[0], run[0] + off, span))
                        if p is not None:
                            run = [p]
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in docs.items()], "doc_id long, text string"
    )
    got = {
        (r.doc1, r.doc2, r.start1, r.start2, r.span_tokens)
        for r in repeated_spans(
            df, "doc_id", "text", k=K, min_tokens=MIN, max_occ=1000
        ).collect()
    }
    assert got == want and len(got) >= 4


def test_prefix_sum_matches_sequential_and_weighted_pps(spark):
    """The distributed two-level prefix sum must equal a sequential
    cumulative sum for ANY input distribution/partitioning, and the
    systematic PPS sample built on it must match the sequential draw
    and select close to m rows."""
    import random

    from parquet_to_sql_spark.operators.prefix import (
        prefix_sum,
        weighted_systematic_sample,
    )

    rng = random.Random(31)
    for trial in range(3):
        n = rng.choice([1, 7, 500, 2000])
        rows = [(i, rng.randrange(0, 1000)) for i in range(n)]
        rng.shuffle(rows)  # arrival order != key order
        df = spark.createDataFrame(rows, "k long, w long").repartition(
            rng.choice([1, 5, 32])
        )
        got = {
            r.k: r.running_total
            for r in prefix_sum(df, ["k"], "w").collect()
        }
        cum, want = 0, {}
        for k, w in sorted(rows):
            cum += w
            want[k] = cum
        assert got == want, (trial, n)

        m = 37
        sel = {
            r.k for r in weighted_systematic_sample(df, ["k"], "w", m).collect()
        }
        W = cum
        ref = set()
        c = 0
        for k, w in sorted(rows):
            lo, c = c, c + w
            if (c * m - (c * m) % W) // W > (lo * m - (lo * m) % W) // W:
                ref.add(k)
        assert sel == ref, (trial, n)
        assert len(sel) <= m and (W == 0 or len(sel) >= 1)


def test_sorted_neighborhood_matches_sequential_reference(spark):
    """sorted_neighborhood_pairs must report exactly the pairs a
    sequential sort-and-slide finds (same sort key, same window, same
    radius), each with its true Hamming distance — checked on the
    real sf0.001 corpus against a driver-side reference."""
    from parquet_to_sql_spark.catalog import load_table
    from parquet_to_sql_spark.operators.dedup import sorted_neighborhood_pairs
    from parquet_to_sql_spark.operators.text import simhash_sketch

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    sig = sorted(
        (r.simhash, r.doc_id)
        for r in simhash_sketch(docs, "doc_id", "text", bits=24).collect()
    )
    W, R = 4, 3
    want = set()
    for i, (sh1, id1) in enumerate(sig):
        for sh2, id2 in sig[i + 1 : i + 1 + W]:
            h = bin(sh1 ^ sh2).count("1")
            if h <= R:
                want.add((min(id1, id2), max(id1, id2), h))
    got = {
        (r.doc1, r.doc2, r.hamming)
        for r in sorted_neighborhood_pairs(
            docs, "doc_id", "text", bits=24, window=W, radius=R
        ).collect()
    }
    assert got == want and len(got) > 0


def test_q1_cents_arithmetic_headroom_at_10x_sf01(spark):
    """ADVICE r04's int64-ceiling concern, tested empirically past the
    gate scales: materialize lineitem at 10x sf0.1 (6M rows — group
    sums ~60x the driver gate's) and run q1's shared SQL text on BOTH
    engines.  Under Spark's ANSI mode an overflow would raise loudly;
    the SUM_CHARGE hi/lo split must stay exact and cross-engine
    equal."""
    import duckdb

    from parquet_to_sql_spark.queries.registry import all_queries

    oracle = all_queries()["q1_pricing_summary"].oracle
    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    big = li
    for _ in range(9):
        big = big.unionAll(li)
    big.createOrReplaceTempView("lineitem")
    got = sorted(
        tuple(map(str, r)) for r in spark.sql(oracle).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW li0 AS SELECT * FROM"
        " read_parquet('/root/testdata/sf0.1/lineitem.parquet')"
    )
    con.execute(
        "CREATE VIEW lineitem AS "
        + " UNION ALL ".join(["SELECT * FROM li0"] * 10)
    )
    want = sorted(tuple(map(str, r)) for r in con.execute(oracle).fetchall())
    assert got == want and len(got) > 0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                  # doc
            st.integers(1, 40),                 # start
            st.integers(1, 12),                 # length
        ),
        min_size=1,
        max_size=15,
    )
)
def test_merge_token_intervals_covers_exactly_the_input_union(spark, items):
    """merge_token_intervals must emit per-doc intervals that are (a)
    disjoint AND non-adjacent, (b) sorted, and (c) cover exactly the
    union of the input positions — for any interval soup, including
    duplicates, containment, and chains of adjacency."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.dedup import merge_token_intervals

    rows = [(d, s, s + ln - 1) for d, s, ln in items]
    cuts = spark.createDataFrame(rows, "doc long, s long, e long")
    got = merge_token_intervals(cuts).collect()

    by_doc: dict[int, list[tuple[int, int]]] = {}
    for r in got:
        assert r.cut_tokens == r.cut_end - r.cut_start + 1
        by_doc.setdefault(r.doc, []).append((r.cut_start, r.cut_end))
    want_docs = {d for d, _, _ in rows}
    assert set(by_doc) == want_docs
    for d, ivals in by_doc.items():
        ivals.sort()
        # disjoint and non-adjacent: each starts >= prev end + 2
        for (s1, e1), (s2, e2) in zip(ivals, ivals[1:]):
            assert s2 > e1 + 1, f"doc {d}: {ivals} not fully merged"
        covered = set()
        for s, e in ivals:
            covered.update(range(s, e + 1))
        want = set()
        for dd, s, e in rows:
            if dd == d:
                want.update(range(s, e + 1))
        assert covered == want, f"doc {d}: coverage mismatch"


def test_binned_overlap_join_matches_bruteforce(spark):
    """Interval-overlap binning vs brute force on random integer
    intervals, negative and zero-crossing included.  Exactly-once is
    the property under test: a pair overlapping across many shared
    bins must appear ONCE (the greatest-lo bin emission), and 0-length
    touching intervals (a_lo == b_hi) count as overlapping (closed
    intervals)."""
    import random

    from parquet_to_sql_spark.operators.relational import binned_overlap_join

    rng = random.Random(41)
    for trial in range(3):
        left = [
            (i, lo, lo + rng.randrange(0, 350))
            for i, lo in enumerate(rng.randrange(-400, 400) for _ in range(35))
        ]
        right = [
            (j, lo, lo + rng.randrange(0, 350))
            for j, lo in enumerate(rng.randrange(-400, 400) for _ in range(35))
        ]
        want = sorted(
            (i, j)
            for (i, a_lo, a_hi) in left
            for (j, b_lo, b_hi) in right
            if a_lo <= b_hi and b_lo <= a_hi
        )
        ldf = spark.createDataFrame(left, "lid long, a_lo long, a_hi long")
        rdf = spark.createDataFrame(right, "rid long, b_lo long, b_hi long")
        got = sorted(
            (r.lid, r.rid)
            for r in binned_overlap_join(
                ldf, rdf, "a_lo", "a_hi", "b_lo", "b_hi", bin_width=100
            ).collect()
        )
        assert got == want, f"trial {trial}"


def test_sequence_gaps_matches_bruteforce(spark):
    """sequence_gaps vs a sequential scan on random sparse key sets,
    across shuffle-partition counts — the partition SEAMS (a gap
    spanning two range partitions) are the part the decomposition
    must get right; duplicates must not fabricate gaps."""
    import random

    from parquet_to_sql_spark.operators.relational import sequence_gaps

    rng = random.Random(67)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for trial, n_parts in ((0, "1"), (1, "5"), (2, "13")):
            spark.conf.set("spark.sql.shuffle.partitions", n_parts)
            keys = sorted(rng.sample(range(0, 3000), 400))
            keys += keys[:25]  # duplicates
            want = []
            uniq = sorted(set(keys))
            for a, b in zip(uniq, uniq[1:]):
                if b > a + 1:
                    want.append((a + 1, b - 1, b - a - 1))
            df = spark.createDataFrame([(k,) for k in keys], "o_orderkey long")
            got = sorted(
                (r.gap_start, r.gap_end, r.gap_len)
                for r in sequence_gaps(df, "o_orderkey").collect()
            )
            assert got == sorted(want), f"trial {trial} parts {n_parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_sequence_gaps_ignores_null_keys(spark):
    """A NULL ID is 'unassigned', not a point on the sequence: nulls
    must neither crash the driver-side seam arithmetic (an all-null
    range partition used to surface as a (None, None) boundary row and
    raise TypeError on `lo > prev_hi + 1`) nor perturb the gaps.  The
    null count deliberately dwarfs the key count so several range
    partitions are entirely null."""
    from parquet_to_sql_spark.operators.relational import sequence_gaps

    keys = [1, 2, 5, 9, 10] + [None] * 500
    df = spark.createDataFrame([(k,) for k in keys], "o_orderkey long")
    got = sorted(
        (r.gap_start, r.gap_end, r.gap_len)
        for r in sequence_gaps(df, "o_orderkey").collect()
    )
    assert got == [(3, 4, 2), (6, 8, 3)]


# (keys, shuffle partitions, which keys carry a NULL value): the
# degenerate inputs of the two-level scans.  "seam_gaps_only" is four
# 10-key runs over 4 partitions: with every row sampled, range
# partitioning puts one run in each partition, so each gap is found
# only at a seam.  The NULL-value cases leave whole partitions, or
# every row's in-partition prefix, without a non-NULL value.
_TWO_LEVEL_CASES = {
    "empty": ([], 4, None),
    "all_null_keys": ([None] * 50, 4, None),
    "single_row": ([7], 4, None),
    "more_partitions_than_rows": ([3, 5, 6, 10, 11], 16, None),
    "seam_gaps_only": ([k for base in (0, 20, 40, 60) for k in range(base, base + 10)], 4, None),
    "null_values_upper_half": (list(range(40)), 4, lambda k: k >= 20),
    "null_values_k_mod_10_lt_5": (list(range(40)), 4, lambda k: k % 10 < 5),
    "all_null_values": (list(range(40)), 4, lambda k: True),
}


@pytest.mark.parametrize("case", sorted(_TWO_LEVEL_CASES))
def test_two_level_scans_on_degenerate_inputs(spark, case):
    """prefix_sum, grouped_prefix_sum and sequence_gaps vs their
    references (the SQL windows, a sequential gap scan) on inputs that
    leave the driver-side offsets/seams relation empty, all-NULL, one
    row, made only of seams, or summing NULL values."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from parquet_to_sql_spark.operators.prefix import grouped_prefix_sum, prefix_sum
    from parquet_to_sql_spark.operators.relational import sequence_gaps
    from parquet_to_sql_spark.session import local_relation

    keys, n_parts, null_w = _TWO_LEVEL_CASES[case]
    rows = [
        (k, i, None if null_w and null_w(k) else 3 * i + 1, None if k is None else k % 2)
        for i, k in enumerate(keys)
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    try:
        df = local_relation(spark, rows, "k long, tb long, w long, g long")
        if case == "seam_gaps_only":
            runs = sorted(
                (r.lo, r.hi)
                for r in df.repartitionByRange(n_parts, "k")
                .groupBy(F.spark_partition_id().alias("p"))
                .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
                .collect()
            )
            assert runs == [(0, 9), (20, 29), (40, 49), (60, 69)]

        def sums(frame, col):
            return {r.tb: r[col] for r in frame.collect()}

        want_sums = sums(df.withColumn("s", F.sum("w").over(Window.orderBy("k", "tb"))), "s")
        got_sums = sums(prefix_sum(df, ["k", "tb"], "w"), "running_total")
        assert got_sums == want_sums
        grouped = Window.partitionBy("g").orderBy("k", "tb")
        assert sums(grouped_prefix_sum(df, ["g"], ["k", "tb"], "w"), "running_total") == sums(
            df.withColumn("s", F.sum("w").over(grouped)), "s"
        )

        uniq = sorted({k for k in keys if k is not None})
        want_gaps = [(a + 1, b - 1, b - a - 1) for a, b in zip(uniq, uniq[1:]) if b > a + 1]
        got_gaps = sorted(
            (r.gap_start, r.gap_end, r.gap_len) for r in sequence_gaps(df, "k").collect()
        )
        assert got_gaps == want_gaps
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_grouped_prefix_sum_matches_bruteforce(spark):
    """grouped_prefix_sum vs sequential per-group running sums on a
    skewed random input (one hot group holding most rows — the case a
    plain PARTITION BY window handles in one task), swept across
    shuffle-partition counts so group/partition seams land
    differently each trial.  ~10% of rows carry a NULL group key:
    PARTITION BY treats NULL as its own partition, and the null-safe
    join-back must return those rows with correct totals instead of
    dropping them (ADVICE r07)."""
    import random

    from parquet_to_sql_spark.operators.prefix import grouped_prefix_sum

    rng = random.Random(29)
    rows = []
    for i in range(600):
        r = rng.random()
        g = None if r < 0.1 else ("hot" if r < 0.7 else f"g{rng.randrange(8)}")
        rows.append((g, i, rng.randrange(-50, 100)))
    want = {}
    acc: dict[str | None, int] = {}
    for g, i, v in sorted(rows, key=lambda r: (r[1],)):
        acc[g] = acc.get(g, 0) + v
        want[(g, i)] = acc[g]
    df = spark.createDataFrame(rows, "g string, k long, v long")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n_parts in ("1", "7", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n_parts)
            got = {
                (r.g, r.k): r.rt
                for r in grouped_prefix_sum(df, ["g"], ["k"], "v", "rt").collect()
            }
            assert got == want, f"parts {n_parts}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


_URL_LABEL = st.from_regex(r"[a-z][a-z0-9]{0,6}", fullmatch=True)
_URL_KEY = st.one_of(
    _URL_LABEL,
    st.sampled_from(["utm_source", "utm_x", "fbclid", "gclid", "ref", "keep"]),
)


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["http", "https"]),
            st.lists(_URL_LABEL, min_size=1, max_size=3),  # host labels
            st.lists(_URL_LABEL, min_size=0, max_size=3),  # path segments
            st.booleans(),  # trailing slash
            st.lists(st.tuples(_URL_KEY, _URL_LABEL), min_size=0, max_size=4),
            st.booleans(),  # fragment
            st.booleans(),  # uppercase host
        ),
        min_size=1,
        max_size=8,
    )
)
def test_canonical_url_matches_reference(spark, specs):
    """canonical_url vs a sequential Python reference over randomized
    well-formed URL structures: host label counts, empty/root paths,
    trailing slashes, duplicate/tracking/empty param mixes, fragments,
    case variance.  (Malformed-URL behavior is pinned separately by
    the case test; generation stays inside the shapes where
    java.net.URI and the reference agree on component splitting.)"""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import (
        TRACKING_PARAM_PREFIXES,
        TRACKING_PARAMS,
        canonical_url,
    )

    def build(spec):
        scheme, hl, pseg, slash, params, frag, up = spec
        host = ".".join(hl)
        path = ("/" + "/".join(pseg)) if pseg else ""
        if slash:
            path += "/"
        url = f"{scheme.upper() if up else scheme}://{host.upper() if up else host}{path}"
        if params:
            url += "?" + "&".join(f"{k}={v}" for k, v in params)
        if frag:
            url += "#frag"
        return url

    def ref(spec):
        scheme, hl, pseg, slash, params, frag, up = spec
        host = ".".join(hl)
        path = ("/" + "/".join(pseg)) if pseg else ""
        if slash:
            path += "/"
        if len(path) > 1 and path.endswith("/"):
            path = path[:-1]
        kept = sorted(
            f"{k}={v}"
            for k, v in params
            if k not in TRACKING_PARAMS
            and not any(k.startswith(p) for p in TRACKING_PARAM_PREFIXES)
        )
        q = ("?" + "&".join(kept)) if kept else ""
        return f"{scheme}://{host}{path}{q}"

    urls = [build(s) for s in specs]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    got = {
        r.i: r.c
        for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()
    }
    want = {i: ref(s) for i, s in enumerate(specs)}
    assert got == want


_RAKE_TOKEN = st.one_of(
    st.from_regex(r"[a-z]{1,6}", fullmatch=True),      # phrase words
    st.sampled_from(["the", "and", "of", "la", "und"]),  # stopwords
    st.sampled_from(["x.y", "a,b", "1st", "--", "Mixed", "é"]),  # boundaries
)


@settings(max_examples=12, deadline=None)
@given(st.lists(st.lists(_RAKE_TOKEN, min_size=0, max_size=12), min_size=1,
                max_size=5))
def test_rake_phrase_extraction_matches_reference(spark, docs_tokens):
    """The RAKE boundary mapping (stopword / non-[a-z]+ token ->
    phrase break) against a sequential reference, over random token
    streams mixing phrase words, stopwords, punctuation-bearing
    tokens, digits, and non-ASCII — the inputs where a regex-split
    divergence between the Spark expression chain and the oracle's
    string round-trip would hide."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.text import _ALL_STOPWORDS, ws_tokens

    stops = set(_ALL_STOPWORDS)

    def ref_phrases(tokens):
        out, cur = [], []
        for t in tokens:
            if re.fullmatch(r"[a-z]+", t) and t not in stops:
                cur.append(t)
            else:
                if cur:
                    out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows, "i long, text string")
    toks = ws_tokens(F.lower(F.col("text")))
    mapped = F.transform(
        toks,
        lambda w: F.when(
            w.rlike("^[a-z]+$") & ~w.isin(*_ALL_STOPWORDS), w
        ).otherwise(F.lit("|")),
    )
    phrases_arr = F.filter(
        F.transform(
            F.split(F.array_join(mapped, " "), r" *\| *"),
            lambda p: F.trim(p),
        ),
        lambda p: p != "",
    )
    got = {r.i: r.p for r in df.select("i", phrases_arr.alias("p")).collect()}
    for i, toks_list in enumerate(docs_tokens):
        # ws_tokens lower-cases AFTER our text join; reference lowers
        # each token the same way
        want = ref_phrases([t.lower() for t in " ".join(toks_list).split()])
        assert got[i] == want, (toks_list, got[i], want)


def test_exact_line_dedup_matches_bruteforce(spark):
    """dedup_exact_lines_apply's keep/drop verdicts against a
    sequential reference on constructed documents with shared
    boilerplate lines, blank lines, and order-dependent first
    occurrences."""
    from parquet_to_sql_spark.queries.registry import all_queries
    import random

    rng = random.Random(17)
    boiler = [f"boilerplate {i}" for i in range(5)]
    docs = []
    for d in range(12):
        lines = []
        for _ in range(rng.randrange(1, 9)):
            r = rng.random()
            if r < 0.35:
                lines.append(rng.choice(boiler))
            elif r < 0.45:
                lines.append("   " if r < 0.40 else "")
            else:
                lines.append(f"unique {d} {rng.randrange(1000)}")
        docs.append((d, "\n".join(lines)))

    # sequential reference
    seen: set[str] = set()
    want = {}
    for d, text in sorted(docs):
        kept = dropped = chars = 0
        for line in text.split("\n"):
            if line.strip() == "":
                kept += 1
                chars += len(line)
            elif line in seen:
                dropped += 1
            else:
                seen.add(line)
                kept += 1
                chars += len(line)
        want[d] = (kept, dropped, chars + max(kept - 1, 0))

    import pandas as pd

    sf = str  # quiet lints
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [t for _, t in docs],
            "lang": "en",
            "source": "src0",
            "n_chars": [len(t) for _, t in docs],
        }
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "documents.parquet")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
        q = all_queries()["dedup_exact_lines_apply"]
        got = {
            r.doc_id: (r.n_kept, r.n_dropped, r.cleaned_chars)
            for r in q.build(spark, tmp).collect()
        }
    assert got == want


def test_backoff_lm_scores_match_sequential_reference(spark):
    """text_backoff_lm_scores against a sequential stupid-backoff
    reference over random token corpora with a deliberately split
    vocabulary: shared words (bigram path), words only ODD docs use
    (backoff-to-unigram misses too -> OOV floor 0), and rare words
    that appear in train only once — covering all three score
    branches, which the fixture corpus barely exercises (its
    vocabulary overlap leaves ~0.05% backoff share)."""
    import os
    import random
    import tempfile

    import pandas as pd

    from parquet_to_sql_spark.queries.registry import all_queries

    rng = random.Random(929)
    shared = [f"w{i}" for i in range(8)]
    odd_only = [f"odd{i}" for i in range(4)]
    docs = []
    for d in range(14):
        n = rng.randrange(0, 12)
        pool = shared if d % 2 == 0 else shared + odd_only
        docs.append((d, [rng.choice(pool) for _ in range(n)]))

    # sequential stupid-backoff reference (alpha = 0.4 exact-integer)
    from collections import Counter

    c2: Counter = Counter()
    c1: Counter = Counter()
    cu: Counter = Counter()
    n_tok = 0
    for d, toks in docs:
        if d % 2 != 0:
            continue
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] += 1
            c1[a] += 1
        for w in toks:
            cu[w] += 1
            n_tok += 1
    want = {}
    for d, toks in docs:
        # ws_tokens of the joined text: '' -> [''] like DUCK_WORDS
        eff = toks if toks else [""]
        bigs = list(zip(eff, eff[1:]))
        if not bigs:
            continue
        scores, backed = [], 0
        for a, b in bigs:
            if (a, b) in c2:
                scores.append(1_000_000 * c2[(a, b)] // c1[a])
            else:
                backed += 1
                scores.append(400_000 * cu[b] // n_tok if b in cu else 0)
        want[d] = (len(bigs), backed, sum(scores) // len(bigs), min(scores))

    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [" ".join(t) for _, t in docs],
            "lang": "en",
            "source": "src0",
            "n_chars": [len(" ".join(t)) for _, t in docs],
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "documents.parquet")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
        q = all_queries()["text_backoff_lm_scores"]
        got = {
            r.doc_id: (
                r.n_bigrams,
                r.n_backed_off,
                r.mean_score_ppm,
                r.min_score_ppm,
            )
            for r in q.build(spark, tmp).collect()
        }
    assert got == want
    # the constructed corpus must actually hit all three branches
    assert any(b == 0 for (_, b, _, _) in want.values()), "no pure-bigram doc"
    assert any(b > 0 for (_, b, _, _) in want.values()), "no backoff hit"
    assert any(m == 0 for (_, _, _, m) in want.values()), (
        "no OOV-floor hit (odd-only words must score 0)"
    )


def test_kneser_ney_scores_match_sequential_reference(spark):
    """text_kneser_ney_scores against a sequential exact-integer KN
    reference over a split-vocabulary corpus covering all four
    branches: seen pair, unseen pair under a seen context (the
    continuation back-off), unseen context (pure Pcont), and unseen
    word (floor 0)."""
    import os
    import random
    import tempfile
    from collections import Counter

    import pandas as pd

    from parquet_to_sql_spark.queries.registry import all_queries

    rng = random.Random(1231)
    shared = [f"w{i}" for i in range(8)]
    odd_only = [f"odd{i}" for i in range(4)]
    docs = []
    for d in range(16):
        n = rng.randrange(0, 12)
        pool = shared if d % 2 == 0 else shared + odd_only
        docs.append((d, [rng.choice(pool) for _ in range(n)]))

    c2: Counter = Counter()
    for d, toks in docs:
        if d % 2 != 0:
            continue
        for a, b in zip(toks, toks[1:]):
            c2[(a, b)] += 1
    c1: Counter = Counter()
    n1: Counter = Counter()
    nc: Counter = Counter()
    for (a, b), c in c2.items():
        c1[a] += c
        n1[a] += 1
        nc[b] += 1
    T = len(c2)

    want = {}
    for d, toks in docs:
        eff = toks if toks else [""]
        bigs = list(zip(eff, eff[1:]))
        if not bigs:
            continue
        scores, no_ctx, backed = [], 0, 0
        for a, b in bigs:
            if a not in c1:
                no_ctx += 1
                scores.append(1_000_000 * nc.get(b, 0) // T)
            elif (a, b) in c2:
                scores.append(
                    1_000_000
                    * ((4 * c2[(a, b)] - 3) * T + 3 * n1[a] * nc.get(b, 0))
                    // (4 * c1[a] * T)
                )
            else:
                backed += 1
                scores.append(
                    1_000_000 * (3 * n1[a] * nc.get(b, 0))
                    // (4 * c1[a] * T)
                )
        want[d] = (len(bigs), no_ctx, backed, sum(scores) // len(bigs))

    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [" ".join(t) for _, t in docs],
            "lang": "en",
            "source": "src0",
            "n_chars": [len(" ".join(t)) for _, t in docs],
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "documents.parquet")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
        q = all_queries()["text_kneser_ney_scores"]
        got = {
            r.doc_id: (
                r.n_bigrams,
                r.n_no_ctx,
                r.n_backed_off,
                r.mean_score_ppm,
            )
            for r in q.build(spark, tmp).collect()
        }
    assert got == want
    # branch coverage of the constructed corpus
    assert any(nx == 0 and b == 0 for (_, nx, b, _) in want.values())
    assert any(b > 0 for (_, _, b, _) in want.values()), "no KN backoff hit"
    assert any(nx > 0 for (_, nx, _, _) in want.values()), "no unseen-context hit"


def test_kneser_ney_trigram_matches_fraction_reference(spark):
    """text_kneser_ney_trigram against a fractions.Fraction
    sequential reference of interpolated trigram KN (d = 3/4 at both
    levels, continuation counts below the top) over a split-vocabulary
    corpus that exercises all FOUR branches: seen trigram, middle-
    model backoff (unseen trigram under a seen context), unseen
    trigram context with a seen middle word, and unseen middle word."""
    import os
    import random
    import tempfile
    from collections import Counter
    from fractions import Fraction

    import pandas as pd

    from parquet_to_sql_spark.queries.registry import all_queries

    rng = random.Random(77)
    shared = [f"w{i}" for i in range(6)]
    odd_only = [f"odd{i}" for i in range(3)]
    docs = []
    for d in range(18):
        n = rng.randrange(0, 14)
        pool = shared if d % 2 == 0 else shared + odd_only
        docs.append((d, [rng.choice(pool) for _ in range(n)]))

    c3: Counter = Counter()
    for d, toks in docs:
        if d % 2 != 0:
            continue
        for a, b, c in zip(toks, toks[1:], toks[2:]):
            c3[(a, b, c)] += 1
    c2ctx: Counter = Counter()
    n3: Counter = Counter()
    m2: Counter = Counter()
    for (a, b, c), k in c3.items():
        c2ctx[(a, b)] += k
        n3[(a, b)] += 1
        m2[(b, c)] += 1
    mctx: Counter = Counter()
    mn_set: dict = {}
    for (a, b, c) in c3:
        mctx[b] += 1
        mn_set.setdefault(b, set()).add(c)
    mn = {b: len(s) for b, s in mn_set.items()}
    nc: Counter = Counter()
    for (b, c) in m2:
        nc[c] += 1
    T = len(m2)
    d_disc = Fraction(3, 4)

    def p1(c):
        return Fraction(nc.get(c, 0), T)

    def p2(b, c):
        if b not in mctx:
            return p1(c)
        seen = Fraction(max(m2.get((b, c), 0) - d_disc, 0))
        return seen / mctx[b] + d_disc * mn[b] / mctx[b] * p1(c)

    def p3(a, b, c):
        if (a, b) not in c2ctx:
            return p2(b, c)
        seen = Fraction(max(c3.get((a, b, c), 0) - d_disc, 0))
        return (
            seen / c2ctx[(a, b)]
            + d_disc * n3[(a, b)] / c2ctx[(a, b)] * p2(b, c)
        )

    want = {}
    branch_totals = [0, 0, 0, 0]
    for d, toks in docs:
        tris = list(zip(toks, toks[1:], toks[2:]))
        if not tris:
            continue
        scores, bs = [], [0, 0, 0, 0]
        for a, b, c in tris:
            scores.append(int(1_000_000 * p3(a, b, c)))  # floor
            if (a, b) in c2ctx and (a, b, c) in c3:
                bs[0] += 1
            elif (a, b) in c2ctx:
                bs[1] += 1
            elif b in mctx:
                bs[2] += 1
            else:
                bs[3] += 1
        for i in range(4):
            branch_totals[i] += bs[i]
        want[d] = (len(tris), *bs, sum(scores) // len(tris))

    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "text": [" ".join(t) for _, t in docs],
            "lang": "en",
            "source": "src0",
            "n_chars": [len(" ".join(t)) for _, t in docs],
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "documents.parquet")
        spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
        q = all_queries()["text_kneser_ney_trigram"]
        got = {
            r.doc_id: (
                r.n_trigrams, r.n_full, r.n_mid_backed,
                r.n_ctx_backed, r.n_unigram, r.mean_score_ppm,
            )
            for r in q.build(spark, tmp).collect()
        }
    assert got == want
    assert all(t > 0 for t in branch_totals), (
        f"corpus must exercise all four branches: {branch_totals}"
    )


def test_trigram_perplexity_buckets_match_sequential_boundaries(spark):
    """pipeline_perplexity_trigram_buckets' tercile boundaries and
    bucket memberships against a pure-Python sequential reference
    computed from the raw per-doc trigram scores (VERDICT r10 #6:
    'equivalence of the bucket boundaries against a sequential
    reference')."""
    from collections import Counter

    from parquet_to_sql_spark.queries.registry import all_queries

    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    per_doc = qs["text_kneser_ney_trigram"].build(spark, sf).select(
        "doc_id", "mean_score_ppm", "n_trigrams"
    ).collect()
    src = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "source").collect()
    }
    # sequential reference: per-source cumulative histogram terciles
    by_source: dict[str, list] = {}
    for r in per_doc:
        by_source.setdefault(src[r.doc_id], []).append(r)
    expected = Counter()
    budgets = Counter()
    for source, rows in by_source.items():
        hist = Counter(r.mean_score_ppm for r in rows)
        tot = sum(hist.values())
        cum, b1, b2 = 0, None, None
        for v in sorted(hist):
            cum += hist[v]
            if b1 is None and cum * 3 >= tot:
                b1 = v
            if b2 is None and cum * 3 >= 2 * tot:
                b2 = v
        for r in rows:
            bucket = (
                "head" if r.mean_score_ppm >= b2
                else "middle" if r.mean_score_ppm >= b1
                else "tail"
            )
            expected[(source, bucket)] += 1
            budgets[(source, bucket)] += r.n_trigrams
    got = qs["pipeline_perplexity_trigram_buckets"].build(spark, sf).collect()
    assert {
        (r.source, r.bucket): r.n_docs for r in got
    } == dict(expected)
    assert {
        (r.source, r.bucket): r.sum_trigrams for r in got
    } == dict(budgets)

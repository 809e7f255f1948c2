"""Value-exactness of the vectorized Arrow hash kernels
(operators/hashkernel.py) against the JVM higher-order-function
formulations they replace — row-by-row equality INCLUDING array order,
over the full sf0.1 documents corpus and adversarial edge strings
(empties, tab/newline whitespace, non-\\s unicode spaces, surrogate
pairs, NULLs)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import example, given, settings, strategies as st

from parquet_to_sql_spark.functions.hashing import (
    char_fold_hash,
    positional_shingles,
    shingle_hashes_from,
    word_hashes,
)
from parquet_to_sql_spark.operators import hashkernel
from parquet_to_sql_spark.operators.hashkernel import (
    hashedfold_kgram_hashes,
    simhash_arrow,
    stringfold_kgram_hashes,
    word_hash_arrays,
)
from parquet_to_sql_spark.operators.text import ws_tokens

EDGES = [
    "", " ", "  ", "a", " a", "a ", "\ta", "a\t", "a  b", "a\tb\nc",
    "x \t\n y", "a\xa0b", "a b", "a\U0001d11eb", "aéb",
    "one two three four five", "w " * 50, None,
]


def _edge_df(spark):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(EDGES)], "doc_id long, text string"
    )


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.1/documents.parquet").select(
        "doc_id", "text"
    )


def _staged_tokens(df):
    """(doc_id, _w = ws_tokens(text)) as a real column.  The JVM
    references index a words array once per shingle position; left as
    an inline expression, the array would be rebuilt at every index
    (quadratic per doc), as hashing.word_hashes documents."""
    return df.select("doc_id", ws_tokens(F.col("text")).alias("_w"))


def _staged_word_hashes(df):
    """(doc_id, hw = word_hashes(ws_tokens(text))) as a real column,
    for the same reason as _staged_tokens."""
    return df.select("doc_id", word_hashes(ws_tokens(F.col("text"))).alias("hw"))


def _assert_same(got, want, keys=("doc_id",)):
    g = {tuple(r[k] for k in keys): r for r in got.collect()}
    w = {tuple(r[k] for k in keys): r for r in want.collect()}
    assert set(g) == set(w)
    for k in g:
        assert g[k].asDict() == w[k].asDict(), f"mismatch at {k}"


@pytest.mark.parametrize("source", ["edges", "corpus"])
def test_word_hash_arrays_exact(spark, source):
    df = _edge_df(spark) if source == "edges" else _docs(spark)
    want = df.select(
        "doc_id", word_hashes(ws_tokens(F.col("text"))).alias("hw")
    )
    _assert_same(word_hash_arrays(df, "doc_id", "text"), want)


@pytest.mark.parametrize("source", ["edges", "corpus"])
@pytest.mark.parametrize("n", [2, 3])
def test_stringfold_kgrams_exact(spark, source, n):
    df = _edge_df(spark) if source == "edges" else _docs(spark)
    want = _staged_tokens(df).select(
        "doc_id",
        F.transform(
            positional_shingles(F.col("_w"), n), char_fold_hash
        ).alias("shs"),
    )
    _assert_same(stringfold_kgram_hashes(df, "doc_id", "text", n), want)


@pytest.mark.parametrize("source", ["edges", "corpus"])
@pytest.mark.parametrize("n", [3, 5])
def test_hashedfold_kgrams_exact(spark, source, n):
    df = _edge_df(spark) if source == "edges" else _docs(spark)
    want = _staged_word_hashes(df).select(
        "doc_id", shingle_hashes_from(F.col("hw"), n).alias("shs")
    )
    _assert_same(hashedfold_kgram_hashes(df, "doc_id", "text", n), want)


@pytest.mark.parametrize("source", ["edges", "corpus"])
def test_sig_and_shingle_arrays_exact(spark, source):
    """The one-pass dual kernel (optimization r14, minhash_dedup_apply):
    its ``sig`` arrays == minhash_signatures' m0..m{k-1} columns for
    every doc the JVM formulation produces (docs with no shingles emit
    an EMPTY sig array instead of no row — the banding helper's
    size == k filter drops them identically), and its ``shs`` arrays ==
    hashedfold_kgram_hashes, order included."""
    from parquet_to_sql_spark.operators.dedup import minhash_signatures
    from parquet_to_sql_spark.operators.hashkernel import sig_and_shingle_arrays

    k, n = 8, 3
    df = _edge_df(spark) if source == "edges" else _docs(spark)
    got = sig_and_shingle_arrays(df, "doc_id", "text", n=n, k=k)

    # shs == the hashedfold twin, every row (empty arrays included)
    _assert_same(
        got.select("doc_id", "shs"),
        _staged_word_hashes(df).select(
            "doc_id", shingle_hashes_from(F.col("hw"), n).alias("shs")
        ),
    )
    # sig == the JVM explode+groupBy signatures, as arrays; the JVM
    # side has no row for shingle-less docs, the kernel an empty array
    want_sig = minhash_signatures(df, "doc_id", "text", k=k, n=n).select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig")
    )
    _assert_same(got.filter(F.size("sig") == k).select("doc_id", "sig"), want_sig)
    # every other row is an empty (never NULL, never short) sig array
    assert (
        got.filter(F.size("sig") != k).filter(F.size("sig") != 0).count() == 0
    )


@pytest.mark.parametrize("source", ["edges", "corpus"])
def test_audit_mutant_stats_exact(spark, source):
    """audit_mutant_stats == the JVM formulation the production audit
    used before r13: interpreted mutant transform + array_join +
    re-tokenize + word_shingles/array_intersect + string-fold hashes,
    column by column."""
    from parquet_to_sql_spark.functions.hashing import word_shingles
    from parquet_to_sql_spark.operators.hashkernel import audit_mutant_stats

    df = _edge_df(spark) if source == "edges" else _docs(spark)
    base = df.select(
        "doc_id",
        "text",
        ws_tokens(F.col("text")).alias("_w"),
        F.expr("3 * shiftleft(1, CAST(doc_id % 5 AS INT))").alias("_p"),
    )
    mut_text = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size("_w")),
            lambda i: F.when(i % F.col("_p") == 0, F.lit("zqz")).otherwise(
                F.element_at(F.col("_w"), i)
            ),
        ),
        " ",
    )
    want = (
        base.select("doc_id", "_w", mut_text.alias("_mt"))
        .select("doc_id", "_w", ws_tokens(F.col("_mt")).alias("_wm"))
        .select(
            "doc_id",
            F.transform(
                positional_shingles(F.col("_w"), 3),
                char_fold_hash,
            ).alias("shs_o"),
            F.transform(
                positional_shingles(F.col("_wm"), 3),
                char_fold_hash,
            ).alias("shs_m"),
            word_shingles(F.col("_w"), 3).alias("_sho"),
            word_shingles(F.col("_wm"), 3).alias("_shm"),
        )
        .select(
            "doc_id",
            "shs_o",
            "shs_m",
            F.size(F.array_intersect("_sho", "_shm"))
            .cast("long")
            .alias("common"),
            F.size("_sho").cast("long").alias("n1"),
            F.size("_shm").cast("long").alias("n2"),
        )
    )
    _assert_same(audit_mutant_stats(df, "doc_id", "text", n=3), want)


@pytest.mark.parametrize("source", ["edges", "corpus"])
def test_audit_mutant_signatures_exact(spark, source):
    """audit_mutant_stats(k=…) signature arrays == the JVM
    minhash_signatures over the original and mutant corpora (the
    audit's pre-r13 formulation), including the docs-without-shingles
    drop (empty sig array <=> absent groupBy row)."""
    from parquet_to_sql_spark.operators.dedup import minhash_signatures
    from parquet_to_sql_spark.operators.hashkernel import audit_mutant_stats

    k = 16
    df = _edge_df(spark) if source == "edges" else _docs(spark)
    got = audit_mutant_stats(df, "doc_id", "text", n=3, k=k)
    base = df.select(
        "doc_id",
        "text",
        ws_tokens(F.col("text")).alias("_w"),
        F.expr("3 * shiftleft(1, CAST(doc_id % 5 AS INT))").alias("_p"),
    )
    mut = base.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.size("_w")),
                lambda i: F.when(i % F.col("_p") == 0, F.lit("zqz")).otherwise(
                    F.element_at(F.col("_w"), i)
                ),
            ),
            " ",
        ).alias("text"),
    )
    for side, src in (("sig_o", df), ("sig_m", mut)):
        want = {
            r["doc_id"]: [r[f"m{i}"] for i in range(k)]
            for r in minhash_signatures(src, "doc_id", "text", k=k, n=3).collect()
        }
        for r in got.select("doc_id", side).collect():
            assert list(r[side]) == want.get(r["doc_id"], []), (
                f"{side} mismatch at doc {r['doc_id']}"
            )


@pytest.mark.parametrize("source", ["edges", "corpus"])
@pytest.mark.parametrize("kw", [(3, 4), (2, 5), (3, 1)])
def test_winnow_fingerprints_exact(spark, source, kw):
    """winnow_kgram_fingerprints == the JVM winnowing formulation
    (winnow_fingerprints_jvm), row-multiset equality on (id,pos,fp)."""
    from parquet_to_sql_spark.operators.hashkernel import (
        winnow_kgram_fingerprints,
    )
    from parquet_to_sql_spark.operators.text import winnow_fingerprints_jvm

    k, w = kw
    df = _edge_df(spark) if source == "edges" else _docs(spark)
    got = sorted(
        map(tuple, winnow_kgram_fingerprints(df, "doc_id", "text", k, w).collect())
    )
    want = sorted(
        map(tuple, winnow_fingerprints_jvm(df, "doc_id", "text", k, w).collect())
    )
    assert got == want


@pytest.mark.parametrize("source", ["edges", "corpus"])
def test_winnow_fp_sets_exact(spark, source):
    from parquet_to_sql_spark.operators.hashkernel import winnow_kgram_fp_sets
    from parquet_to_sql_spark.operators.text import winnow_fingerprint_sets_jvm

    df = _edge_df(spark) if source == "edges" else _docs(spark)
    _assert_same(
        winnow_kgram_fp_sets(df, "doc_id", "text", 3, 4),
        winnow_fingerprint_sets_jvm(df, "doc_id", "text", 3, 4),
    )


def test_pq_encode_exact(spark):
    """The Arrow pq_encode kernel == the JVM cross-join/min(struct)
    formulation over the full embeddings fixture (including the
    bit-exact sequential double fold and lower-code-id tie-break)."""
    from parquet_to_sql_spark.operators.simsearch import (
        pq_encode,
        pq_encode_jvm,
    )
    import pyspark.sql.functions as SF

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    codes = emb.filter(
        (SF.col("vec_id") >= 100) & (SF.col("vec_id") < 116)
    ).select("vec_id", "embedding")
    _assert_same(
        pq_encode(emb, "vec_id", "embedding", codes),
        pq_encode_jvm(emb, "vec_id", "embedding", codes),
        keys=("vec_id",),
    )


@pytest.mark.parametrize("source", ["edges", "corpus"])
@pytest.mark.parametrize("bits", [16, 24])
def test_simhash_exact(spark, source, bits):
    # simhash_sketch now DELEGATES to simhash_arrow; the pin is
    # against the retained JVM formulation (simhash_sketch_jvm)
    from parquet_to_sql_spark.operators.text import simhash_sketch_jvm

    df = _edge_df(spark) if source == "edges" else _docs(spark)
    _assert_same(
        simhash_arrow(df, "doc_id", "text", bits=bits),
        simhash_sketch_jvm(df, "doc_id", "text", bits=bits),
    )


class _CapturedKernel:
    """Stands in for a DataFrame: records the function a kernel hands
    to mapInArrow, so it can be run on hand-made Arrow batches without
    a Spark job."""

    dtypes = [("doc_id", "bigint"), ("text", "string")]

    def select(self, *cols):
        return self

    def mapInArrow(self, fn, schema):
        self.fn = fn
        return self

    def filter(self, cond):
        return self


# every public kernel of operators/hashkernel.py with its parameters
# (winnow at the k=3, w=4 of the failing example)
KERNELS = {
    "stringfold_kgram_hashes": ("stringfold_kgram_hashes", {"n": 3}),
    "hashedfold_kgram_hashes": ("hashedfold_kgram_hashes", {"n": 3}),
    "sig_and_shingle_arrays": ("sig_and_shingle_arrays", {"n": 3, "k": 8}),
    "word_hash_arrays": ("word_hash_arrays", {}),
    "simhash_arrow": ("simhash_arrow", {"bits": 16}),
    "winnow_kgram_fingerprints": ("winnow_kgram_fingerprints", {"k": 3, "w": 4}),
    "winnow_kgram_fp_sets": ("winnow_kgram_fp_sets", {"k": 3, "w": 4}),
    "audit_mutant_stats": ("audit_mutant_stats", {"n": 3}),
    "audit_mutant_stats_sig": ("audit_mutant_stats", {"n": 3, "k": 8}),
}


def _kernel_rows(fn, texts, ids):
    import pyarrow as pa

    rb = pa.record_batch(
        [pa.array(ids, pa.int64()), pa.array(texts, pa.string())],
        names=["doc_id", "text"],
    )
    return [row for out in fn(iter([rb])) for row in out.to_pylist()]


@pytest.mark.parametrize("kernel", sorted(KERNELS))
@settings(max_examples=25, deadline=None)
@given(
    docs=st.lists(
        st.one_of(
            st.none(),
            st.sampled_from(EDGES),
            st.lists(st.sampled_from("aa bb cc dd".split()), max_size=9).map(" ".join),
        ),
        max_size=6,
    )
)
@example(docs=[" ".join(ws) for ws in [["aa"] * 3, ["aa"] * 6, [], []]])
@example(docs=["x \t\n y", "w " * 50, "x \t\n y"])
def test_kernel_batch_composition(spark, kernel, docs):
    """A kernel's output over ONE Arrow batch equals the concatenation
    of its outputs over one-doc batches: results must not depend on
    how rows are split into batches (a short doc once picked up a
    longer neighbour's window minimum in the winnow kernel)."""
    from parquet_to_sql_spark.operators import text

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(text, "rebalance_for_compute", lambda df: df)
        name, params = KERNELS[kernel]
        kernel_fn = getattr(hashkernel, name)
        fn = kernel_fn(_CapturedKernel(), "doc_id", "text", **params).fn
    ids = list(range(len(docs)))
    whole = _kernel_rows(fn, docs, ids)
    per_doc = [r for i, d in zip(ids, docs) for r in _kernel_rows(fn, [d], [i])]
    assert whole == per_doc

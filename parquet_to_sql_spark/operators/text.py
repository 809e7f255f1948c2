"""Text-analysis operators over a document column.

All pure Column expressions (JVM codegen, zero Python UDFs):
  * token counting — whitespace tokens and a BPE-ish regex token count
  * language ID — stopword-lexicon hit counts + deterministic argmax
  * quality scoring — length/punctuation/stopword-ratio features
  * document fingerprint — polynomial rolling hash (functions.hashing)
  * simhash — 16-bit majority-vote sketch over token hashes

Designed for 100 TB: every operator is a narrow projection or a
single explode+groupBy; nothing collects, nothing is quadratic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from parquet_to_sql_spark.functions.hashing import (
    char_fold_hash,
    positional_shingles,
)

# BPE-ish tokenizer: letter runs, digit runs, single punctuation marks.
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lexicons (deterministic heuristic).
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "les", "des", "et", "une", "est"),
    "zh": ("的", "是", "了", "在"),
}
LANG_PRIORITY = ("en", "es", "de", "fr", "zh")  # argmax tie-break order


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization.

    Note: like every split-on-whitespace in SQL engines, empty or
    whitespace-only text yields [''] (size 1, one empty token) — the
    DuckDB oracles mirror string_split_regex(trim(..)) exactly, so
    this is the DEFINED cross-engine behavior for blank documents,
    not a bug to "fix" one-sided."""
    return F.split(F.trim(text), r"\s+")


def rebalance_for_compute(df: DataFrame) -> DataFrame:
    """Spread expression-heavy per-row work across all cores.

    A Parquet scan parallelizes at row-group granularity; when the
    input has few row groups relative to cores (always true for the
    local fixtures, and true on clusters whenever compute cost per row
    dwarfs scan cost), the heavy projection inherits the scan's
    parallelism. One cheap round-robin shuffle of the narrow input
    fixes that. No semantic effect — downstream results are identical.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # Conditional on scan width: at 100 TB the scan already has far
    # more splits than cores, and an unconditional repartition(N)
    # would shuffle the ENTIRE text corpus to get back to N
    # partitions — a scale-killer for a no-op.  df.inputFiles() is a
    # ~4 ms driver-side check (vs ~120 ms for rdd.getNumPartitions'
    # full physical planning): each file is at least one scan split,
    # so >= target files means the heavy projection is already wide
    # enough and the exchange is skipped.  Few-file inputs (every
    # local fixture; any small dimension) still get the round-robin
    # spread.  Non-file sources (joined/derived inputs) fall through
    # to the rebalance — their lineage already has exchanges.
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass
    return df.repartition(target)


def _lang_hits_from(lower_words: Column) -> dict[str, Column]:
    """Stopword hits per language (lexicon words present in the doc)."""
    return {
        lang: F.size(
            F.filter(
                F.array(*[F.lit(w) for w in lex]),
                lambda w: F.array_contains(lower_words, w),
            )
        )
        for lang, lex in LANG_LEXICONS.items()
    }


def _lang_case_over(hits: dict[str, Column]) -> Column:
    """Deterministic argmax over precomputed hit columns, ties broken
    by LANG_PRIORITY; no hits at all -> 'unknown'."""
    expr = F.lit("unknown")
    for lang in reversed(LANG_PRIORITY):
        others = [hits[o] for o in LANG_PRIORITY if o != lang]
        cond = (hits[lang] > 0) & (hits[lang] >= F.greatest(*others))
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def _lang_id_from(lower_words: Column) -> Column:
    return _lang_case_over(_lang_hits_from(lower_words))


def lang_id(text: Column) -> Column:
    return _lang_id_from(ws_tokens(F.lower(text)))


_ALL_STOPWORDS = tuple(sorted({w for lex in LANG_LEXICONS.values() for w in lex}))


def _quality_from(text: Column, lower_words: Column) -> Column:
    """Heuristic quality in [0,1]: rewards reasonable length and
    stopword presence, penalizes punctuation soup.

    score = 0.4*min(len/500, 1) + 0.4*min(stop_ratio*8, 1)
          + 0.2*(1 - min(punct_ratio*4, 1))
    """
    n_chars = F.length(text).cast("double")
    n_words = F.greatest(F.size(lower_words), F.lit(1)).cast("double")
    stop_hits = F.size(
        F.filter(lower_words, lambda w: w.isin(*_ALL_STOPWORDS))
    ).cast("double")
    punct = F.size(
        F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), 0)
    ).cast("double")
    length_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stop_hits / n_words * F.lit(8.0), F.lit(1.0))
    punct_penalty = F.lit(1.0) - F.least(punct / F.greatest(n_chars, F.lit(1.0)) * F.lit(4.0), F.lit(1.0))
    return (
        F.lit(0.4) * length_score + F.lit(0.4) * stop_score + F.lit(0.2) * punct_penalty
    )


def quality_score(text: Column) -> Column:
    return _quality_from(text, ws_tokens(F.lower(text)))


def fingerprint(text: Column) -> Column:
    """Rolling-hash document fingerprint in [0, 2^31-1)."""
    return char_fold_hash(text)


def simhash_sketch(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """n-bit simhash per document: hash each token, take the majority
    of each of the low `bits` bits, reassemble.  The token hash is
    the 31-bit codepoint fold, so bits <= 31.

    ZERO shuffles: the token-hash array is STAGED as a projected
    column (tokenize + per-char fold exactly once per row), then one
    single fold accumulates all `bits` ones-counts simultaneously
    (simhash_from_hashes) — row-local higher-order functions inside
    whole-stage codegen, after one round-robin rebalance so
    few-row-group inputs use every core.  History: round 5 replaced
    an explode + groupBy formulation with per-bit folds (7x); round 6
    replaced the per-bit folds (which re-traversed the token array
    `bits` times) with the single ones-count fold — a further 2.4x at
    bits=24, bit-identical output.  Token-less documents are dropped
    (the explode+groupBy contract all call sites and oracles were
    built against).

    Optimization r13: delegates to the vectorized Arrow kernel
    (hashkernel.simhash_arrow — value-exact twin pinned by
    tests/test_hashkernel.py against the JVM formulation, kept below
    as simhash_sketch_jvm).  The only rows either formulation drops
    are NULL texts: non-null text always tokenizes to >= 1 token
    (blank text -> [''], hash 0), so size(_h) > 0 == text IS NOT
    NULL."""
    from parquet_to_sql_spark.operators.hashkernel import simhash_arrow

    return simhash_arrow(df, id_col, text_col, bits=bits)


def simhash_sketch_jvm(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """The JVM higher-order-function simhash formulation (the
    pre-r13 simhash_sketch body): the reference implementation the
    Arrow kernel is equivalence-tested against."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in 1..31 (token hash is 31-bit)")
    return (
        rebalance_for_compute(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.transform(ws_tokens(F.col(text_col)), char_fold_hash).alias(
                "_h"
            ),
        )
        .filter(F.size("_h") > 0)
        .select(
            F.col(id_col),
            simhash_from_hashes(F.col("_h"), bits=bits).alias("simhash"),
        )
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit simhash (the bucket-dedup default); see simhash_sketch."""
    return simhash_sketch(df, id_col, text_col, bits=16)


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """n-bit simhash from a PRECOMPUTED token-hash array, as ONE
    fold: the accumulator is the per-bit ones-count array, updated by
    masking each hash against the broadcast powers-of-two literal —
    so the token array is traversed ONCE for all `bits` positions
    instead of once per bit, and every step stays inside whole-stage
    codegen.  Bit i of the result is set iff 2*ones_i > n (strictly
    more ones than zeros — identical to the +1/-1 vote's ``> 0``), so
    the output is bit-for-bit the old per-bit-fold formulation
    (equality verified over the full sf0.1 corpus; measured 2.4x
    faster at bits=24: 0.57 s vs 1.33 s warm)."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in 1..31 (token hash is 31-bit)")
    powers = F.expr(
        "array(" + ",".join(f"CAST({1 << i} AS BIGINT)" for i in range(bits)) + ")"
    )
    ones = F.aggregate(
        hashes,
        F.expr(f"array_repeat(0, {bits})"),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a
            + F.when(h.cast("long").bitwiseAND(p) != 0, 1).otherwise(0),
        ),
    )
    n = F.size(hashes)
    return F.aggregate(
        F.zip_with(
            ones,
            powers,
            lambda o, p: F.when(o * 2 > n, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_col(text: Column, bits: int = 16) -> Column:
    """Row-local n-bit simhash as ONE Column expression — no shuffle,
    no aggregation state.  Legal on a STREAMING DataFrame (stateless
    projection); the static-corpus fast path is simhash_sketch, which
    stages the token-hash array as a projected column first so the
    tokenize+hash runs exactly once per row.

    Returns NULL for token-less text (simhash_sketch's contract drops
    such rows; callers composing this directly filter on
    ``F.size(ws_tokens(text)) > 0`` for parity).
    """
    hashes = F.transform(ws_tokens(text), char_fold_hash)
    sim = simhash_from_hashes(hashes, bits=bits)
    return F.when(F.size(ws_tokens(text)) > 0, sim)


# positional_shingles (imported above) is the shared windowed-join
# core in functions.hashing: winnowing consumes the non-distinct hash
# SEQUENCE; word_shingles wraps it with array_distinct for the
# set-semantics (minhash/Jaccard) family.


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS local-similarity fingerprint, public paper):
    hash every positional k-word shingle, slide a window of ``w``
    consecutive hashes, and select each window's minimum (rightmost on
    ties).  The guarantee: any shared run of >= w+k-1 words between two
    documents contributes at least one IDENTICAL selected fingerprint,
    so matching fingerprints localize shared passages — the
    plagiarism / quote-detection primitive that whole-document sketches
    (simhash, minhash) can't provide.  Density is ~2/(w+1) of all
    shingles, an 80%+ sketch-size reduction at the defaults.

    Returns (id, pos, fp): the 1-based shingle position selected and
    its hash.  Documents with fewer than k words emit nothing; with
    fewer than w shingles, a single window over all of them.

    100 TB story: the whole selection is ROW-LOCAL higher-order Column
    arithmetic over the per-document hash array — zero shuffles, zero
    UDFs, full whole-stage codegen; downstream overlap detection joins
    on fp with the same inverted-index + doc-frequency-cap machinery as
    the shingle family.  Each window recomputes its min over <= w
    elements (O(w^2) per position with w=4), the price of staying in
    one expression instead of materializing an exploded (doc, pos,
    hash) relation and paying a doc-partitioned window shuffle.
    """
    # Optimization r13: delegates to the vectorized Arrow kernel
    # (hashkernel.winnow_kgram_fingerprints — value-exact twin pinned
    # by tests/test_hashkernel.py against the JVM formulation kept
    # below as winnow_fingerprints_jvm; the interpreted O(w^2)
    # slice/aggregate HOF chain was ~12 s of executor CPU at sf0.1).
    from parquet_to_sql_spark.operators.hashkernel import (
        winnow_kgram_fingerprints,
    )

    return winnow_kgram_fingerprints(df, id_col, text_col, k=k, w=w)


def winnow_fingerprints_jvm(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """The JVM higher-order-function winnowing formulation (the
    pre-r13 winnow_fingerprints body): the reference implementation
    the Arrow kernel is equivalence-tested against."""
    staged = _winnow_staged(df, id_col, text_col, k)
    poss = _winnow_poss(F.col("_hs"), w)
    return (
        staged.select(F.col(id_col), F.col("_hs"), F.explode(poss).alias("pos"))
        .select(
            F.col(id_col),
            F.col("pos").cast("int").alias("pos"),
            F.element_at("_hs", F.col("pos")).alias("fp"),
        )
    )


def winnow_fingerprint_sets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Per-document DISTINCT winnowing fingerprint sets as one array
    column (doc, fps) — still entirely row-local (zero shuffles); the
    pre-explode input shape the set-overlap pair machinery wants."""
    # r13: Arrow-kernel twin (see winnow_fingerprints); JVM original
    # kept below for the equivalence pin.
    from parquet_to_sql_spark.operators.hashkernel import winnow_kgram_fp_sets

    return winnow_kgram_fp_sets(df, id_col, text_col, k=k, w=w)


def winnow_fingerprint_sets_jvm(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Pre-r13 JVM formulation of winnow_fingerprint_sets (pin)."""
    staged = _winnow_staged(df, id_col, text_col, k)
    hs = F.col("_hs")
    fps = F.array_distinct(
        F.transform(
            _winnow_poss(hs, w), lambda p: F.element_at(hs, p.cast("int"))
        )
    )
    return staged.select(
        F.col(id_col), F.coalesce(fps, F.expr("CAST(array() AS ARRAY<BIGINT>)")).alias("fps")
    )


def _winnow_staged(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, _hs): positional shingle hashes staged as a real column so
    codegen evaluates the tokenize+hash work once per row."""
    if k < 1:
        raise ValueError("k must be >= 1")
    hs_col = F.transform(
        positional_shingles(ws_tokens(F.col(text_col)), k), char_fold_hash
    )
    return rebalance_for_compute(df.select(id_col, text_col)).select(
        F.col(id_col), hs_col.alias("_hs")
    )


def _winnow_poss(hs: Column, w: int) -> Column:
    """Distinct selected positions (1-based) of the winnowing scheme
    over a STAGED hash-array column; NULL for empty arrays."""
    if w < 1:
        raise ValueError("w must be >= 1")
    n = F.size(hs)
    m = F.greatest(n - F.lit(w - 1), F.lit(1))  # number of windows
    ln = F.least(F.lit(w), n)  # window length (short docs: one window)

    def _sel(i: Column) -> Column:
        # rightmost position of the window minimum: max over j of
        # (i+j if hs[i+j] == min(window) else 0) — a fold, order-free
        win_min = F.array_min(F.slice(hs, i + F.lit(1), ln))
        return F.aggregate(
            F.sequence(F.lit(1), ln),
            F.lit(0),
            lambda acc, j: F.greatest(
                acc,
                F.when(
                    F.element_at(hs, (i + j).cast("int")) == win_min, i + j
                ).otherwise(F.lit(0)),
            ),
        )

    return F.array_distinct(
        F.transform(F.when(n >= 1, F.sequence(F.lit(0), m - 1)), _sel)
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 20,
    max_words: int = 100_000,
    min_chars: int = 100,
) -> DataFrame:
    """Gopher-style document-quality rule flags (Rae et al. 2021,
    "Scaling Language Models" §A1.1 repetition/quality filters, public
    paper) — the standard pre-training corpus filter chain.

    One boolean column per rule plus the AND verdict; every rule is
    exact integer arithmetic (ratio bounds are cross-multiplied, e.g.
    mean word length in [3,10] becomes ``3*n_words <= word_chars <=
    10*n_words``), so results are engine-exact with no float
    discipline needed.  Pure Column expressions over one staged
    projection — narrow, no shuffle, whole-stage codegen.

    Rules:
      * r_word_count   — min_words <= #ws-tokens <= max_words
      * r_char_count   — #chars >= min_chars
      * r_mean_word_len— mean token length in [3, 10]
      * r_symbol_ratio — ('#' or '...') occurrences <= 10% of tokens
      * r_alpha_words  — >= 80% of tokens contain a letter
      * r_bullet_lines — <= 30% of lines start with a bullet
      * r_ellipsis_lines — <= 30% of lines end with '...'
      * r_stopwords    — >= 2 distinct common stopwords present
    """
    t = F.col("_t")
    staged = rebalance_for_compute(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        ws_tokens(F.col(text_col)).alias("_w"),
        ws_tokens(F.lower(F.col(text_col))).alias("_lw"),
        F.split(F.col(text_col), "\n").alias("_lines"),
    )
    n_words = F.size("_w").cast("long")
    word_chars = F.aggregate(
        "_w", F.lit(0).cast("long"), lambda acc, w: acc + F.length(w).cast("long")
    )
    n_sym = F.size(F.regexp_extract_all(t, F.lit(r"#|\.\.\."), 0)).cast("long")
    n_alpha = F.size(F.filter("_w", lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_lines = F.size("_lines").cast("long")
    n_bullet = F.size(
        F.filter("_lines", lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("long")
    n_ellipsis = F.size(
        F.filter("_lines", lambda l: l.rlike(r"\.\.\.\s*$"))
    ).cast("long")
    stop_distinct = F.size(
        F.filter(
            F.array(*[F.lit(w) for w in _ALL_STOPWORDS]),
            lambda w: F.array_contains(F.col("_lw"), w),
        )
    ).cast("long")
    return staged.select(
        F.col(id_col),
        n_words.alias("n_words"),
        ((n_words >= min_words) & (n_words <= max_words)).alias("r_word_count"),
        (F.length(t).cast("long") >= min_chars).alias("r_char_count"),
        (
            (F.lit(3) * n_words <= word_chars) & (word_chars <= F.lit(10) * n_words)
        ).alias("r_mean_word_len"),
        (F.lit(10) * n_sym <= n_words).alias("r_symbol_ratio"),
        (F.lit(5) * n_alpha >= F.lit(4) * n_words).alias("r_alpha_words"),
        (F.lit(10) * n_bullet <= F.lit(3) * n_lines).alias("r_bullet_lines"),
        (F.lit(10) * n_ellipsis <= F.lit(3) * n_lines).alias("r_ellipsis_lines"),
        (stop_distinct >= F.lit(2)).alias("r_stopwords"),
        (
            (n_words >= min_words)
            & (n_words <= max_words)
            & (F.length(t).cast("long") >= min_chars)
            & (F.lit(3) * n_words <= word_chars)
            & (word_chars <= F.lit(10) * n_words)
            & (F.lit(10) * n_sym <= n_words)
            & (F.lit(5) * n_alpha >= F.lit(4) * n_words)
            & (F.lit(10) * n_bullet <= F.lit(3) * n_lines)
            & (F.lit(10) * n_ellipsis <= F.lit(3) * n_lines)
            & (stop_distinct >= F.lit(2))
        ).alias("passes"),
    )


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass text-analysis profile: token counts, language, quality,
    fingerprint.

    The tokenizations are staged as intermediate columns so each runs
    once per row (CollapseProject keeps non-cheap aliases shared), and
    the whole projection is rebalanced across cores first — it costs
    far more than the scan."""
    t = F.col(text_col)
    staged = rebalance_for_compute(df.select(id_col, text_col)).select(
        F.col(id_col),
        t.alias("_t"),
        ws_tokens(t).alias("_w"),
        ws_tokens(F.lower(t)).alias("_lw"),
    )
    # second stage: every lexicon scan runs exactly once per row (the
    # lang CASE chain references each hit count up to 6 times)
    hit_cols = {
        lang: c.alias(f"_hit_{lang}")
        for lang, c in _lang_hits_from(F.col("_lw")).items()
    }
    staged2 = staged.select(
        F.col(id_col), "_t", "_w", "_lw", *hit_cols.values()
    )
    hits = {lang: F.col(f"_hit_{lang}") for lang in LANG_LEXICONS}
    return staged2.select(
        F.col(id_col),
        F.length("_t").alias("n_chars"),
        F.size("_w").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("_t", F.lit(TOKEN_REGEX), 0)).alias("n_bpe_tokens"),
        _lang_case_over(hits).alias("lang_pred"),
        _quality_from(F.col("_t"), F.col("_lw")).alias("quality"),
        fingerprint(F.col("_t")).alias("fingerprint"),
    )


def contamination_index(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Static decontamination index: the DISTINCT hashed n-gram
    shingles of a benchmark/eval corpus, one narrow (h) relation.
    Built once; small relative to the training corpus (eval sets are),
    so the screen join broadcasts it."""
    from parquet_to_sql_spark.functions.hashing import char_fold_hash, word_shingles

    return (
        df.select(
            F.explode(
                F.transform(
                    word_shingles(ws_tokens(F.col(text_col)), n), char_fold_hash
                )
            ).alias("h")
        )
        .distinct()
    )


def contamination_screen(
    docs: DataFrame, index: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Decontamination screen: every (arriving doc, benchmark shingle
    hash) hit — the join stage of text_contamination_check, kept
    PRE-AGGREGATION so it is a stateless projection + stream-static
    equi-join, legal on a STREAMING DataFrame with no watermark and
    no state store (the per-doc overlap rollup is the batch
    consumer's one extra groupBy).  Emits (id, n_shingles, h)."""
    from parquet_to_sql_spark.functions.hashing import char_fold_hash, word_shingles

    staged = docs.select(
        F.col(id_col),
        F.transform(
            word_shingles(ws_tokens(F.col(text_col)), n), char_fold_hash
        ).alias("_hs"),
    )
    sh = staged.select(
        F.col(id_col),
        F.size("_hs").cast("int").alias("n_shingles"),
        F.explode("_hs").alias("h"),
    )
    return sh.join(index, "h").select(id_col, "n_shingles", "h")


def keyword_hits(
    df: DataFrame, id_col: str, text_col: str, terms: tuple[str, ...]
) -> DataFrame:
    """Conjunctive keyword matcher: per-term frequencies as row-local
    higher-order filters over one staged token array, keeping only
    rows containing EVERY term, with an integer tf-sum score.

    Stateless projection + filter — no shuffle, no aggregation state —
    which is exactly why the same function serves the batch retrieval
    query (text_keyword_search adds top-k) and the streaming content
    screen (streaming.pipeline.keyword_screen_stream) unchanged.
    """
    # terms become column names (tf_<term>): reject empties, anything
    # outside \w (dots parse as field access), and duplicates (two
    # identical tf_<term> columns make later references ambiguous)
    _validate_terms("keyword_hits", terms)
    staged = df.select(id_col, ws_tokens(F.lower(F.col(text_col))).alias("_w"))

    def _eq(term: str):
        # a 2-arg lambda would be read as (element, index) by Spark's
        # higher-order filter, so bind the term via a factory
        return lambda x: x == F.lit(term)

    tf = staged.select(
        id_col,
        *[F.size(F.filter(F.col("_w"), _eq(t))).alias(f"tf_{t}") for t in terms],
    )
    cond = None
    score = None
    for t in terms:
        c = F.col(f"tf_{t}")
        cond = (c > 0) if cond is None else (cond & (c > 0))
        score = c if score is None else (score + c)
    return tf.filter(cond).withColumn("score", score)


def _validate_terms(op: str, terms: tuple[str, ...]) -> None:
    """Shared term-list validation for the tf_<term>-column operators."""
    import re as _re

    if not terms:
        raise ValueError(f"{op}: at least one term required")
    if len(set(terms)) != len(terms):
        raise ValueError(f"{op}: duplicate terms in {terms!r}")
    for t in terms:
        if not _re.fullmatch(r"\w+", t):
            raise ValueError(f"{op}: term {t!r} must match \\w+")


def bm25_doc_features(
    df: DataFrame, id_col: str, text_col: str, terms: tuple[str, ...]
) -> DataFrame:
    """Per-document BM25 inputs: (id, dl, tf_<term>...) — document
    length and per-term frequencies as row-local higher-order filters
    over one staged token array.  Stateless projection (no shuffle, no
    state), so it serves the batch ranking query and a streaming
    score-at-ingest twin unchanged."""
    _validate_terms("bm25_doc_features", terms)
    staged = df.select(id_col, ws_tokens(F.lower(F.col(text_col))).alias("_w"))

    def _eq(term: str):
        # factory, not a default arg: pyspark reads a 2-arg lambda as
        # (element, index) in higher-order filters
        return lambda x: x == F.lit(term)

    return staged.select(
        id_col,
        F.size(F.col("_w")).alias("dl"),
        *[F.size(F.filter(F.col("_w"), _eq(t))).alias(f"tf_{t}") for t in terms],
    )


def bm25_corpus_stats(features: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """One-row corpus statistics for BM25: n_docs, total_tokens, and
    per-term document frequencies — a single aggregate over the
    feature projection (one corpus scan), broadcast to scorers."""
    return features.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        *[
            F.sum(F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)).alias(f"df_{t}")
            for t in terms
        ],
    )


def bm25_rational_scores(
    features: DataFrame, terms: tuple[str, ...], stats: DataFrame
) -> DataFrame:
    """BM25 scoring in EXACT integer arithmetic (cross-engine
    bit-identical — no ln(), no floats).

    Standard BM25 (Robertson et al., TREC-3, public) with k1 = 6/5 and
    b = 3/4 — both exact rationals — and the log dropped from the
    Robertson–Sparck-Jones idf, i.e. the raw smoothed odds
    (N - df + 1/2)/(df + 1/2) = (2N - 2df + 1)/(2df + 1).  With L =
    total corpus tokens and N = n_docs (so avgdl = L/N), the term-
    frequency saturation becomes one integer ratio:

        tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
          = 44*tf*L / (20*tf*L + 6*L + 18*dl*N)

    Per-term contribution = floor(10^6 * idf * tf_part), summed over
    query terms — every engine that truncates integer division the
    same way (Spark DECIMAL(38,0) `div` == DuckDB HUGEINT `//`,
    verified round 3) produces the identical score, which is what
    makes a ranked-retrieval operator value-exact against the oracle.
    Dropping the log keeps per-term idf ordering (log is monotone) but
    weights high-idf terms more heavily in the sum than log-idf BM25
    — a documented variant chosen for exactness, not a bug.

    Scale shape: `stats` is one row (broadcast); scoring is row-local
    expression arithmetic over the feature projection; no shuffle at
    any corpus size.  Magnitudes: the widened numerator is
    <= 10^6 * 2N * 44 * tf * L — DECIMAL(38,0) holds it through
    petabyte-scale corpora (N*tf*L < 10^29).
    """
    scored = features.crossJoin(F.broadcast(stats))
    term_scores = [
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0))"
            f" * (2*n_docs - 2*df_{t} + 1) * 44 * tf_{t} * total_tokens)"
            f" div (CAST(2*df_{t} + 1 AS DECIMAL(38,0))"
            f" * (20*tf_{t}*total_tokens + 6*total_tokens + 18*dl*n_docs))"
            f" AS BIGINT)"
        ).alias(f"s_{t}")
        for t in terms
    ]
    scored = scored.select(features.columns[0], "dl", *[F.col(f"tf_{t}") for t in terms], *term_scores)
    total = None
    matched = None
    for t in terms:
        total = F.col(f"s_{t}") if total is None else total + F.col(f"s_{t}")
        m = F.col(f"tf_{t}") > 0
        matched = m if matched is None else (matched | m)
    return scored.filter(matched).withColumn("score_ppm", total)


_BPE_US = "\x1f"  # unit separator — cannot occur in ^[a-z]+$ words


def bpe_merge_sequence(word: Column, merges: Column, n_merges: int) -> Column:
    """``word``'s symbol sequence after greedily applying ``n_merges``
    character-pair merges (``merges`` = array of 2-char pair strings,
    highest-priority first), BPE-style: each merge scans left to
    right, earlier merges win, merged symbols are atomic for later
    merges.

    Encoding trick (row-local, no UDF): the symbol sequence rides a
    chr(31)-delimited string — every symbol wrapped ``<us>sym<us>`` so
    adjacent symbols meet at a double separator.  One merge is then a
    single plain ``replace(seq, <us>a<us><us>b<us>, <us>ab<us>)``:
    leftmost non-overlapping replace IS the greedy scan (both engines
    continue searching the original string after each match, so a
    chain like 'aaaa' under merge ('a','a') yields exactly [aa, aa]),
    and a merged symbol's interior has no double separator, so later
    merges can never match inside it.

    STAGE THE RESULT AS A NAMED COLUMN before consuming it more than
    once — the nested replace chain is inlined per reference by
    codegen (same warning as word_hashes)."""
    us = F.lit(_BPE_US)
    seq = F.concat(us, F.array_join(F.split(word, ""), _BPE_US + _BPE_US), us)
    for i in range(1, n_merges + 1):
        mg = F.element_at(merges, i)
        seq = F.replace(
            seq,
            F.concat(us, F.substring(mg, 1, 1), us, us, F.substring(mg, 2, 1), us),
            F.concat(us, mg, us),
        )
    return seq


def bpe_symbol_count(seq: Column) -> Column:
    """Symbol count of a (STAGED) merge sequence: (#separator chars)/2
    — each symbol contributes exactly two chr(31)s."""
    us = F.lit(_BPE_US)
    n_seps = (F.length(seq) - F.length(F.replace(seq, us, F.lit("")))).cast("long")
    return F.shiftright(n_seps, 1)


def bpe_symbols_after_merges(word: Column, merges: Column, n_merges: int) -> Column:
    """Convenience compose of bpe_merge_sequence + bpe_symbol_count for
    single-use sites (tests, one-shot expressions).  Hot paths should
    stage the sequence column and count from it — this compose embeds
    the merge chain twice (length + replace both reference it)."""
    return bpe_symbol_count(bpe_merge_sequence(word, merges, n_merges))


# Depth bound for expression-algebra merge application.  Each merge is
# one boundary-anchored replace() — a full scan of the encoded
# sequence — so row cost is O(n_merges * encoded_len) and the generated
# expression tree is n_merges calls deep.  Both are fine into the low
# hundreds (codegen splits long chains; plan build is linear); past
# that, plan construction/compilation dominates the query and the
# right tool is an Arrow-batched Pandas UDF wrapping a compiled
# tokenizer, not expression algebra — so the bound fails fast with
# that guidance instead of letting a 32k-merge table grind the driver.
BPE_MAX_MERGES = 256


def bpe_word_to_sequence(word: Column) -> Column:
    """Initial BPE encoding of a word: every character wrapped in
    chr(31) separators ('<us>c<us><us>c<us>...'), the representation
    all merge application operates on (see bpe_merge_sequence)."""
    us = F.lit(_BPE_US)
    return F.concat(us, F.array_join(F.split(word, ""), _BPE_US + _BPE_US), us)


def bpe_apply_merge_table(
    seq: Column, lefts: Column, rights: Column, n_merges: int
) -> Column:
    """Apply a GENERAL BPE merge table — multi-symbol merges, the
    shape iterative training produces — to an encoded sequence column
    (from bpe_word_to_sequence, or a previous application's output).

    ``lefts``/``rights`` are array<string> columns in priority order:
    merge i fuses adjacent symbols (lefts[i], rights[i]) into one.
    This generalizes bpe_merge_sequence, whose merges are single
    characters only (a first-iteration merge table): here a left or
    right side may itself be a merged multi-char symbol, e.g. the
    table [('t','h'), ('th','e')] learned by two training rounds.

    Same algebra, same guarantees: one boundary-anchored
    replace('<us>l<us><us>r<us>' -> '<us>lr<us>') per merge IS the
    greedy left-to-right scan, and merged symbols stay atomic because
    their interior carries no double separator.  n_merges is bounded
    by BPE_MAX_MERGES (see its comment for the cost model); pass the
    exact table depth you trained.  STAGE the result as a named column
    before consuming it twice (codegen inlines per reference)."""
    if n_merges > BPE_MAX_MERGES:
        raise ValueError(
            f"bpe_apply_merge_table: n_merges={n_merges} exceeds "
            f"BPE_MAX_MERGES={BPE_MAX_MERGES}. Expression-algebra "
            f"application costs O(n_merges * encoded_len) per row with "
            f"an n_merges-deep expression tree; for production-size "
            f"merge tables use an Arrow-batched Pandas UDF with a "
            f"compiled tokenizer instead."
        )
    us = F.lit(_BPE_US)
    for i in range(1, n_merges + 1):
        left, right = F.element_at(lefts, i), F.element_at(rights, i)
        seq = F.replace(
            seq,
            F.concat(us, left, us, us, right, us),
            F.concat(us, left, right, us),
        )
    return seq


_BPE_RS = "\x1e"  # record separator between a merge's left and right


def bpe_pack_merge(left: Column, right: Column) -> Column:
    """Pack one merge's sides into the single-string representation
    bpe_apply_merges_hof consumes: 'left<rs>right' (chr(30); cannot
    occur in symbols drawn from ^[a-z]+$ words)."""
    return F.concat(left, F.lit(_BPE_RS), right)


def bpe_apply_merges_hof(seq: Column, merge_table: Column) -> Column:
    """Apply a FULL-VOCABULARY BPE merge table to an encoded sequence
    (from bpe_word_to_sequence) — the production-depth variant of
    bpe_apply_merge_table (VERDICT r09 #5).

    ``merge_table`` is an array<string> column of packed merges
    (bpe_pack_merge, priority order).  Application is ONE
    higher-order ``aggregate`` whose lambda runs the same
    boundary-anchored replace as the chain operator — so the merge
    table is DATA (a broadcast array from a trained table, a literal,
    or a column), not codegen: expression depth is O(1) regardless of
    table size, which removes BPE_MAX_MERGES' chain-depth constraint
    (that bound exists because each chained replace adds a plan node;
    here 100 or 50k merges build the identical 1-node plan).  Row
    cost is O(n_merges * encoded_len) either way — linear in both, as
    a tokenizer pass must be.

    Greedy-equivalence contract (property-tested): for any VALID
    merge table — each side is an original character or the result of
    an earlier merge, which is what training produces — applying
    merges in rank order, each exhaustively left-to-right, equals the
    classic lowest-rank-first loop (Sennrich et al. 2016 reference
    implementation), because rank-k symbols can only assemble after
    all their constituent merges (< k) have fired."""
    us = F.lit(_BPE_US)
    rs = _BPE_RS
    return F.aggregate(
        merge_table,
        seq.cast("string"),
        lambda acc, m: F.replace(
            acc,
            F.concat(
                us, F.substring_index(m, rs, 1), us,
                us, F.substring_index(m, rs, -1), us,
            ),
            F.concat(
                us, F.substring_index(m, rs, 1),
                F.substring_index(m, rs, -1), us,
            ),
        ),
    )


def bpe_train_merges(
    vocab: DataFrame, n_iters: int, word_col: str = "word", wc_col: str = "wc"
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """TRUE iterative BPE training (Sennrich et al., ACL 2016 —
    algorithm from the public record): n_iters rounds of "count all
    adjacent symbol pairs, fuse the most frequent" over a weighted
    vocabulary, where later rounds pair MERGED multi-char symbols —
    the part the single-round text_bpe_pair_merges ranking cannot do.

    Returns (merge_table, encoded_vocab):
      * merge_table — [(step, left, right, merge_count)], step 1-based
        in training order; may be shorter than n_iters if the vocab
        runs out of adjacent pairs.  Ties break (count DESC, left ASC,
        right ASC) so training is deterministic cross-engine.
      * encoded_vocab — (word_col, wc_col, _seq) with _seq the final
        chr(31)-encoded symbol sequence of every vocab word.  Encoding
        the VOCABULARY (not the corpus) is the scale story: a 100 TB
        corpus with a 10M-type vocabulary does all per-iteration work
        on 10M weighted rows; corpus-sized relations only ever join
        the finished vocab by word.

    Scale shape per round: one explode of adjacent pairs (vocab-sized,
    guarded so fully-merged words contribute nothing), one map-side-
    combined groupBy(l, r), one TakeOrderedAndProject(1), ONE ROW
    collected to the driver (the bounded-collect class — the argmax
    merge), then one row-local replace with that merge as a LITERAL
    (no join of any kind).  localCheckpoint after each round keeps the
    lineage flat so round k never replays rounds 1..k-1 — the same
    iterative-training precedent as the in-query k-means.
    """
    if n_iters > BPE_MAX_MERGES:
        raise ValueError(
            f"bpe_train_merges: n_iters={n_iters} exceeds "
            f"BPE_MAX_MERGES={BPE_MAX_MERGES} (the application-side "
            f"depth bound — training more merges than any query could "
            f"apply is a driver-side loop of n_iters Spark jobs; use a "
            f"dedicated training pipeline for production vocabularies)."
        )
    us = F.lit(_BPE_US)
    cur = vocab.select(
        word_col, wc_col, bpe_word_to_sequence(F.col(word_col)).alias("_seq")
    ).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_iters + 1):
        syms = F.split(
            F.expr("substring(_seq, 2, length(_seq) - 2)"), _BPE_US + _BPE_US
        )
        pairs = (
            cur.select(wc_col, syms.alias("_syms"))
            .where(F.size("_syms") >= 2)
            .select(
                wc_col,
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(_syms) - 1),"
                        " i -> struct(_syms[i-1] AS l, _syms[i] AS r))"
                    )
                ).alias("_p"),
            )
            .select("_p.l", "_p.r", wc_col)
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum(wc_col).alias("mc"))
            .orderBy(F.desc("mc"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break  # vocabulary fully merged — nothing left to pair
        left, right, mc = top[0].l, top[0].r, int(top[0].mc)
        merges.append((step, left, right, mc))
        cur = cur.withColumn(
            "_seq",
            F.replace(
                F.col("_seq"),
                F.concat(us, F.lit(left), us, us, F.lit(right), us),
                F.concat(us, F.lit(left + right), us),
            ),
        ).localCheckpoint()
    return merges, cur


CLS_BUCKETS = 256
CLS_MIX = 2_654_435_761  # Knuth multiplicative constant (public record)
CLS_WMOD = 1_000_003
CLS_WSHIFT = 500_001


def hash_feature_weights(spark) -> DataFrame:
    """The deterministic surrogate linear model: (bucket, w) rows,
    w = ((bucket+1) * Knuth-mix) mod 1000003 - 500001.  A real trained
    model swaps in any DataFrame of the same shape."""
    return spark.range(CLS_BUCKETS).select(
        F.col("id").alias("bkt"),
        ((F.col("id") + 1) * F.lit(CLS_MIX) % CLS_WMOD - CLS_WSHIFT).alias("w"),
    )


def hash_feature_scores(
    df: DataFrame, id_col: str, text_col: str, weights: DataFrame
) -> DataFrame:
    """fastText-shaped linear scoring over hashing-trick features:
    token -> fold-hash bucket, bucket -> weight via a BROADCAST join
    against the (bucket, w) model relation, document score = integer
    sum of token weights, keep = score >= 0.  The corpus never
    shuffles by token; the only corpus-sized exchange is the
    id-keyed rollup (map-side partial sums).  Works identically on a
    static frame and a readStream (stateless row-local + stream-static
    broadcast join)."""
    from parquet_to_sql_spark.functions.hashing import char_fold_hash

    tok = df.select(id_col, F.explode(ws_tokens(F.col(text_col))).alias("tok"))
    b = tok.select(
        id_col, (char_fold_hash(F.col("tok")) % CLS_BUCKETS).alias("bkt")
    )
    return (
        b.join(F.broadcast(weights), "bkt")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w").cast("bigint").alias("score"),
            (F.sum("w") >= 0).alias("keep"),
        )
    )


def perceptron_train_batch(
    feats: DataFrame,
    labels: DataFrame,
    buckets: int = CLS_BUCKETS,
    epochs: int = 3,
) -> tuple[list[int], int, list[tuple[int, int]]]:
    """TRAIN the hashing-trick linear classifier IN-ENGINE with the
    batch perceptron — the counterpart of hash_feature_scores'
    inference (whose surrogate weights a real pipeline would replace
    with exactly this output).  Integer-exact by construction: the
    batch variant sums the updates of ALL misclassified documents per
    epoch (w += sum y*x, b += sum y), so the result is independent of
    row order/partitioning — unlike the classic online perceptron,
    which is sequential and therefore not a distributed-friendly (or
    oracle-checkable) definition.  Margin-0 documents count as
    misclassified (epoch 1 from w=0 updates on the whole corpus).

    ``feats``: (doc_id, bkt, cnt) integer features;
    ``labels``: (doc_id, y) with y in {+1, -1}.
    Returns (weights, bias, [(epoch, n_misclassified_before_update)]).

    Scale shape: each epoch is ONE distributed pass — the weight
    vector rides into the expression as a bucket-indexed literal
    array (model size = bucket count, driver-bounded the same way the
    in-query k-means collects its centroids), the per-doc margin is a
    map-side-combined doc rollup, and the update is a bucket rollup of
    the misclassified slice (<= buckets rows collected per epoch).
    Epochs are driver-sequenced Spark jobs, exactly like
    bpe_train_merges."""
    feats = feats.localCheckpoint()
    labels = labels.localCheckpoint()
    w = [0] * buckets
    b = 0
    history: list[tuple[int, int]] = []
    for epoch in range(1, epochs + 1):
        warr = F.array(*[F.lit(int(x)).cast("long") for x in w])
        dots = (
            feats.withColumn("_w", F.element_at(warr, (F.col("bkt") + 1).cast("int")))
            .groupBy("doc_id")
            .agg(F.sum(F.col("cnt") * F.col("_w")).alias("_dot"))
        )
        margins = labels.join(dots, "doc_id", "left").select(
            "doc_id",
            "y",
            (F.coalesce(F.col("_dot"), F.lit(0)) + F.lit(int(b))).alias("_s"),
        )
        mis = margins.filter(F.col("y") * F.col("_s") <= 0).select("doc_id", "y")
        delta_rows = (
            mis.join(feats, "doc_id")
            .groupBy("bkt")
            .agg(F.sum(F.col("y") * F.col("cnt")).alias("dw"))
            .collect()
        )
        db_row = mis.agg(
            F.coalesce(F.sum("y"), F.lit(0)).alias("db"),
            F.count(F.lit(1)).alias("n_mis"),
        ).collect()[0]
        for r in delta_rows:
            w[int(r.bkt)] += int(r.dw)
        b += int(db_row.db)
        history.append((epoch, int(db_row.n_mis)))
    return w, b, history

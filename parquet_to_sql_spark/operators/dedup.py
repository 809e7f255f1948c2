"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup.

Scale design notes (the part that matters at 100 TB):
  * exact dedup: hash -> groupBy -> min(id). One shuffle on the hash,
    partial aggregation map-side. Never a pairwise comparison.
  * n-gram Jaccard: explode distinct shingles, self-join ON shingle
    equality — candidate generation is inverted-index style, so cost
    is sum over shingles of (docs-per-shingle choose 2), not n².
    A frequency cap (`max_doc_freq`) drops degenerate hub shingles,
    the classic skew guard for this join.
  * MinHash LSH: k=8 signature, 4 bands × 2 rows. Candidates join on
    (band_index, band_hash) — equality join, shuffle-partitionable,
    with collision probability tuned by banding, then exact-verified.
  * SimHash: near-dup bucket = identical 16-bit sketch (for tighter
    radius, join on sketch XOR popcount <= r over band rotations).
  * embedding near-dup: cosine >= tau via block-broadcast pairing at
    small n; at scale swap the pair generator for the IVF/LSH bucketer
    in operators.simsearch (same verify stage).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from parquet_to_sql_spark.functions.hashing import (
    FOLD_MOD,
    char_fold_hash,
    minhash_constants,
    shingle_hashes_from,
    word_hashes,
    word_shingles,
)
from parquet_to_sql_spark.operators.text import simhash16, ws_tokens

# Default skew guard for the inverted-index Jaccard join: drop shingles
# appearing in more than this many documents.  Join cost per shingle is
# O(doc_freq^2), so a FIXED absolute cap (not a corpus fraction) is what
# keeps the total linear in corpus size — at 1B docs, even a 0.1% cap
# would still allow a 10^12-pair bucket.  256 caps any single shingle's
# contribution at ~32k candidate pairs.
DEFAULT_MAX_DOC_FREQ = 256


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on content hash: keep the minimum id per distinct
    text; returns (kept id, group size)."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col).cast("binary"), 256).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    hashed: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Returns (doc1, doc2, jaccard) with doc1 < doc2, jaccard >= threshold.
    `max_doc_freq` drops shingles appearing in more than that many docs
    — ON BY DEFAULT (``DEFAULT_MAX_DOC_FREQ``): without it one hub
    shingle ("the the the") makes the self-join quadratic at scale.
    Pass ``None`` only for an explicit exactness baseline.  The guard
    is a BROADCAST ANTI-JOIN against the over-cap shingle list: that
    list is tiny by construction (at most total-occurrences/cap
    entries, Zipf makes it far smaller), so the big shingle relation is
    filtered map-side with no extra shuffle.  Jaccard is then measured
    over the capped shingle sets on both engines.

    `hashed=True` joins on the 31-bit fold hash of each shingle instead
    of the string — ~3x faster (narrow join key, smaller shuffle) and
    the right default at scale. The measure becomes "Jaccard over
    hashed shingles": deterministic, identical in both engines, and a
    collision merely merges two shingles (negligible at 2^31 space).

    Cache lifecycle: tokenizing/shingling is the expensive map work,
    so the capped path caches the PER-DOC SHINGLE ARRAYS (one compact
    row per doc, pre-explode) and explodes twice from that cache for
    its two consumers (hub count, anti-join input) — tokenization
    runs once, and the cached relation is orders of magnitude smaller
    than the exploded one (which round 2 measured as a 2x loss to
    cache).  The (grouped, small) postings relation is also cached —
    it feeds the sizes aggregate and the pair generator.  The
    uncapped baseline path caches the exploded relation (three
    consumers, two of them join sides).  The caller owns release
    (``spark.catalog.clearCache()`` between queries in a long-lived
    session — bench.py does this).
    """
    counts = _shingle_overlap_counts(
        df, id_col, text_col, n=n, max_doc_freq=max_doc_freq, hashed=hashed
    )
    return (
        counts.withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "jaccard")
    )


def hashed_shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """(doc, shs) — per-document DISTINCT hashed n-gram shingle
    arrays, the compact pre-explode relation the whole hashed-shingle
    similarity family starts from.  Hash per WORD once (staged as a
    real column so codegen evaluates it once per row), combine
    word-hashes per shingle (see shingle_hashes_from — ~3x less map
    CPU than folding each shingle string), then array_distinct:
    per-doc distinctness is all set similarity needs (doc is part of
    the pair key), so no global .distinct() shuffle — the only effect
    of a 31-bit collision is two shingles merging, and the DuckDB
    oracle composes hashes identically.  Documents with no shingles
    (< n words) yield an empty array.

    Optimization r13: the per-word char fold + window combination now
    run in the vectorized Arrow kernel (hashkernel.hashedfold_kgram_
    hashes — value-exact twin, pinned by tests/test_hashkernel.py);
    the distinct stays a JVM array_distinct over the small long
    array, preserving first-occurrence order exactly."""
    from parquet_to_sql_spark.operators.hashkernel import hashedfold_kgram_hashes

    return hashedfold_kgram_hashes(df, id_col, text_col, n).select(
        F.col(id_col).alias("doc"), F.array_distinct("shs").alias("shs")
    )


def _shingle_overlap_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    hashed: bool = False,
) -> DataFrame:
    """Shared candidate-pair machinery for the shingle-set similarity
    family: returns (doc1, doc2, common, n1, n2) with doc1 < doc2 for
    every document pair sharing at least one (optionally hashed,
    optionally doc-frequency-capped) n-gram shingle.  Jaccard,
    containment, and overlap coefficients are all scoring functions
    over this one relation; see ngram_jaccard_pairs for the skew-cap /
    cache-lifecycle rationale."""
    from parquet_to_sql_spark.operators.text import rebalance_for_compute

    if hashed:
        arrays = hashed_shingle_arrays(df, id_col, text_col, n=n)
    else:
        shs_col = word_shingles(ws_tokens(F.col(text_col)), n)
        arrays = rebalance_for_compute(df.select(id_col, text_col)).select(
            F.col(id_col).alias("doc"), shs_col.alias("shs")
        )
    return _array_overlap_counts(arrays, max_doc_freq=max_doc_freq)


def _array_overlap_counts(
    arrays: DataFrame, max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ
) -> DataFrame:
    """(doc1, doc2, common, n1, n2) pairs for any (doc, shs) relation
    holding per-document key ARRAYS (pre-explode; keys distinct per
    doc) — the set-overlap candidate machinery shared by n-gram
    shingles and winnowing fingerprints.  See ngram_jaccard_pairs for
    the cap/cache rationale."""
    if max_doc_freq is not None:
        arrays = arrays.cache()
    sh = arrays.select("doc", F.explode("shs").alias("shingle"))
    if max_doc_freq is not None:
        # Pass 1 — doc-frequency counts. Counts partial-aggregate
        # map-side, so a hub shingle costs one combiner row per map
        # task, never a wide buffer; the over-cap list is tiny by
        # construction and broadcasts.
        hubs = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") > max_doc_freq)
            .select("shingle")
        )
        kept = sh.join(F.broadcast(hubs), "shingle", "left_anti")
        # Pass 2 — every surviving shingle has <= max_doc_freq docs, so
        # collecting its posting list is bounded-safe (the anti-join
        # upstream is what makes the collect_list buffer safe — never
        # collect postings without the cap filter first). ONE shuffle
        # on shingle replaces the two-sided self-join, and the pairs
        # explode from each posting list in place (cost per shingle
        # <= cap^2/2, same candidates as the join, generated map-side).
        # Explicit-N repartition on the agg key: AQE coalesces the
        # postings relation by its (small) INPUT size, blind to the
        # up-to-cap^2/2-per-row pair EXPLOSION downstream — the same
        # expansion blind spot as triangle_counts' wedge join; the
        # pinned partitioning satisfies the groupBy's distribution
        # (no extra shuffle) and keeps the explode wide.
        n_parts = int(arrays.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        postings = (
            kept.repartition(n_parts, "shingle")
            .groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc")).alias("docs"))
            .cache()
        )
        # Per-doc set sizes come from the capped postings (same rows as
        # the anti-joined relation, but orders of magnitude smaller to
        # shuffle than re-aggregating the raw shingle relation on doc).
        sizes = (
            postings.select(F.explode("docs").alias("doc"))
            .groupBy("doc")
            .agg(F.count(F.lit(1)).alias("n_sh"))
        )
        # docs sorted ascending -> pairing each element with its tail
        # slice yields exactly the doc1 < doc2 pairs, no n^2 buffer.
        # (r13 note: an Arrow-kernel pair generator with batch-local
        # pre-aggregation was built, pinned value-exact and A/B'd —
        # it measured SLOWER (0.86 vs 0.60 s on the 27k sf0.1
        # postings) because the lists are Zipf-small and the Python
        # boundary overhead exceeds the JVM tail-slice copies, so the
        # JVM formulation stays.)
        common = (
            postings.select(
                F.posexplode("docs").alias("i", "doc1"), F.col("docs")
            )
            .select(
                "doc1",
                F.explode(
                    F.slice("docs", F.col("i") + F.lit(2), F.size("docs"))
                ).alias("doc2"),
            )
            .groupBy("doc1", "doc2")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        # cached: three consumers (sizes + both self-join sides); here
        # recomputing the explode per consumer WOULD dominate
        sh = sh.cache()
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.select(F.col("doc").alias("doc1"), "shingle")
        b = sh.select(F.col("doc").alias("doc2"), "shingle")
        common = (
            a.join(b, "shingle")
            .filter(F.col("doc1") < F.col("doc2"))
            .groupBy("doc1", "doc2")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    s1 = sizes.select(F.col("doc").alias("doc1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc").alias("doc2"), F.col("n_sh").alias("n2"))
    return common.join(s1, "doc1").join(s2, "doc2")


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    w: int = 4,
    min_common: int = 2,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Passage-overlap candidate pairs from winnowing fingerprints
    (the MOSS detection step): documents sharing >= ``min_common``
    selected fingerprints.  Because winnowing guarantees any shared
    run of >= w+k-1 words yields an identical fingerprint, this finds
    LOCAL plagiarism/quotation — a sketch-size-bounded alternative to
    joining all shingles (the fingerprint density is ~2/(w+1), so the
    inverted index is ~60% smaller at the defaults, and the same
    doc-frequency cap bounds hub fingerprints).

    Returns (doc1, doc2, common, n1, n2): shared-fingerprint count and
    each side's fingerprint-set size — all integers, value-exact."""
    from parquet_to_sql_spark.operators.text import winnow_fingerprint_sets

    arrays = winnow_fingerprint_sets(df, id_col, text_col, k=k, w=w).select(
        F.col(id_col).alias("doc"), F.col("fps").alias("shs")
    )
    counts = _array_overlap_counts(arrays, max_doc_freq=max_doc_freq)
    return counts.filter(F.col("common") >= min_common).select(
        "doc1", "doc2", "common", "n1", "n2"
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_pct: int = 80,
    max_doc_freq: int | None = DEFAULT_MAX_DOC_FREQ,
    hashed: bool = True,
) -> DataFrame:
    """Directed near-duplicate CONTAINMENT pairs: flag documents whose
    shingle set is (mostly) a subset of another document's — the case
    symmetric Jaccard systematically misses.  A 200-word article pasted
    into a 10,000-word page has Jaccard ~2% but containment ~100%; for
    training-data curation the short copy is still a duplicate and
    keeping both still leaks the same text twice.

    Containment(A in B) = |A∩B| / |A| (Broder 1997, "On the
    resemblance and containment of documents", public).  Scoring stays
    ENTIRELY in integers: the threshold test is cross-multiplied
    (``100*common >= pct*n1``), so the output is value-exact across
    engines with no float discipline at all.

    Returns (doc1, doc2, common, n1, n2, doc1_in_doc2, doc2_in_doc1)
    with doc1 < doc2, keeping rows where either direction passes.
    Same single-shuffle capped posting-list machinery (and the same
    100 TB skew story) as ngram_jaccard_pairs — only the scoring
    differs."""
    counts = _shingle_overlap_counts(
        df, id_col, text_col, n=n, max_doc_freq=max_doc_freq, hashed=hashed
    )
    pct = F.lit(threshold_pct)
    a_in_b = F.lit(100) * F.col("common") >= pct * F.col("n1")
    b_in_a = F.lit(100) * F.col("common") >= pct * F.col("n2")
    return (
        counts.withColumn("doc1_in_doc2", a_in_b)
        .withColumn("doc2_in_doc1", b_in_a)
        .filter(F.col("doc1_in_doc2") | F.col("doc2_in_doc1"))
        .select(
            "doc1", "doc2", "common", "n1", "n2", "doc1_in_doc2", "doc2_in_doc1"
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    id_col: str = "doc_id",
    max_iters: int = 25,
) -> DataFrame:
    """Duplicate-cluster closure: connected components over near-dup
    pairs by iterative hash-min label propagation.

    Near-dup similarity is not transitive (A~B and B~C does not imply
    A~C), but a dedup pipeline must still retire whole clusters, so
    the pair relation needs a transitive closure.  Each node starts
    labeled with its own id; every round each node takes the min of
    its label and its neighbors' labels; at fixpoint label(v) == min
    id reachable from v == the component id.  Returns (node, label)
    with one row per input node (singletons keep their own id).
    ``nodes`` must cover every id appearing in ``pairs`` — endpoints
    absent from ``nodes`` would otherwise be conjured into the output
    by message propagation.

    Scale shape (the 100 TB story):
      * per round: ONE equality join (edges x labels, shuffled on the
        edge source) + ONE groupBy-min (partial agg map-side).  No
        all-pairs step anywhere.
      * rounds needed = graph diameter.  Dedup graphs are dense
        near-cliques with tiny diameter (2-4 in practice), so the
        round count is small and data-independent-ish; for adversarial
        long-chain graphs swap in alternating large-star/small-star
        (Kiveris et al.), which converges in O(log^2 n) — not needed
        for the dedup workload this serves.
      * lineage is truncated every round with an eager
        localCheckpoint; on a real cluster configure a reliable
        checkpoint dir and use .checkpoint() so a lost executor does
        not recompute the whole iteration history.
      * convergence is detected by the SUM of labels (labels only
        ever decrease, so an unchanged sum == fixpoint): one scalar
        agg per round, no old-vs-new join.  The sum is accumulated in
        DECIMAL(38,0) so it cannot overflow at any corpus size.

    The fixpoint is unique regardless of round count, so the result
    is deterministic and oracle-checkable (DuckDB: recursive CTE).
    """
    edges = pairs.select(F.col(src).alias("e_src"), F.col(dst).alias("e_dst")).union(
        pairs.select(F.col(dst).alias("e_src"), F.col(src).alias("e_dst"))
    )
    # reused every round: materialize once (caller's session; released below)
    edges = edges.cache()
    # LAZY checkpoints (optimization r13): the convergence-sum collect
    # each round is the action that materializes the round's labels,
    # so the eager-checkpoint job + sum job collapse into ONE job per
    # round (lineage is truncated identically — the returned frame
    # wraps the checkpoint-marked RDD either way).  At 3-5 rounds per
    # closure that halves the serialized driver barriers.
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=False)
    prev_sum = labels.agg(F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iters):
        msgs = edges.join(labels, edges["e_src"] == labels["node"]).select(
            F.col("e_dst").alias("node"), F.col("label")
        )
        labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    src: str = "doc1",
    dst: str = "doc2",
    id_col: str = "doc_id",
    max_iters: int = 30,
) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 — public algorithm) — the adversarial-diameter
    complement to :func:`connected_components`.

    Hash-min label propagation needs rounds == graph diameter; on a
    pathological duplicate CHAIN (a->b->c->... from incremental crawl
    snapshots) that is O(n) rounds.  The star algorithm rewrites the
    edge set itself each round and converges in O(log^2 n) rounds on
    ANY graph, at the price of two shuffles per round instead of one:

      * large-star(u): with m = min(neighbors(u) + {u}), re-point every
        neighbor v > u at m   (emit (v, m));
      * small-star(u): orienting each edge high->low, with m = min of
        u's smaller neighbors, re-point u and all its smaller
        neighbors at m        (emit (u, m) and (v, m), v != m).

    Both steps preserve connectivity and only ever decrease the
    pointed-at id, so the fixpoint is the disjoint union of stars
    centered on each component's minimum id — exactly the (node,
    label) closure, checkable against the same recursive-CTE oracle.

    Scale shape: each step is one groupBy-min plus one equi-join back
    (both shuffle on the star center; partial agg map-side), then a
    distinct() that bounds the edge set by the input edge count.  No
    posting-list buffers, no all-pairs anywhere; lineage is truncated
    per round with an eager localCheckpoint (swap for reliable
    .checkpoint() on a real cluster).  Convergence = edge set
    unchanged over a full round, detected with one anti-join count.

    Returns (node, label), one row per input node; singletons keep
    their own id.  ``nodes`` must cover every endpoint in ``pairs``.
    """
    # normalize: undirected edge set as (hi, lo), self-loops dropped
    a, b = F.col(src), F.col(dst)
    edges = (
        pairs.select(
            F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        # --- large-star: per node u over its full neighborhood ---
        bidir = edges.select(
            F.col("hi").alias("u"), F.col("lo").alias("v")
        ).unionByName(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        lmins = bidir.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # emit (v, m) for v > u; v > u >= m so hi=v, lo=m already
        large = (
            bidir.filter(F.col("v") > F.col("u"))
            .join(lmins, "u")
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
        )
        # --- small-star: per node u over its SMALLER neighbors ---
        # `large` is already oriented hi->lo (hi > lo)
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            large.join(smins, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(
                smins.select(F.col("hi"), F.col("m").alias("lo"))
            )
            .distinct()
            # lazy: the first convergence anti-join below is the
            # materializing action (r13 — one fewer job per round,
            # lineage truncated identically)
            .localCheckpoint(eager=False)
        )
        # converged when the full round changed nothing (set equality;
        # both sides are distinct, so one anti-join each way suffices —
        # cheap scalar jobs against checkpointed inputs)
        if (
            small.join(edges, ["hi", "lo"], "left_anti").isEmpty()
            and edges.join(small, ["hi", "lo"], "left_anti").isEmpty()
        ):
            edges = small
            break
        edges = small
    # fixpoint is a star forest: every non-center points at its
    # component min.  min() is a no-op safety net for the capped-iters
    # case where a node might still carry two outgoing edges.
    labels = edges.groupBy(F.col("hi").alias("node")).agg(
        F.min("lo").alias("label")
    )
    return (
        nodes.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            "node", F.coalesce("label", F.col("node")).alias("label")
        )
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, n: int = 3
) -> DataFrame:
    """k-permutation MinHash signature per document: for each (a,b),
    min over shingles of (a*fold(shingle)+b) mod (2^31-1). Documents
    with no shingles (< n words) are dropped.

    The shingle hashes come from the vectorized Arrow kernel
    (hashkernel.stringfold_kgram_hashes — value-exact twin of
    char_fold_hash over the shingle strings; optimization r13: the
    interpreted HOF fold was ~54 s of executor runtime at k=128 on
    sf0.1, the kernel is ~100x cheaper per byte).  POSITIONAL
    (non-distinct) shingles feed the explode: MIN over the multiset
    equals MIN over the distinct set, so signatures are unchanged."""
    from parquet_to_sql_spark.operators.hashkernel import stringfold_kgram_hashes

    return minhash_signatures_from_hashes(
        stringfold_kgram_hashes(df, id_col, text_col, n), id_col, k
    )


def minhash_signatures_from_hashes(
    hashes: DataFrame, id_col: str, k: int = 8
) -> DataFrame:
    """minhash_signatures over a PRECOMPUTED (id, shs array<long>)
    shingle-hash relation — for callers that already hold the hashes
    (e.g. the production audit's one-pass mutant kernel) and must not
    pay a second tokenize+fold.  Same contract: docs with empty shs
    vanish (explode of an empty array yields no rows)."""
    sh = hashes.select(F.col(id_col).alias("doc"), F.explode("shs").alias("x"))
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(FOLD_MOD)).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_constants(k))
    ]
    return sh.groupBy(F.col("doc").alias(id_col)).agg(*aggs)


def _band_slices(
    sig: DataFrame, id_col: str, k: int, bands: int, keep_sig: bool = False
) -> DataFrame:
    """(doc, band, bucket) banding slices of a minhash signature
    relation — ONE pass: explode of a row-local array of
    (band, bucket) structs.  Replaces the former ``bands``-way
    unionByName of per-band selects (optimization r13): identical
    rows, but the plan carries one leg over the signature relation
    instead of ``bands``, which at k=128/bands=16 cut driver-side
    analysis time and 16 duplicate scan legs from every banding
    consumer.  ``keep_sig`` additionally carries the m0..m{k-1}
    signature columns (minhash_lsh_pairs' re-scoring needs them)."""
    rows = k // bands
    slices = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"m{bi * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                ).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )
    extra = [F.col(f"m{i}") for i in range(k)] if keep_sig else []
    return sig.select(
        F.col(id_col).alias("doc"), F.explode(slices).alias("_s"), *extra
    ).select("doc", F.col("_s.band").alias("band"), F.col("_s.bucket").alias("bucket"), *extra)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: docs sharing any (band_index, band_hash)
    bucket, scored by fraction of matching minhashes (estimated
    Jaccard). Returns (doc1, doc2, est_jaccard).

    The banding join is an equality join on the bucket key — the scale
    path: no O(n²) candidate generation, and skewed buckets split by
    AQE."""
    if bands <= 0 or k % bands:
        # bands > k would make every bucket key empty (one global
        # bucket -> O(n^2) join); bands not dividing k would silently
        # drop trailing minhashes from candidate generation
        raise ValueError(f"bands ({bands}) must evenly divide k ({k})")
    # referenced by 2 join sides — materialize the signature relation
    # once (same contract as banded_hamming_pairs); band slices come
    # from the one-pass struct-array explode (_band_slices).
    # EAGER is deliberate (r14 A/B): a lazy mark lets the two join
    # legs' map stages recompute the signature pipeline concurrently
    # (median 1.63 s lazy vs 1.57 eager in a one-session interleave) —
    # the barrier is cheaper than the duplicate kernel work.
    sig = minhash_signatures(df, id_col, text_col, k, n).localCheckpoint()
    exploded = _band_slices(sig, id_col, k, bands, keep_sig=True)
    left = exploded.select(
        F.col("doc").alias("doc1"), "band", "bucket",
        *[F.col(f"m{i}").alias(f"l{i}") for i in range(k)],
    )
    right = exploded.select(
        F.col("doc").alias("doc2"), "band", "bucket",
        *[F.col(f"m{i}").alias(f"r{i}") for i in range(k)],
    )
    matches = sum(
        F.when(F.col(f"l{i}") == F.col(f"r{i}"), 1).otherwise(0) for i in range(k)
    )
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", matches.alias("n_match"))
        .groupBy("doc1", "doc2")
        .agg(F.max("n_match").alias("n_match"))
        .withColumn("est_jaccard", F.col("n_match").cast("double") / F.lit(float(k)))
        .select("doc1", "doc2", "est_jaccard")
    )


def simhash_buckets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash dedup clusters: documents sharing an identical 16-bit
    sketch; returns buckets with >1 member."""
    sig = simhash16(df, id_col, text_col)
    return (
        sig.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 24,
    radius: int = 1,
) -> DataFrame:
    """Near-duplicate pairs within a SimHash Hamming radius, by
    bit-band pigeonhole (the fingerprint-dedup shape of Manku et al.,
    WWW'07, on public record): two sketches differing in <= `radius`
    bits must agree EXACTLY on at least one of `radius + 1` disjoint
    bit bands, so candidates are generated by an equality join on
    (band_index, band_value) and then exact-verified with
    bit_count(xor) — never an all-pairs comparison.

    Returns (doc1, doc2, hamming) with doc1 < doc2, hamming <= radius.
    `bits` must be divisible by `radius + 1`.

    Scale shape: candidate volume per band is sum over buckets of
    occupancy², so band width must grow with the corpus — 2^width
    buckets should be >= O(n) for constant occupancy (at 10^9 docs use
    a 64-bit sketch with 4x16-bit bands; here 24 bits / 2x12 fits the
    31-bit fold hash).  The verify step is integer xor+popcount, exact
    and engine-neutral, so the whole operator carries a value-exact
    oracle.
    """
    from parquet_to_sql_spark.operators.text import simhash_sketch

    # r13: banded_hamming_pairs now consumes its input exactly once
    # (the value-grouping aggregate), so the former eager checkpoint
    # of the sketch relation is gone — one fewer serialized job, and
    # the sketch pipeline still runs exactly once into the groupBy.
    sig = simhash_sketch(df, id_col, text_col, bits=bits)
    return banded_hamming_pairs(sig, id_col, "simhash", bits=bits, radius=radius)


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sketch_col: str,
    bits: int,
    radius: int,
    same_value_cap: int = 4096,
) -> DataFrame:
    """Hamming-radius pairs over ANY precomputed integer sketch
    column: `radius + 1` disjoint bit bands (pigeonhole: two sketches
    within the radius agree exactly on at least one band), candidates
    by equality join on (band, band_value), exact popcount verify.
    Shared by the text SimHash family and the aHash payload near-dup.

    Returns (doc1, doc2, hamming) with doc1 < doc2.

    Optimization r13 — band-join DISTINCT SKETCH VALUES, not docs:
    near-dup corpora are value-clustered (sf0.1: 5,000 docs hold only
    2,409 distinct 24-bit sketches, and the doc-level banding join
    generated 1.46M candidate pairs for 142k true edges), so docs are
    first grouped by exact sketch value.  Same-value pairs are emitted
    row-locally (hamming 0 by definition); the banding join, popcount
    verify and multi-band dedup then run at VALUE granularity (the
    dedup is dropDuplicates on (v1, v2) — hamming is a function of the
    value pair, so the kept row is deterministic), and winning value
    pairs expand to doc pairs with a row-local double explode — every
    expanded row is a true output edge, so the expansion is
    output-bound.  Candidate volume now scales with distinct-value
    collisions instead of doc collisions; the pair set is identical
    (verified row-for-row, 142,424 pairs).  This also retires the r5
    doc-level distinct()-vs-band-predicate trade: the value-level
    dedup touches ~50x fewer rows than either.  NULL sketches never
    pair (the group key filter mirrors the old equi-join's
    NULL-dropping).  ``sig`` is referenced exactly ONCE (the groupBy),
    so callers no longer need to checkpoint it for this function.

    Skew guard (optimization r14, guide §2.5 — ADVICE r13): the
    row-local |group|² same-value expansion is capped at
    ``same_value_cap`` docs per sketch value.  A degenerate corpus
    (millions of IDENTICAL sketches — one mega near-dup cluster)
    would otherwise materialize g² structs in ONE row of ONE task
    (2 GiB array limit, executor OOM).  Groups above the cap emit
    their pairs through a SALTED distributed self-join instead: each
    doc gets a deterministic salt pmod(xxhash64(doc), S); one side
    keys on its own salt, the other replicates across all S salts, so
    each task holds ~g²/S of the expansion and every emitted row is
    still a true output edge (identical pair set — pinned by the
    mega-cluster test in tests/test_operators.py).  Below the cap the
    salted legs are EMPTY relations (filters on opposite sides of the
    same threshold), so the fixture-scale plan pays two no-op
    exchanges and nothing else.  The per-value ``_docs`` array that
    feeds the banding join stays LINEAR in group size (the quadratic
    blow-up was the struct expansion), hitting the 2 GiB array bound
    only past ~2·10⁸ docs on a single sketch value — document corpora
    are orders of magnitude below it.
    """
    bands = radius + 1
    if bits % bands:
        raise ValueError("bits must be divisible by radius + 1")
    if same_value_cap < 2:
        raise ValueError("same_value_cap must be >= 2")
    width = bits // bands
    mask = (1 << width) - 1
    groups = (
        sig.filter(F.col(sketch_col).isNotNull())
        .groupBy(F.col(sketch_col).alias("_v"))
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("_docs"))
        .localCheckpoint(eager=False)
    )
    same_small = (
        groups.filter(
            (F.size("_docs") >= 2) & (F.size("_docs") <= same_value_cap)
        )
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(_docs, x -> "
                    "transform(_docs, y -> struct(x AS d1, y AS d2)))), "
                    "p -> p.d1 < p.d2)"
                )
            ).alias("_p")
        )
        .select(
            F.col("_p.d1").alias("doc1"),
            F.col("_p.d2").alias("doc2"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    # over-cap groups: salted distributed expansion.  S is bounded by
    # the cap so the replication (g·S rows) never exceeds the pair
    # output (g²/2 rows, since g > cap >= 2S); docs spread over salts
    # by a deterministic hash, so a retried task reproduces its rows
    # (guide §2.5 — no rand() keys).
    n_salt = min(
        int(sig.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        max(1, same_value_cap // 2),
    )
    big = groups.filter(F.size("_docs") > same_value_cap)
    d1 = big.select("_v", F.explode("_docs").alias("_a")).withColumn(
        "_s", F.pmod(F.xxhash64("_a"), F.lit(n_salt)).cast("int")
    )
    d2 = big.select("_v", F.explode("_docs").alias("_b")).select(
        "_v",
        "_b",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("_s"),
    )
    same_big = (
        d1.join(d2, ["_v", "_s"])
        .filter(F.col("_a") < F.col("_b"))
        .select(
            F.col("_a").alias("doc1"),
            F.col("_b").alias("doc2"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    same = same_small.unionByName(same_big)
    slices = [
        groups.select(
            "_v",
            "_docs",
            F.lit(bi).alias("band"),
            F.shiftright(F.col("_v"), bi * width)
            .bitwiseAND(F.lit(mask))
            .alias("bval"),
        )
        for bi in range(bands)
    ]
    exploded = slices[0]
    for s in slices[1:]:
        exploded = exploded.unionByName(s)
    a = exploded.select(
        F.col("_v").alias("v1"), F.col("_docs").alias("g1"), "band", "bval"
    )
    b = exploded.select(
        F.col("_v").alias("v2"), F.col("_docs").alias("g2"), "band", "bval"
    )
    vpairs = (
        a.join(b, ["band", "bval"])
        .filter(F.col("v1") < F.col("v2"))
        .withColumn(
            "hamming", F.bit_count(F.col("v1").bitwiseXOR(F.col("v2"))).cast("int")
        )
        .filter(F.col("hamming") <= radius)
        .select("v1", "v2", "g1", "g2", "hamming")
        .dropDuplicates(["v1", "v2"])
    )
    cross = (
        vpairs.select(F.explode("g1").alias("_a"), F.col("g2"), "hamming")
        .select("_a", F.explode("g2").alias("_b"), "hamming")
        .select(
            F.least("_a", "_b").alias("doc1"),
            F.greatest("_a", "_b").alias("doc2"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def simhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 24,
    radius: int = 1,
) -> DataFrame:
    """Static corpus side of the incremental near-dup screen: one
    (doc, simhash, band, bval) row per band per document, sketched
    with the same fold-hash/majority-vote as simhash_hamming_pairs.

    At scale this index is written once (bucketed by (band, bval) for
    a co-located probe join) and re-used by every ingest batch — the
    corpus is NOT re-sketched per arriving batch.
    """
    bands = radius + 1
    if bits % bands:
        raise ValueError("bits must be divisible by radius + 1")
    width = bits // bands
    mask = (1 << width) - 1
    from parquet_to_sql_spark.operators.text import simhash_sketch

    # materialize once: each band slice re-derives the sketch pipeline
    # otherwise (same contract as banded_hamming_pairs), and the index
    # is the write-once corpus side of every subsequent probe
    sig = simhash_sketch(df, id_col, text_col, bits=bits).localCheckpoint()
    slices = [
        sig.select(
            F.col(id_col).alias("corpus_id"),
            F.col("simhash").alias("sh_corpus"),
            F.lit(bi).alias("band"),
            F.shiftright(F.col("simhash"), bi * width)
            .bitwiseAND(F.lit(mask))
            .alias("bval"),
        )
        for bi in range(bands)
    ]
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out


def simhash_screen_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 24,
    radius: int = 1,
) -> DataFrame:
    """Near-dup screen of ARRIVING documents against a static banded
    corpus index (simhash_band_index) — the daily-ingest / streaming
    dedup shape: sketch only the new rows, probe the index band-wise,
    exact-verify with bit_count(xor).

    Returns (new_id, corpus_id, hamming), one row per matching pair.

    Every step on the new side is a stateless row-local projection
    (simhash_col + a band explode), so ``new_docs`` may be a STREAMING
    DataFrame: the probe is then a stream-static equi-join on
    (band, bval) — no watermark, no state store.  Pair uniqueness is
    also stateless: a pair matching in several bands keeps only its
    FIRST matching band's row (lower-bands-differ predicate) instead
    of a stateful distinct.

    The index side is left to the optimizer: a small index broadcasts
    automatically; a corpus-scale index sort-merges, co-located if it
    was bucketed by (band, bval) as simhash_band_index recommends.
    """
    from parquet_to_sql_spark.operators.text import simhash_col, ws_tokens

    bands = radius + 1
    if bits % bands:
        raise ValueError("bits must be divisible by radius + 1")
    width = bits // bands
    mask = (1 << width) - 1
    sketched = (
        new_docs.filter(F.size(ws_tokens(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("new_id"),
            simhash_col(F.col(text_col), bits).alias("sh_new"),
        )
    )
    banded = sketched.select(
        "new_id",
        "sh_new",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.shiftright(F.col("sh_new"), bi * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("new_id", "sh_new", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval"))
    joined = (
        banded.join(index, ["band", "bval"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_new").bitwiseXOR(F.col("sh_corpus"))).cast("int"),
        )
        .filter(F.col("hamming") <= radius)
    )
    # keep only the first matching band: for a row tagged band=b, every
    # lower band must differ (else that lower band's row represents
    # the pair) — row-local, so it works unchanged on a stream
    def _slice(col: str, bi: int) -> Column:
        return F.shiftright(F.col(col), bi * width).bitwiseAND(F.lit(mask))

    keep = F.lit(True)
    for lb in range(bands - 1):
        keep = keep & (
            (F.col("band") <= F.lit(lb))
            | (_slice("sh_new", lb) != _slice("sh_corpus", lb))
        )
    return joined.filter(keep).select("new_id", "corpus_id", "hamming")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    block_limit: int | None = None,
) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine >= threshold.

    Pair generation here is the exact all-pairs join (fine to ~10^4
    rows per block); the 100 TB path generates candidates with
    simsearch.ivf_assign buckets and reuses this scoring expression.

    ``block_limit`` quarantines the quadratic plan to the labeled
    block ``id < block_limit`` — with it set, the join is O(limit^2)
    by construction no matter how large the corpus grows, which is
    the only shape in which an exact all-pairs baseline may appear in
    a gate query (VERDICT r02 #5).  Production near-dup at full scale
    uses embedding_neardup_lsh / embedding_neardup_ivf instead.
    """
    from parquet_to_sql_spark.operators.simsearch import cosine_expr, with_norm

    if block_limit is not None:
        df = df.filter(F.col(id_col) < block_limit)
    a = with_norm(df, id_col, vec_col, prefix="a")
    b = with_norm(df, id_col, vec_col, prefix="b")
    return (
        a.join(b, F.col(f"a_{id_col}") < F.col(f"b_{id_col}"))
        .withColumn("cosine", cosine_expr("a_vec", "b_vec", "a_norm", "b_norm"))
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"a_{id_col}").alias("id1"),
            F.col(f"b_{id_col}").alias("id2"),
            "cosine",
        )
    )


def triangle_counts(
    edges: DataFrame,
    a: str = "doc1",
    b: str = "doc2",
    assume_unique: bool = False,
) -> DataFrame:
    """Per-vertex triangle participation counts over an undirected
    edge list (a < b per row), via the degree-ordered node-iterator
    (Suri & Vassilvitskii WWW'11 / Cohen's MapReduce graph patterns,
    public record).

    Every edge is oriented from its lower-(degree, id) endpoint to the
    higher one; the orientation bounds out-degrees by O(sqrt(m)) on
    any graph, so total intersection work is O(m^{3/2}) instead of
    sum(deg^2) — the difference between "dies on the first celebrity
    node" and "runs at 100 TB".  Triangles are read off a row-local
    array_intersect of the two endpoints' out-neighbor lists (the
    edge-iterator form of the same algorithm; r13 — this replaced a
    materialized wedge self-join, see the inline note).

    Returns (doc_id, n_triangles) for vertices in >= 1 triangle; each
    triangle contributes once to each of its three vertices.

    The edge list and the oriented relation are referenced 2-3 times
    downstream; without lineage truncation the optimizer would
    re-derive the (potentially expensive) upstream candidate
    pipeline once per reference — measured 12 redundant replays on
    the simhash-edge input.  localCheckpoint materializes each
    exactly once (on a cluster, swap for reliable-storage checkpoint
    or persist(DISK_ONLY)).
    """
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    if not assume_unique:
        e = e.distinct()
    e = e.localCheckpoint()
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u").alias("_du"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("_dv"), F.col("deg").alias("deg_v"))
    ranked = e.join(du, e["u"] == du["_du"]).join(dv, e["v"] == dv["_dv"])
    lower = F.struct(F.col("deg_u"), F.col("u")) < F.struct(F.col("deg_v"), F.col("v"))
    o = ranked.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint()
    # Optimization r13: the wedge SELF-JOIN (materialize all
    # O(m^1.5) wedges, then close them with a second join — 54M
    # shuffled wedge rows and ~22 s of join CPU on the sf0.1 simhash
    # graph) is replaced by the adjacency-intersection edge iterator:
    # collect each vertex's out-neighbors once, attach both endpoint
    # lists to every oriented edge, and read the closing vertices off
    # a row-local array_intersect.  Same orientation, so the SAME
    # O(sqrt(m)) out-degree bound caps every list and the total
    # intersection work is the same O(m^1.5) comparisons — but they
    # run inside one codegen'd projection instead of materializing
    # and shuffling the wedge relation.  Triangle set is identical:
    # each triangle (a<b<c by rank) is found exactly once, on edge
    # (a,b) with c in N+(a) ∩ N+(b).  The degree and adjacency
    # relations are vertex-count-sized with bounded rows; their
    # attach joins are plain equi-joins AQE converts to broadcast
    # when the runtime size fits (it does at bench scale) and keeps
    # as shuffles when it does not (the 100 TB case).
    adj = o.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    a1 = adj.select(F.col("src").alias("_a1"), F.col("nbrs").alias("n1"))
    a2 = adj.select(F.col("src").alias("_a2"), F.col("nbrs").alias("n2"))
    # Optimization r14 (guide §2.3 — partition for COMPUTE, not bytes):
    # the closing join's shuffles carry few BYTES (two longs + one
    # bounded list per row) but feed the operator's heaviest compute —
    # the per-row array_intersect over O(sqrt(m)) lists plus the
    # triangle explode.  AQE's byte-based coalescing therefore
    # serialized the whole intersect stage into 1-2 tasks (measured
    # 0.85 s single-task CPU at sf0.1 vs ~13 ms of bytes).  The two
    # hash exchange the join REQUIRES anyway on its probe side is made
    # user-specified (repartition by the join key, width = the
    # session's shuffle parallelism — the same scale knob every other
    # exchange uses), which exempts it from coalescing: identical
    # exchange count, identical shuffled bytes, intersect width
    # pinned.  One side suffices — a sort-merge join keeps both sides
    # co-partitioned, so AQE cannot shrink the build side either.
    # Trade-off, documented: a user-specified exchange is also exempt
    # from AQE skew-join splitting; per-row work stays bounded by the
    # O(sqrt(m)) orientation cap, and rows-per-dst-key by in-degree,
    # so a single hot partition degrades gracefully rather than
    # quadratically (the wedge relation this replaced had the same
    # key distribution WITH quadratic row growth).
    try:
        n_part = int(o.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n_part = o.sparkSession.sparkContext.defaultParallelism
    tri = (
        o.join(a1, o["src"] == a1["_a1"])
        .repartition(n_part, "dst")
        .join(a2, F.col("dst") == a2["_a2"])
        .select(
            "src", "dst", F.explode(F.array_intersect("n1", "n2")).alias("w")
        )
    )
    verts = tri.select(F.explode(F.array("src", "dst", "w")).alias("doc_id"))
    return verts.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank_int(
    edges: DataFrame,
    a: str = "doc1",
    b: str = "doc2",
    iterations: int = 3,
    scale: int = 1_000_000,
    assume_unique: bool = False,
) -> DataFrame:
    """Fixed-point-integer PageRank over an undirected edge list —
    every arithmetic step is BIGINT (contribution = score div degree,
    damping = 150000 + (85 * inflow) div 100), so the result is
    deterministic and cross-engine exact: no float accumulation order
    to worry about, and a DuckDB oracle can unroll the same
    iterations.  Scores are scaled by `scale` per node (the "*N"
    PageRank variant: base rank (1-d)*scale instead of (1-d)/N).

    Scale shape per iteration: one equi-join (scores onto the
    degree-annotated edge list, shuffle on the source key) and one
    groupBy-sum (shuffle on the destination key) — the same two
    shuffles as hash-min connected components; localCheckpoint per
    iteration truncates lineage so plans stay flat.  Undirected input
    means no dangling nodes (every vertex has in-edges).
    """
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    if not assume_unique:
        e = e.distinct()
    und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # lazy (r13): rel materializes inside the first iteration's job
    # and is reused from the checkpoint by later ones — same
    # truncation, no standalone materialization job
    rel = und.join(deg, "u").localCheckpoint(eager=False)  # (u, v, d) — built once
    scores = deg.select(F.col("u").alias("node"), F.lit(scale).cast("long").alias("score"))
    base = (scale * 15) // 100
    for _ in range(iterations):
        contrib = rel.join(
            scores.select(F.col("node").alias("u"), "score"), "u"
        ).select(F.col("v").alias("node"), F.expr("score div d").alias("c"))
        scores = (
            contrib.groupBy("node")
            .agg(F.expr(f"{base} + (85 * sum(c)) div 100").alias("score"))
            .localCheckpoint(eager=False)
        )
    return scores.select("node", F.col("score").cast("long").alias("pr_scaled"))


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_pct: int = 50,
) -> DataFrame:
    """Set-similarity self-join by PREFIX FILTERING (the
    PPJoin/AllPairs family — Chaudhuri et al. ICDE'06, Xiao et al.
    WWW'08, public record): lossless for Jaccard >= t, with candidate
    volume collapsed by indexing only each document's RAREST shingles.

    Sort every document's hashed shingle set by ascending global
    document frequency (ties by shingle value — one deterministic
    total order both engines share); two sets with Jaccard >= t must
    share at least one shingle among each one's first
    ``n_sh - ceil(t*n_sh) + 1`` entries (pigeonhole: fewer matches
    than that leaves < t*n_sh possible overlap).  So the inverted
    index is built over PREFIXES only — the frequent shingles that
    make a full posting-list join quadratic never enter the index at
    all, the opposite of a doc-frequency CAP (which drops evidence
    and changes the measure; the prefix filter provably returns
    exactly the full join's answer).  Candidates also length-filter
    (100*min_n >= pct*max_n, integer) before the exact verify, which
    re-joins the full sorted arrays and scores
    ``|A∩B| / (|A|+|B|-|A∩B|)`` with integer intersection counts.

    Shuffle budget: df-count agg + annotate join + per-doc sort agg
    (all on the shingle/doc keys), one prefix self-join whose per-
    shingle cost is bounded by the prefix-only posting lists, one
    pair-keyed verify join.  No hub cap needed and none applied —
    rare-first ordering keeps hub shingles out of every long
    document's prefix by construction.

    ceil via the exact-multiple trick: ceil(pct*n/100) =
    ((pct*n + 99) - (pct*n + 99) % 100) / 100 — the numerator is an
    exact multiple of 100 below 2^53, so the IEEE division is exact
    in both engines (same discipline as queries/relational.py's
    SUM_CHARGE).

    Returns (doc1, doc2, jaccard) with doc1 < doc2, jaccard >= pct/100.
    """
    if not 1 <= threshold_pct <= 100:
        raise ValueError("threshold_pct must be in 1..100")
    # compact per-doc arrays cached: `sh` below is referenced by BOTH
    # the df-count aggregate and the annotate join — uncached, the
    # tokenize+hash pipeline re-derives once per reference (audited as
    # 3 scans in the r5 plan sweep); the cache is one narrow row per
    # doc, the same lifecycle as _array_overlap_counts
    arrays = hashed_shingle_arrays(df, id_col, text_col, n=n).cache()
    sh = arrays.select("doc", F.explode("shs").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfq"))
    ann = sh.join(dfreq, "shingle")
    # rarest-first per-doc arrays; array_sort on struct(dfq, shingle)
    # is the lexicographic (dfq, shingle) order — deterministic
    ordered = (
        ann.groupBy("doc")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dfq", "shingle"))),
                lambda x: x["shingle"],
            ).alias("arr"),
            F.count(F.lit(1)).alias("n_sh"),
        )
        .cache()  # two consumers: prefix index + both verify sides
    )
    p = threshold_pct
    ceil_tn = F.expr(
        f"CAST((({p}*n_sh + 99) - ({p}*n_sh + 99) % 100) / 100 AS BIGINT)"
    )
    prefix = ordered.select(
        "doc",
        "n_sh",
        F.explode(
            F.slice(F.col("arr"), F.lit(1), (F.col("n_sh") - ceil_tn + F.lit(1)).cast("int"))
        ).alias("shingle"),
    )
    a = prefix.select(
        F.col("doc").alias("doc1"), F.col("n_sh").alias("na"), "shingle"
    )
    b = prefix.select(
        F.col("doc").alias("doc2"), F.col("n_sh").alias("nb"), "shingle"
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc1") < F.col("doc2"))
        .filter(
            F.lit(100) * F.least("na", "nb") >= F.lit(p) * F.greatest("na", "nb")
        )
        .select("doc1", "doc2")
        .distinct()
    )
    x = ordered.select(
        F.col("doc").alias("doc1"), F.col("arr").alias("arr1"), F.col("n_sh").alias("n1")
    )
    y = ordered.select(
        F.col("doc").alias("doc2"), F.col("arr").alias("arr2"), F.col("n_sh").alias("n2")
    )
    verified = (
        cand.join(x, "doc1")
        .join(y, "doc2")
        .withColumn("common", F.size(F.array_intersect("arr1", "arr2")).cast("long"))
        .filter(
            F.lit(100) * F.col("common")
            >= F.lit(p) * (F.col("n1") + F.col("n2") - F.col("common"))
        )
    )
    return verified.select(
        "doc1",
        "doc2",
        (
            F.col("common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("common")).cast("double")
        ).alias("jaccard"),
    )


def kcore_peel(
    edges: DataFrame,
    a: str = "doc1",
    b: str = "doc2",
    k: int = 3,
    rounds: int = 3,
    assume_unique: bool = False,
) -> DataFrame:
    """`rounds` fixed peeling passes toward the k-core of an
    undirected edge list (a < b per row): each pass drops every vertex
    whose current degree is < k, plus all its incident edges.  The
    fixed-round variant (rather than peel-to-convergence) is what
    makes the iterative algorithm value-exact against a DuckDB oracle
    that unrolls the same passes — the same trick as pagerank_int's
    unrolled iterations; its survivors are a superset of the true
    k-core that shrinks monotonically per round.

    Dense-subgraph triage for dup-graph analytics (Seidman 1983
    coreness, public record): k-core membership separates boilerplate
    CLIQUES (template families where every copy links to every other)
    from star-shaped hub false positives that triangle counts alone
    can under-rank.

    Returns (doc_id, residual_degree) for vertices surviving all
    rounds, degrees measured on the surviving subgraph.

    Scale shape per round: one degree aggregate + two semi-joins on
    the vertex key (all equi-key shuffles AQE can plan); the edge
    relation shrinks monotonically, and localCheckpoint truncates the
    per-round lineage exactly like the other iterative graph
    operators (swap for reliable checkpoints on a real cluster).
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    if not assume_unique:
        e = e.distinct()
    # lazy checkpoints throughout (r13): no action runs between
    # rounds, so eager ones only added one serialized job per round;
    # lazy marks truncate lineage identically and materialize inside
    # the consumer's single job DAG.
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("u")
        und = (
            und.join(keep, "u", "left_semi")
            .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    return und.groupBy("u").agg(F.count(F.lit(1)).alias("residual_degree")).select(
        F.col("u").alias("doc_id"), "residual_degree"
    )


def repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 6,
    min_tokens: int = 12,
    max_occ: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Maximal cross-document EXACT repeated token spans — the
    passage-level exact-substring dedup of Lee et al. "Deduplicating
    Training Data Makes Language Models Better" (ACL'22, public
    record), re-expressed relationally: instead of a giant suffix
    array, match POSITIONAL hashed k-grams across documents and merge
    runs of consecutive matches at a constant offset into maximal
    shared spans.

    A shared token run of length L >= k appears as L - k + 1
    consecutive k-gram matches with the same position offset
    d = pos2 - pos1, so maximal spans fall out of one gaps-and-islands
    pass per (doc1, doc2, d): island = pos1 - row_number() over pos1.
    "Match" means equal 31-bit fold hash of the k token hashes — the
    same engine-neutral composition as the shingle family (a
    collision merges two k-grams; both engines compose identically,
    so results stay value-exact cross-engine).

    ``max_occ`` caps a k-gram's total occurrences (QUALIFY-mirrored in
    oracles), the standard hub guard: a boilerplate k-gram appearing
    everywhere would otherwise make the positional join quadratic.

    Scale shape: one positional-gram explode O(tokens), one capped
    equi-join on the gram hash, one window + aggregate on
    (doc1, doc2, d) — no suffix array, no global sort of the corpus,
    and every stage partitions on bounded keys.

    Returns (doc1, doc2, start1, start2, span_tokens): 1-based word
    positions, span length in TOKENS (>= min_tokens), doc1 < doc2.
    """
    from pyspark.sql import Window

    if k < 2 or min_tokens < k:
        raise ValueError("need k >= 2 and min_tokens >= k")
    # cached: the tokenize+hash+cap pipeline feeds BOTH self-join
    # sides — uncached, Spark re-derives it per side (two full scans
    # and two cap windows; same lifecycle convention as the shingle
    # family, caller releases via clearCache).  The cache is
    # O(tokens) rows — MEMORY_AND_DISK spills at fixture scale, but a
    # 100 TB corpus should materialize the gram relation ONCE to a
    # bucketed-by-h table instead (reference_span_index is exactly
    # that shape) and self-join the table.
    grams = (
        hashed_positional_kgrams(df, id_col, text_col, k)
        .withColumn("_occ", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("_occ") <= max_occ)
        .drop("_occ")
        .cache()
    )
    a = grams.select(
        F.col("doc").alias("doc1"), F.col("pos").alias("pos1"), "h"
    )
    b = grams.select(
        F.col("doc").alias("doc2"), F.col("pos").alias("pos2"), "h"
    )
    m = (
        a.join(b, "h")
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2", "pos1", (F.col("pos2") - F.col("pos1")).alias("d"))
    )
    w = Window.partitionBy("doc1", "doc2", "d").orderBy("pos1")
    runs = m.withColumn("island", F.col("pos1") - F.row_number().over(w))
    spans = (
        runs.groupBy("doc1", "doc2", "d", "island")
        .agg(F.min("pos1").alias("start1"), F.count(F.lit(1)).alias("n"))
        .withColumn("span_tokens", (F.col("n") + F.lit(k - 1)).cast("long"))
        .filter(F.col("span_tokens") >= min_tokens)
    )
    return spans.select(
        "doc1",
        "doc2",
        F.col("start1").cast("long"),
        (F.col("start1") + F.col("d")).cast("long").alias("start2"),
        "span_tokens",
    )


def hashed_positional_kgrams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc, pos, h): the 31-bit fold hash of every positional k-word
    window (1-based pos), via the vectorized Arrow kernel
    (hashkernel.hashedfold_kgram_hashes — value-exact twin of the
    staged word-hash + window-fold HOF formulation; optimization
    r13)."""
    from parquet_to_sql_spark.operators.hashkernel import hashedfold_kgram_hashes

    return (
        hashedfold_kgram_hashes(df, id_col, text_col, k)
        .select(
            F.col(id_col).alias("doc"),
            F.posexplode("shs").alias("_i", "h"),
        )
        .select("doc", (F.col("_i") + F.lit(1)).alias("pos"), "h")
    )


def reference_span_index(
    ref_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 6,
    max_occ: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Static reference side of the streaming repeated-span screen:
    (ref_doc, ref_pos, h) positional k-gram rows of the protected
    corpus (benchmark suites, eval sets), occurrence-capped with the
    same hub guard as repeated_spans.

    At scale this index is computed ONCE batch-side and written
    bucketed by ``h`` (the probe join key) — every ingest batch probes
    it without re-sketching the reference corpus, the same
    write-once/probe-many lifecycle as simhash_band_index."""
    from pyspark.sql import Window

    return (
        hashed_positional_kgrams(ref_docs, id_col, text_col, k)
        .withColumn("_occ", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("_occ") <= max_occ)
        .select(
            F.col("doc").alias("ref_doc"), F.col("pos").alias("ref_pos"), "h"
        )
    )


def repeated_span_matches(
    new_docs: DataFrame, index: DataFrame, id_col: str, text_col: str, k: int = 6
) -> DataFrame:
    """Positional k-gram matches of ``new_docs`` against a
    reference_span_index: (ref_doc, new_doc, ref_pos, d) with
    d = new_pos - ref_pos.  Row-local gram projection + one equi-join
    on the hash — STATELESS, so it is legal as a stream-static join on
    a streaming ``new_docs`` (no watermark, no state store; matches
    append at ingest rate).  Consecutive ref_pos at constant
    (ref_doc, new_doc, d) form shared spans; the islands rollup is the
    consumer's batch pass (a non-time window function, so it cannot
    run inside append mode — same pre-aggregation contract as
    contamination_screen)."""
    grams = hashed_positional_kgrams(new_docs, id_col, text_col, k)
    return (
        grams.select(
            F.col("doc").alias("new_doc"), F.col("pos").alias("new_pos"), "h"
        )
        .join(index, "h")
        .select(
            "ref_doc",
            "new_doc",
            "ref_pos",
            (F.col("new_pos") - F.col("ref_pos")).alias("d"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 24,
    window: int = 4,
    radius: int = 3,
) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo's
    merge/purge, SIGMOD'95, public record): sort the corpus by its
    simhash value and compare each document only with its next
    ``window`` neighbors in sort order, then exact-verify with
    bit_count(xor) <= ``radius``.

    The complement to pigeonhole banding: banding at radius r needs
    r+1 bands (band width shrinks, candidates explode as r grows),
    while the sorted neighborhood's cost is a flat O(n * window) at
    ANY radius — the right tool for the WIDER radii (here 3) where
    similar sketches share long prefixes and therefore sort near each
    other.  Recall is heuristic (differing high bits separate
    otherwise-close sketches — the known SNM trade-off, classically
    mitigated with multiple sort keys); the detector is still exact
    ABOUT what it reports, every pair carrying its true Hamming
    distance, so the operator is value-exact cross-engine.

    Distribution: the global sort rank comes from the two-level
    prefix sum (operators.prefix.prefix_sum with weight 1) — range
    partition + in-partition window + offset broadcast, never a
    single-task global window; neighbor probing is rank+j probe
    explosion (j = 1..window) joined back on rank equality — one
    equi-join, no range/theta join, no cross-partition halo logic.

    Returns (doc1, doc2, hamming), doc1 < doc2 by id.
    """
    from parquet_to_sql_spark.operators.prefix import prefix_sum
    from parquet_to_sql_spark.operators.text import simhash_sketch

    if window < 1:
        raise ValueError("window must be >= 1")
    sig = simhash_sketch(df, id_col, text_col, bits=bits)
    ranked = prefix_sum(
        sig.withColumn("_one", F.lit(1).cast("long")),
        ["simhash", id_col],
        "_one",
        out_col="rank",
    ).localCheckpoint()  # two join consumers below
    probes = ranked.select(
        F.col(id_col).alias("id1"),
        F.col("simhash").alias("sh1"),
        F.explode(
            F.array(*[F.col("rank") + F.lit(j) for j in range(1, window + 1)])
        ).alias("rank"),
    )
    others = ranked.select(
        F.col(id_col).alias("id2"), F.col("simhash").alias("sh2"), "rank"
    )
    return (
        probes.join(others, "rank")
        .withColumn(
            "hamming", F.bit_count(F.col("sh1").bitwiseXOR(F.col("sh2"))).cast("int")
        )
        .filter(F.col("hamming") <= radius)
        .select(
            F.least("id1", "id2").alias("doc1"),
            F.greatest("id1", "id2").alias("doc2"),
            "hamming",
        )
    )


def span_excision_offsets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 6,
    min_tokens: int = 12,
    max_occ: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Per-document EXCISION OFFSETS for repeated-span dedup — the
    operator a curation pipeline actually applies after detection
    (Lee et al. ACL'22 excise one occurrence of each duplicated
    passage and keep another): under the deterministic KEEP-FIRST
    policy, a document excises every maximal span (>= ``min_tokens``
    tokens) it shares with any LOWER-id document, so exactly one copy
    — the one in the smallest doc id — survives corpus-wide.

    Overlapping or adjacent cut intervals within a document (a
    passage shared with several earlier documents, or two abutting
    boilerplate blocks) are merged into minimal disjoint intervals by
    a second gaps-and-islands pass: order cuts by start, track the
    running max end, start a new island when a cut begins past
    running-end + 1.

    Scale shape: repeated_spans' budget (positional-gram explode,
    capped equi-join, islands rollup) plus ONE extra keyed window +
    aggregate on (doc, island) — the cut relation is spans-sized,
    orders of magnitude smaller than the gram relation, and every
    stage partitions by doc.

    Returns (doc, cut_start, cut_end, cut_tokens): 1-based inclusive
    token offsets of each disjoint interval to remove, cut_tokens =
    cut_end - cut_start + 1 (>= min_tokens by construction on
    singleton islands; merged islands can only be longer)."""
    spans = repeated_spans(df, id_col, text_col, k, min_tokens, max_occ)
    cuts = spans.select(
        F.col("doc2").alias("doc"),
        F.col("start2").alias("s"),
        (F.col("start2") + F.col("span_tokens") - F.lit(1)).alias("e"),
    )
    return merge_token_intervals(cuts)


def merge_token_intervals(cuts: DataFrame) -> DataFrame:
    """Merge a (doc, s, e) relation of 1-based inclusive token
    intervals into minimal disjoint (cut_start, cut_end) intervals per
    document: order by start, track the running max end, start a new
    island when an interval begins past running-end + 1 (overlapping
    OR adjacent intervals coalesce).  One keyed window + one keyed
    aggregate over the — spans-sized, tiny — cut relation."""
    from pyspark.sql import Window

    w_order = Window.partitionBy("doc").orderBy("s", "e")
    w_prev = w_order.rowsBetween(Window.unboundedPreceding, -1)
    islands = cuts.withColumn(
        "_prev_e", F.max("e").over(w_prev)
    ).withColumn(
        "_ni",
        F.when(
            F.col("_prev_e").isNull() | (F.col("s") > F.col("_prev_e") + 1), 1
        ).otherwise(0),
    ).withColumn("_island", F.sum("_ni").over(w_order))
    return (
        islands.groupBy("doc", "_island")
        .agg(F.min("s").alias("cut_start"), F.max("e").alias("cut_end"))
        .select(
            "doc",
            "cut_start",
            "cut_end",
            (F.col("cut_end") - F.col("cut_start") + F.lit(1)).alias(
                "cut_tokens"
            ),
        )
    )


def decontamination_offsets(
    corpus: DataFrame,
    ref_docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 6,
    min_tokens: int = 12,
    max_occ: int = DEFAULT_MAX_DOC_FREQ,
) -> DataFrame:
    """Per-document EXCISION OFFSETS against a PROTECTED reference
    corpus (eval/benchmark suites) — decontamination as training
    pipelines actually run it: every maximal token span of a corpus
    document that also appears verbatim in any reference document
    (>= ``min_tokens`` tokens) becomes a cut interval, merged into
    minimal disjoint ranges per corpus doc.  Unlike the keep-first
    self-dedup (span_excision_offsets), the reference side is never
    cut — it is the ground truth being protected.

    Scale shape: the reference index is computed once
    (reference_span_index — occurrence-capped on the REFERENCE side
    only, the hub guard) and at scale written bucketed by gram hash;
    each corpus document's grams probe it with one equi-join
    (repeated_span_matches — stateless, legal stream-static), then
    one gaps-and-islands pass per (ref_doc, new_doc, d) builds
    maximal spans and one interval merge per corpus doc emits the
    offsets.  Corpus text itself never shuffles.

    Returns (doc, cut_start, cut_end, cut_tokens) in CORPUS document
    token coordinates, ready for apply_excisions."""
    from pyspark.sql import Window

    index = reference_span_index(ref_docs, id_col, text_col, k, max_occ)
    matches = repeated_span_matches(corpus, index, id_col, text_col, k)
    w = Window.partitionBy("ref_doc", "new_doc", "d").orderBy("ref_pos")
    runs = matches.withColumn(
        "island", F.col("ref_pos") - F.row_number().over(w)
    )
    spans = (
        runs.groupBy("ref_doc", "new_doc", "d", "island")
        .agg(F.min("ref_pos").alias("start_ref"), F.count(F.lit(1)).alias("n"))
        .withColumn("span_tokens", (F.col("n") + F.lit(k - 1)).cast("long"))
        .filter(F.col("span_tokens") >= min_tokens)
    )
    cuts = spans.select(
        F.col("new_doc").alias("doc"),
        (F.col("start_ref") + F.col("d")).alias("s"),
        (
            F.col("start_ref") + F.col("d") + F.col("span_tokens") - F.lit(1)
        ).alias("e"),
    )
    return merge_token_intervals(cuts)


def apply_excisions(
    df: DataFrame, id_col: str, text_col: str, cuts: DataFrame
) -> DataFrame:
    """APPLY span-excision offsets row-locally — the final step of the
    detect -> offsets -> apply passage-dedup pipeline: drop every
    token whose 1-based position falls inside one of the document's
    (cut_start, cut_end) intervals and rejoin the survivors with
    single spaces (documents with cuts are re-emitted as a normalized
    token stream; documents without cuts keep their text verbatim).

    ``cuts`` is a (doc, cut_start, cut_end, cut_tokens) relation as
    produced by span_excision_offsets (intervals disjoint per doc).

    Scale shape: the cut relation aggregates to one array row per
    affected document (spans-sized — orders of magnitude smaller than
    the corpus), then ONE left equi-join keyed by doc id attaches it;
    Spark broadcasts it when small, and the token filtering is a pure
    row-local higher-order function either way — the corpus text
    never shuffles.

    Returns (id_col, clean_text, tokens_removed)."""
    from parquet_to_sql_spark.operators.text import ws_tokens

    agg = cuts.groupBy(F.col("doc").alias("_cdoc")).agg(
        F.sort_array(
            F.collect_list(F.struct("cut_start", "cut_end"))
        ).alias("_cuts"),
        F.sum("cut_tokens").alias("_removed"),
    )
    joined = df.join(agg, df[id_col] == agg["_cdoc"], "left")
    # (r14 note — measured and REJECTED: an O(cuts)-lambda slice-fold
    # alternative — aggregate over the sorted disjoint cuts,
    # concat-slicing each inter-cut gap out of the token array — was
    # built, verified output-identical, and A/B'd in one session at
    # BOTH sf0.1 and a 10x corpus: per-token filter median 2.13/2.49 s
    # vs slice-fold 2.24/2.65 s.  The per-cut concat COPIES the
    # accumulated array, and at realistic tokens-per-doc the copy cost
    # exceeds the saved interpreted per-token lambda evaluations.
    # Don't retry without a copy-free accumulator.)
    kept = F.filter(
        ws_tokens(F.col(text_col)),
        lambda w, i: ~F.exists(
            F.col("_cuts"),
            lambda c: (i + 1 >= c["cut_start"]) & (i + 1 <= c["cut_end"]),
        ),
    )
    clean = F.when(F.col("_cuts").isNull(), F.col(text_col)).otherwise(
        F.array_join(kept, " ")
    )
    return joined.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.coalesce(F.col("_removed"), F.lit(0)).cast("long").alias(
            "tokens_removed"
        ),
    )


def line_ledger(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The PERSISTABLE exact-line-dedup state: one row per distinct
    non-blank line hash seen in ``docs`` — column ``line_h`` (sha2-256;
    collision-safe at any corpus size, because a collision here deletes
    text from future snapshots).

    This is the cross-snapshot half of ``dedup_exact_lines_apply``
    (VERDICT r08 #5): a recurring crawl persists this relation as a
    parquet table BUCKETED on ``line_h`` (plans/bucketing.py layout),
    so each new slice dedups against stored state with the ledger side
    of the join pre-partitioned — the base corpus is never rescanned,
    and the ledger never reshuffles.  After each batch, append
    ``ledger_delta`` (below) and the state stays current.

    Scale shape: one scan of the slice, explode to lines, DISTINCT via
    map-side-combined aggregate — the exchange is distinct-line
    cardinality, not token volume."""
    lines = docs.select(
        F.explode(F.split(F.col(text_col), "\n")).alias("line")
    )
    return (
        lines.filter(F.trim(F.col("line")) != "")
        .select(F.sha2(F.col("line"), 256).alias("line_h"))
        .distinct()
    )


def dedup_lines_against_ledger(
    new_docs: DataFrame,
    ledger: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact-line dedup of a NEW snapshot against stored
    state: the production recurring-crawl shape (VERDICT r08 #5).

    Semantics (snapshot ordering): every line whose hash is already in
    ``ledger`` is dropped from the new slice entirely (its first
    occurrence lives in an earlier snapshot); lines new to the corpus
    keep their first occurrence within this slice (smallest
    (doc_id, pos)) and drop later copies; blank lines always pass.
    Processing batches 1..N this way yields exactly the from-scratch
    result over the concatenated corpus ordered (batch, doc_id, pos) —
    tests/test_operators.py proves the two-batch case.

    Returns ``(verdicts, ledger_delta)``:
      * ``verdicts``: one row per line of the new slice —
        (doc_id, pos, line, keep, dropped_base) where ``dropped_base``
        marks drops caused by the stored ledger (vs within-slice dups);
      * ``ledger_delta``: the distinct hashes this slice adds — append
        to the stored ledger to advance the state.

    Scale shape: the new slice explodes once; within-slice firsts are
    a map-side-combined min aggregate (distinct-line-of-slice
    exchange); the ledger probe is ONE equi-join on line_h — with the
    ledger bucketed on line_h only the (much smaller) new slice
    shuffles, and the base corpus is never read at all.  The encoded
    first-position min (doc_id * 2^20 + pos) matches the DuckDB
    oracle's integer arithmetic exactly (pos < 2^20 asserted by the
    split cap in load; real crawls key by (shard, offset) the same
    way)."""
    lines = new_docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    cand = lines.withColumn(
        "_h",
        F.when(F.trim(F.col("line")) != "", F.sha2(F.col("line"), 256)),
    ).withColumn(
        "_enc", F.col("doc_id") * F.lit(1 << 20) + F.col("pos")
    )
    led = ledger.select(F.col("line_h").alias("_h"), F.lit(True).alias("_in_base"))
    probed = cand.join(led, "_h", "left")
    firsts = (
        cand.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.min("_enc").alias("_first_enc"))
    )
    marked = probed.join(firsts, "_h", "left").select(
        "doc_id",
        "pos",
        "line",
        (
            F.col("_h").isNull()
            | (
                F.col("_in_base").isNull()
                & (F.col("_enc") == F.col("_first_enc"))
            )
        ).alias("keep"),
        F.coalesce(F.col("_in_base"), F.lit(False)).alias("dropped_base"),
    )
    delta = (
        cand.filter(F.col("_h").isNotNull())
        .select(F.col("_h").alias("line_h"))
        .distinct()
        .join(ledger.select("line_h"), "line_h", "left_anti")
    )
    return marked, delta


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 128,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """MEMBERSHIP-ONLY LSH candidate pairs at production parameters
    (k=128 / bands=16 is the RefinedWeb/Dolma setting): docs sharing
    any (band, band-key) bucket, as a distinct (doc1, doc2) relation.

    Unlike ``minhash_lsh_pairs`` (which re-scores candidates by
    minhash agreement and therefore carries all k signature columns
    through BOTH join sides), this drops the signatures before the
    banding join — at k=128 that is 2k integer columns (~2 KB/row)
    the verification stage never needs, because production recall
    pipelines verify candidates with EXACT similarity (shingle
    Jaccard / edit distance), not a re-read of the estimate that
    generated them.  The join exchange carries (doc, band, key) only.

    Scale shape: signatures materialize once (localCheckpoint — the
    relation is referenced by ``bands`` slices x 2 join sides, and
    untruncated lineage would re-run the k MIN aggregates per slice);
    candidate generation is an equality join on the bucket key (never
    all-pairs); skewed buckets split by AQE."""
    if bands <= 0 or k % bands:
        raise ValueError(f"bands ({bands}) must evenly divide k ({k})")
    sig = minhash_signatures(df, id_col, text_col, k, n).localCheckpoint()
    return _candidates_from_sig(sig, id_col, k, bands)


def _candidates_from_sig(
    sig: DataFrame, id_col: str, k: int, bands: int
) -> DataFrame:
    """Membership-only banding join over a MATERIALIZED signature
    relation (the tail of minhash_lsh_candidates)."""
    exploded = _band_slices(sig, id_col, k, bands)
    left = exploded.select(F.col("doc").alias("doc1"), "band", "bucket")
    right = exploded.select(F.col("doc").alias("doc2"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def minhash_lsh_candidates_from_sig_arrays(
    sig: DataFrame, id_col: str, sig_col: str, k: int, bands: int
) -> DataFrame:
    """minhash_lsh_candidates over a PRECOMPUTED signature relation
    shaped (id, sig array<long> of length k) — for callers whose
    signatures come out of an Arrow kernel as one array column (the
    production audit, minhash_dedup_apply).  The banding slices come
    from ONE F.expr string (a single py4j round trip — the
    Column-by-Column formulation of the same expression cost ~0.9 s
    of driver time at k=128/bands=16) building the identical
    concat_ws('_', cast(sig[i] as string)...) bucket keys as
    _band_slices builds from m{i} columns.  No checkpoint: the input
    is expected to be cheap to recompute (a projection of an already
    materialized relation); the two join legs are identical subplans,
    which exchange reuse collapses at run time.

    The length contract is enforced HERE (ADVICE r13): only rows whose
    sig array has exactly k entries build buckets.  Out-of-range
    ``sig[i]`` yields NULL and concat_ws silently SKIPS NULLs, so a
    short or empty signature array (the kernels emit empty arrays for
    shingle-less docs) would otherwise land every such doc in one ''
    bucket per band and pairwise-join quadratically with wrong
    candidates.  The JVM explode+groupBy formulation never produces
    such rows, so the filter is a no-op for well-formed input and the
    guard exactly where the buckets are built."""
    if bands <= 0 or k % bands:
        raise ValueError(f"bands ({bands}) must evenly divide k ({k})")
    sig = sig.filter(F.size(F.col(sig_col)) == k)
    rows = k // bands
    slices = ", ".join(
        "named_struct('band', {bi}, 'bucket', concat_ws('_', {parts}))".format(
            bi=bi,
            parts=", ".join(
                f"cast({sig_col}[{bi * rows + r}] as string)"
                for r in range(rows)
            ),
        )
        for bi in range(bands)
    )
    exploded = sig.select(
        F.col(id_col).alias("doc"), F.explode(F.expr(f"array({slices})")).alias("_s")
    ).select("doc", "_s.band", "_s.bucket")
    left = exploded.select(F.col("doc").alias("doc1"), "band", "bucket")
    right = exploded.select(F.col("doc").alias("doc2"), "band", "bucket")
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """The PERSISTABLE MinHash-LSH state: (doc, band, bucket) — one
    row per banded signature slice of every document.  A recurring
    crawl stores this relation as a parquet table BUCKETED on
    (band, bucket) (plans/bucketing.py layout); each new snapshot then
    near-dup-screens against the stored index with the index side of
    the probe join pre-partitioned — the base corpus text is never
    re-shingled, and appending the new slice's index rows advances the
    state (the banded twin of line_ledger's exact-dedup state).

    Scale shape: one scan of the slice, explode to shingles, k MIN
    aggregates (map-side combined), a row-local band slice — the
    output is bands x doc-count rows of three narrow columns."""
    if bands <= 0 or k % bands:
        raise ValueError(f"bands ({bands}) must evenly divide k ({k})")
    # lazy (r14): _band_slices is the ONLY consumer, so the first
    # action materializes the truncated lineage in its own job — no
    # concurrent-recompute risk (contrast minhash_lsh_pairs, whose
    # 2-leg join keeps its checkpoint EAGER), one fewer serialized job
    sig = minhash_signatures(df, id_col, text_col, k, n).localCheckpoint(
        eager=False
    )
    return _band_slices(sig, id_col, k, bands)


def minhash_screen_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Near-dup screen of ARRIVING documents against a stored MinHash
    band index (minhash_band_index) — the cross-snapshot incremental
    shape for FUZZY dedup (VERDICT r08 #5 extended beyond exact
    lines): sketch only the new slice, probe the index band-wise,
    return the distinct (new_id, corpus_id) candidate pairs for the
    caller's exact-verification stage.

    The k/bands/n parameters MUST match the ones the index was built
    with — the bucket keys are parameter-specific (same contract as
    any LSH index).  With the index bucketed on (band, bucket) only
    the new slice shuffles; the base corpus is never read."""
    new_idx = minhash_band_index(new_docs, id_col, text_col, k, bands, n)
    return (
        new_idx.select(
            F.col("doc").alias("new_id"), "band", "bucket"
        )
        .join(
            index.select(F.col("doc").alias("corpus_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )


def minhash_dedup_apply(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    tau: float = 0.5,
) -> DataFrame:
    """The end-to-end production near-dedup chain (RefinedWeb/Dolma
    recipe): banded MinHash-LSH candidates -> EXACT hashed-n-gram
    Jaccard verification (>= tau) -> connected-component closure ->
    per-document manifest (doc_id, component, cluster_size, is_keep,
    n_chars).  Every input doc appears exactly once; singletons keep
    themselves; the min id of each component is the canonical keep.

    Scale shape: candidates via the membership-only banding join
    (signatures never cross the exchange); verification scores
    candidate pairs row-locally against the per-doc DISTINCT hashed
    shingle arrays (no explode, no per-shingle shuffle); closure via
    hash-min label propagation (one join + one groupBy-min per
    round).  The LSH estimate is never trusted for the drop decision
    — exactly the production discipline.

    Optimization r14: the signature relation and the verify-side
    shingle arrays come out of ONE Arrow kernel pass
    (hashkernel.sig_and_shingle_arrays — the corpus was previously
    scanned, tokenized and checkpointed TWICE, once per hash family,
    and the signatures additionally paid an explode + k-aggregate
    groupBy exchange).  One eager localCheckpoint materializes both
    relations for the banding join's two legs and the verify join's
    two sides; the signature minima are computed in-kernel
    (value-exact twin, pinned by tests/test_hashkernel.py), so the
    whole candidate stage is exchange-free until the banding join
    itself."""
    from pyspark.sql import Window

    from parquet_to_sql_spark.operators.hashkernel import sig_and_shingle_arrays

    kern = sig_and_shingle_arrays(df, id_col, text_col, n=n, k=k).localCheckpoint()
    cand = minhash_lsh_candidates_from_sig_arrays(kern, id_col, "sig", k, bands)
    arrays = kern.select(
        F.col(id_col).alias("doc"), F.array_distinct("shs").alias("shs")
    )
    a1 = arrays.select(F.col("doc").alias("doc1"), F.col("shs").alias("shs1"))
    a2 = arrays.select(F.col("doc").alias("doc2"), F.col("shs").alias("shs2"))
    common = F.size(F.array_intersect(F.col("shs1"), F.col("shs2")))
    union_sz = F.size("shs1") + F.size("shs2") - common
    verified = (
        cand.join(a1, "doc1")
        .join(a2, "doc2")
        .withColumn("_j", common.cast("double") / union_sz.cast("double"))
        .filter(F.col("_j") >= F.lit(tau))
        .select("doc1", "doc2")
    )
    comp = connected_components(
        verified, df.select(id_col), "doc1", "doc2", id_col
    )
    return comp.join(df, comp["node"] == df[id_col]).select(
        F.col("node").alias(id_col),
        F.col("label").alias("component"),
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("cluster_size"),
        (F.col("node") == F.col("label")).alias("is_keep"),
        F.length(text_col).cast("bigint").alias("n_chars"),
    )


def minhash_signatures_rowlocal(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, n: int = 3
) -> DataFrame:
    """MinHash signatures computed ROW-LOCALLY (array higher-order
    functions: transform + array_min over the per-doc shingle array)
    instead of explode + groupBy — VALUE-IDENTICAL to
    minhash_signatures (same string-fold shingle hash, same (a,b)
    permutation constants, same FOLD_MOD), but expressible on a
    STREAMING DataFrame where a grouped aggregation would need a
    watermark and a state store the sketch doesn't want.

    Batch callers should prefer minhash_signatures (explode + k MIN
    aggregates gets map-side combine and spreads shingle hashing
    across tasks after a rebalance); this variant exists for the
    at-ingest screen, where each micro-batch is small and row-local
    projection is exactly right.  Documents with < n words (empty
    shingle array) are dropped, matching the batch contract."""
    xs = F.transform(
        word_shingles(ws_tokens(F.col(text_col)), n), char_fold_hash
    )
    staged = df.select(F.col(id_col), xs.alias("_xs")).filter(
        F.size("_xs") > 0
    )
    def _perm(a: int, b: int):
        # pyspark infers lambda arity by signature introspection, so
        # the permutation constants must be CLOSED OVER, not default
        # args (a 3-param lambda would be bound as a (x, i, acc) HOF)
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(FOLD_MOD)

    cols = [
        F.array_min(F.transform(F.col("_xs"), _perm(a, b))).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_constants(k))
    ]
    return staged.select(id_col, *cols)


def minhash_band_rows_rowlocal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """(doc, band, bucket) band rows via the row-local signature path
    — the streaming-safe twin of minhash_band_index (posexplode is a
    stateless generator, so the whole relation is watermark-free).
    Bucket keys are byte-identical to the batch index builder's, so
    rows from either path probe the same stored index."""
    if bands <= 0 or k % bands:
        raise ValueError(f"bands ({bands}) must evenly divide k ({k})")
    rows = k // bands
    sig = minhash_signatures_rowlocal(df, id_col, text_col, k, n)
    band_arr = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.col(f"m{bi * rows + r}").cast("string")
                    for r in range(rows)
                ],
            )
            for bi in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col).alias("doc"),
        F.posexplode(band_arr).alias("band", "bucket"),
    )

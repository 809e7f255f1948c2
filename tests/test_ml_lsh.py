"""pyspark.ml LSH integration (SURVEY §2.C names these as the stock
Spark mapping): MinHashLSH over token shingles and
BucketedRandomProjectionLSH over embeddings. The engine's primary
implementations are the custom exact-oracle operators in
operators/dedup.py / operators/simsearch.py; these tests pin that the
stock ML path ALSO works here and broadly agrees with the exact
operators — the approxSimilarityJoin/approxNearestNeighbors shapes a
user might bring from vanilla Spark."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from parquet_to_sql_spark.catalog import load_table
from tests.conftest import SF_SMOKE


def test_ml_minhash_lsh_candidates_overlap_exact_jaccard(spark):
    from pyspark.ml.feature import CountVectorizer, MinHashLSH, NGram, Tokenizer

    from parquet_to_sql_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    toks = Tokenizer(inputCol="text", outputCol="words").transform(docs)
    grams = NGram(n=3, inputCol="words", outputCol="shingles").transform(toks)
    cv = CountVectorizer(
        inputCol="shingles", outputCol="features", binary=True, minDF=1.0
    ).fit(grams)
    feat = cv.transform(grams).filter(
        # MinHashLSH requires at least one non-zero entry
        F.udf(lambda v: v.numNonzeros() > 0, "boolean")("features")
    )
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feat)
    sims = (
        model.approxSimilarityJoin(feat, feat, 0.6, distCol="jaccard_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc1"),
            F.col("datasetB.doc_id").alias("doc2"),
            "jaccard_dist",
        )
        .collect()
    )
    ml_pairs = {(r.doc1, r.doc2) for r in sims}

    exact = ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=None
    ).collect()
    exact_pairs = {(r.doc1, r.doc2) for r in exact}
    # every exact near-dup pair (jaccard >= 0.5 <=> dist <= 0.5) must be
    # recalled by the ML LSH join at the looser 0.6 distance threshold
    assert exact_pairs <= ml_pairs
    spark.catalog.clearCache()


def test_ml_brp_lsh_approx_nearest_neighbors(spark):
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.linalg import Vectors, VectorUDT

    emb = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    to_vec = F.udf(lambda a: Vectors.dense(a), VectorUDT())
    feat = emb.select("vec_id", to_vec("embedding").alias("features")).cache()

    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=2.0, numHashTables=6, seed=7,
    )
    model = brp.fit(feat)

    query = feat.filter(F.col("vec_id") == 0).collect()[0].features
    ann = model.approxNearestNeighbors(
        feat.filter(F.col("vec_id") != 0), query, 5, distCol="dist"
    ).collect()
    assert len(ann) == 5

    # brute-force euclidean for ground truth
    brute = sorted(
        (float(r.features.squared_distance(query)) ** 0.5, r.vec_id)
        for r in feat.filter(F.col("vec_id") != 0).collect()
    )
    true_min = brute[0][0]
    got_min = min(r.dist for r in ann)
    # ANN's best must be within 25% of the true nearest distance
    assert got_min <= true_min * 1.25, (got_min, true_min)
    feat.unpersist()


def test_minhash_production_banding_matches_theoretical_s_curve(spark):
    """VERDICT r08 #6 done-criterion: at the production parameters
    (k=128, bands=16, rows=8) the empirical recovery of planted
    near-dup pairs must track the theoretical banding S-curve
    s(J) = 1 - (1 - J^8)^16.  Per-pair check: the observed recovered
    count must sit within 4 sigma of the Poisson-binomial expectation
    over the pairs' EXACT Jaccards (computed from the same shingle
    sets the signatures hash), with hard edges — J below the curve's
    floor never recovers, J >= 0.9 always does at n=500 scale."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.catalog import load_table
    from parquet_to_sql_spark.functions.hashing import word_shingles
    from parquet_to_sql_spark.operators.dedup import minhash_lsh_candidates
    from parquet_to_sql_spark.operators.text import ws_tokens
    from tests.conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        "text",
        ws_tokens(F.col("text")).alias("_w"),
        F.expr("3 * shiftleft(1, CAST(doc_id % 5 AS INT))").alias("_p"),
    )
    mut = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
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
    corpus = docs.unionByName(mut)
    cands = {
        (r.doc1, r.doc2)
        for r in minhash_lsh_candidates(
            corpus, "doc_id", "text", k=128, bands=16, n=3
        ).collect()
    }
    # tokens staged as a real column: word_shingles indexes the words
    # array once per position, and an inline ws_tokens would be
    # re-split at every index
    sets_o = base.select(
        "doc_id", word_shingles(F.col("_w"), 3).alias("sh_o")
    )
    sets_m = mut.select(
        (F.col("doc_id") - 1000000).alias("doc_id"),
        ws_tokens(F.col("text")).alias("_wm"),
    ).select("doc_id", word_shingles(F.col("_wm"), 3).alias("sh_m"))
    # pairs with an empty side are dropped from the collected rows: a Spark filter
    # on the set sizes would be pushed below the staged tokens and
    # re-evaluate the whole shingle chain inline at the scan
    planted = [
        r
        for r in sets_o.join(sets_m, "doc_id")
        .select(
            "doc_id",
            F.size(F.array_intersect("sh_o", "sh_m")).alias("common"),
            F.size("sh_o").alias("n1"),
            F.size("sh_m").alias("n2"),
        )
        .collect()
        if r.n1 > 0 and r.n2 > 0
    ]
    assert len(planted) >= 400, "fixture must plant hundreds of pairs"
    exp = var = 0.0
    observed = 0
    misses_high = []
    hits_floor = []
    for r in planted:
        jacc = r.common / (r.n1 + r.n2 - r.common)
        s = 1.0 - (1.0 - jacc**8) ** 16
        exp += s
        var += s * (1.0 - s)
        hit = (r.doc_id, r.doc_id + 1000000) in cands
        observed += int(hit)
        if jacc >= 0.9 and not hit:
            misses_high.append((r.doc_id, jacc))
        if jacc < 0.3 and hit:
            hits_floor.append((r.doc_id, jacc))
    # Poisson-binomial 4-sigma envelope (+2 absolute slack for the
    # discreteness at tiny variance)
    assert abs(observed - exp) <= 4.0 * var**0.5 + 2.0, (
        observed,
        exp,
        var,
    )
    # hard edges of the S-curve at these parameters:
    # s(0.9) ~ 0.99990 -> a miss among ~10^2 pairs flags a banding bug
    assert misses_high == [], misses_high
    # s(0.3) ~ 1e-6; a sub-floor "recovery" would mean bucket keys
    # collide across unrelated signatures
    assert hits_floor == [], hits_floor

"""Relational helper operators: skew-resistant joins.

AQE's skew-join splitting handles most hot keys automatically; this
explicit salted join is for the cases AQE can't fix (a single key too
hot for any split, or a deliberately pre-partitioned pipeline). The
salt is DETERMINISTIC — derived from a high-cardinality column on the
big side — so results are reproducible run to run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from parquet_to_sql_spark.session import local_relation


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_from: str,
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join a skewed big side to a small side on `key`, spreading each
    hot key over `buckets` reducers.

    big rows get salt = pmod(hash-ish of `salt_from`, buckets), with
    NULL salts pinned to bucket 0 (a NULL would never equal any
    replica's salt and the row would silently vanish from an inner
    join); the small side is replicated once per salt value (rows x
    buckets — keep the small side genuinely small). The join key
    becomes (key, salt), so one hot key's rows land on `buckets`
    different reducers instead of one.

    Semantically identical to big.join(small, key, how) for
    how='inner'/'left' ONLY — the big side drives those. Right/outer
    joins would emit each unmatched small row once PER REPLICA, so
    they are rejected rather than silently multiplied.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins, not {how!r}: the "
            "replicated small side would multiply unmatched rows"
        )
    salted_big = big.withColumn(
        "_salt",
        F.coalesce(F.pmod(F.col(salt_from), F.lit(buckets)), F.lit(0)),
    )
    salts = F.explode(
        F.sequence(F.lit(0), F.lit(buckets - 1))
    ).alias("_salt")
    replicated_small = small.select("*", salts)
    out = salted_big.join(replicated_small, [key, "_salt"], how)
    return out.drop("_salt")


def binned_range_join(
    intervals: DataFrame,
    probes: DataFrame,
    lo: str = "lo",
    hi: str = "hi",
    x: str = "x",
    bin_width: int = 100_000,
) -> DataFrame:
    """Big-big range join by interval binning: each [lo, hi) interval
    row is replicated to every fixed-width bin it can overlap, each
    probe maps to exactly ONE bin, and the match becomes an EQUI-join
    on the bin id plus the exact containment verify ``lo <= x < hi``.

    Works for negative values too: both sides bin with the same
    truncating integer division, which is monotone in its argument, so
    ``sequence(lo div W, hi div W)`` covers (a superset of) every bin
    a contained probe can map to; the verify filter discards the
    slack.  Versus a broadcast nested-loop this shuffles both sides by
    bin id — hash-partitioned and AQE-skew-splittable — and each probe
    row meets only its own bin's intervals.  Replication factor is
    ``(hi-lo)/bin_width + 2`` per interval, so pick the width near the
    typical interval length.

    Returns every (interval columns..., x) match row.
    """
    ivals = intervals.withColumn(
        "_bin", F.explode(F.expr(f"sequence({lo} div {bin_width}, {hi} div {bin_width})"))
    )
    p = probes.withColumn("_bin", F.expr(f"{x} div {bin_width}"))
    return (
        ivals.join(p, "_bin")
        .filter((F.col(x) >= F.col(lo)) & (F.col(x) < F.col(hi)))
        .drop("_bin")
    )


def binned_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bin_width: int = 100_000,
) -> DataFrame:
    """Big-big interval-OVERLAP join by the same fixed-width binning as
    binned_range_join: each side replicates every [lo, hi] interval to
    the bins it touches, candidates meet on an EQUI-join over the bin
    id, and the exact predicate ``l_lo <= r_hi AND r_lo <= l_hi``
    (closed intervals) verifies.

    Deduplication without a distinct: a pair of overlapping intervals
    shares every bin in the overlap region, so it would match once per
    shared bin — instead only the bin containing ``greatest(l_lo,
    r_lo)`` emits the pair.  That point lies inside BOTH intervals
    whenever they overlap (it is >= each lo by construction and <= each
    hi by the overlap predicate), so both sides provably replicated
    into its bin, and each side contributes any bin at most once — one
    emission exactly, no post-join shuffle.  Truncating division is
    monotone, so the covering argument survives negative coordinates,
    same as binned_range_join.

    Scale shape: both sides shuffle once by bin id (hash-partitioned,
    AQE-skew-splittable); replication factor is interval-length /
    bin_width + 2 per row, so pick the width near the typical interval
    length.  Returns all columns of both inputs for each overlapping
    pair.

    Contract: every interval must satisfy ``lo <= hi`` (min/max
    aggregates guarantee it at the call sites).  An inverted row
    would make ``sequence(lo div W, hi div W)`` count DOWN (Spark
    sequences descend when start > stop — same hazard the range join
    documents), replicating the row to bins it cannot match in;
    results stay correct (the exact predicate rejects) but the
    replication is wasted work — validate upstream if inputs are
    untrusted.
    """
    lb = left.withColumn(
        "_bin",
        F.explode(F.expr(f"sequence({l_lo} div {bin_width}, {l_hi} div {bin_width})")),
    )
    rb = right.withColumn(
        "_bin",
        F.explode(F.expr(f"sequence({r_lo} div {bin_width}, {r_hi} div {bin_width})")),
    )
    return (
        lb.join(rb, "_bin")
        .filter(
            (F.col(l_lo) <= F.col(r_hi))
            & (F.col(r_lo) <= F.col(l_hi))
            & (F.col("_bin") == F.expr(f"greatest({l_lo}, {r_lo}) div {bin_width}"))
        )
        .drop("_bin")
    )


def sequence_gaps(df: DataFrame, key: str) -> DataFrame:
    """Missing ranges in an integer key sequence — the data-quality
    scan ("which IDs were never assigned / got lost") — WITHOUT the
    single-task global lead() the textbook spelling uses.

    Decomposition (the same two-level trick as operators.prefix):
    range-partition on the key, detect gaps INSIDE each partition with
    an ordinary keyed lead window, then close the seams with the
    O(#partitions) boundary rows — each partition's (min, max) —
    collected to the driver (the bounded-collect class) and compared
    pairwise in sorted order.  The seam gaps go back as a
    ``(gap_start long, gap_end long)`` Arrow LocalRelation
    (``session.local_relation``; empty when no seam has a gap), so
    the union runs no Python-worker task.  No task ever sorts more
    than its own partition; the oracle is the unpartitioned lead()
    spelling DuckDB can afford at fixture scale.

    The localCheckpoint pins the non-deterministic range boundaries so
    the window pass and the boundary aggregation see the SAME routing
    (same reasoning as prefix_sum).  Duplicate keys are fine (lead
    skips zero-width "gaps"); NULL keys are dropped up front — a NULL
    ID is "unassigned", not a point on the sequence, and without the
    filter an all-null range partition would surface as a (None, None)
    boundary row and break the driver-side seam arithmetic.  Returns
    (gap_start, gap_end, gap_len) for every maximal missing run
    strictly inside [min(key), max(key)].
    """
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # LAZY checkpoint (r14, same audit as prefix_sum's d60b316): the
    # bounds .collect() below is the materializing action and runs
    # before the window consumer's job exists — sequential driver
    # code, so the non-deterministic range boundaries are frozen
    # before anything else can observe them.  Same truncation, one
    # fewer serialized job per query.
    ranged = (
        df.select(F.col(key).cast("long").alias("_k"))
        .where(F.col("_k").isNotNull())
        .repartitionByRange(n_parts, F.col("_k"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("_pid").orderBy("_k")
    inner = (
        ranged.withColumn("_next", F.lead("_k").over(w))
        .where(F.col("_next") > F.col("_k") + 1)
        .select(
            (F.col("_k") + 1).alias("gap_start"),
            (F.col("_next") - 1).alias("gap_end"),
        )
    )
    # seams: consecutive partitions' (max, next-min) — O(#partitions)
    bounds = sorted(
        (r._pid, r.lo, r.hi)
        for r in ranged.groupBy("_pid")
        .agg(F.min("_k").alias("lo"), F.max("_k").alias("hi"))
        .collect()
    )
    seams = [
        (prev_hi + 1, lo - 1)
        for (_, _, prev_hi), (_, lo, _) in zip(bounds, bounds[1:])
        if lo > prev_hi + 1
    ]
    seam_df = local_relation(spark, seams, "gap_start long, gap_end long")
    return inner.unionByName(seam_df).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).alias("gap_len"),
    )

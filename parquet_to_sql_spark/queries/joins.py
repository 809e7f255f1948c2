"""Join coverage: every join type, plus range and as-of joins.

Absent from the reference (SURVEY.md §2.B — no joins anywhere in
/root/reference/src). Expressed declaratively so Catalyst picks the
physical strategy; tiny dimensions are explicitly broadcast (a
BROADCAST hint in the TPC-H texts, which double as their DuckDB
oracles; broadcast() elsewhere) so the 100 TB plan never shuffles the
fact table for them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from parquet_to_sql_spark.catalog import load_table
from parquet_to_sql_spark.queries.registry import query
from parquet_to_sql_spark.session import local_relation

from parquet_to_sql_spark.queries.relational import (  # shared — do not fork
    DISC_PRICE,
    SUM_REVENUE,
    _sql,
)


_Q3 = f"""
SELECT /*+ BROADCAST(customer) */
  l_orderkey,
  {SUM_REVENUE} AS revenue,
  o_orderdate,
  o_orderpriority
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", headline=True,
       tags=("join", "aggregation", "topk", "tpch"), oracle=_Q3)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: 3-way join, filtered, aggregated, top-10.

    customer is small relative to lineitem at every SF -> broadcast by
    the text's BROADCAST hint (a plain comment to DuckDB);
    orders⋈lineitem shuffles on orderkey once. Top-k plans as
    TakeOrderedAndProject (no global sort)."""
    return _sql(spark, sf_dir, _Q3, ("lineitem", "orders", "customer"))


_Q5 = f"""
SELECT /*+ BROADCAST(supplier, nation, region) */
  n_name, {SUM_REVENUE} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@query("q5_local_supplier_volume", headline=True,
       tags=("join", "aggregation", "tpch"), oracle=_Q5)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 6-way join. region/nation/supplier broadcast;
    the only big shuffle is lineitem⋈orders on orderkey.  The text's
    BROADCAST hint pins the three broadcasts."""
    return _sql(spark, sf_dir, _Q5,
                ("lineitem", "orders", "customer", "supplier", "nation", "region"))


_Q10 = f"""
SELECT /*+ BROADCAST(nation) */
  c_custkey, c_name, {SUM_REVENUE} AS revenue,
  n_name, CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", headline=True,
       tags=("join", "aggregation", "topk", "tpch"), oracle=_Q10)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: who returned the most revenue."""
    return _sql(spark, sf_dir, _Q10,
                ("lineitem", "orders", "customer", "nation"))


@query(
    "join_left_outer",
    tags=("join",),
    oracle="""
    SELECT c_custkey, c_name,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey AND o_orderstatus = 'F'
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with an extra join-side predicate (kept in the ON
    clause, not WHERE — classic outer-join semantics trap)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderstatus == "F"),
        "left",
    )
    return joined.groupBy("c_custkey", "c_name").agg(
        F.count("o_orderkey").alias("n_orders"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_missing"),
    )


@query(
    "join_full_outer",
    tags=("join",),
    oracle="""
    WITH cn AS (SELECT c_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS k, CAST(COUNT(*) AS BIGINT) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.k, sn.k) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.k = sn.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER between two aggregates (nations with customers
    and/or suppliers)."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = cust.join(supp, "k", "full_outer")
    return j.select(
        F.col("k").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_semi",
    tags=("join",),
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: customers having at least one big order."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "join_anti",
    tags=("join",),
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with no orders at all."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_cross",
    tags=("join",),
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS JOIN of the two tiny dims (125 rows total output)."""
    region = load_table(spark, sf_dir, "region").select(F.col("r_name").alias("region_name"))
    nation = load_table(spark, sf_dir, "nation").select(F.col("n_name").alias("nation_name"))
    return region.crossJoin(nation)


@query(
    "join_range_bands",
    tags=("join", "range-join"),
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 20000.0),
             ('medium', 20000.0, 60000.0),
             ('large', 60000.0, 1e18)
    )
    SELECT band, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN bands
      ON l_extendedprice >= lo AND l_extendedprice < hi
    GROUP BY band
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny in-memory band table.

    The band table is broadcast, so the theta-join is a map-side
    BroadcastNestedLoopJoin — no shuffle of lineitem at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    bands = local_relation(
        spark,
        [("small", 0.0, 20000.0), ("medium", 20000.0, 60000.0), ("large", 60000.0, 1e18)],
        "band string, lo double, hi double",
    )
    return (
        li.join(
            F.broadcast(bands),
            (li.l_extendedprice >= bands.lo) & (li.l_extendedprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).cast("double").alias("sum_qty"),
        )
    )


@query(
    "join_asof_purchases",
    tags=("join", "asof-join"),
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), p AS (
      SELECT user_id, event_id AS p_id, ts AS pts FROM e
      WHERE event_type = 'purchase'
    ), j AS (
      SELECT e.event_id, e.ts, p.p_id, p.pts,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY p.pts DESC, p.p_id DESC) AS rn
      FROM e JOIN p ON p.user_id = e.user_id AND p.pts <= e.ts
    )
    SELECT event_id, p_id AS purchase_event_id, ts, pts AS purchase_ts
    FROM j WHERE rn = 1
    """,
)
def join_asof_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): for every event, the most
    recent purchase by the same user at-or-before it.

    Implemented scalably as the union-and-window pattern: tag both
    sides, union, one window sorted by (ts, side) per user carrying the
    last purchase forward. One shuffle on user_id, no range explosion —
    this is the 100 TB-safe formulation of an as-of join."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "user_id", "ts", F.col("event_id"), F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("timestamp").alias("p_ts"), F.lit(1).alias("side"),
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"),
        F.lit(0).alias("side"),
    )
    # side=0 sorts before side=1 at equal ts => "at-or-before"
    # inclusive; p_id breaks ties between same-timestamp purchases
    # (last() then picks the LARGEST purchase id, matching the
    # oracle's pts DESC, p_id DESC rank) — without it the pick is
    # partitioning-dependent
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.coalesce("p_id", "event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = left.unionByName(right).select(
        "event_id",
        F.last("p_id", ignorenulls=True).over(w).alias("purchase_event_id"),
        "ts",
        F.last("p_ts", ignorenulls=True).over(w).alias("purchase_ts"),
        "side",
    )
    return merged.filter(
        (F.col("side") == 1) & F.col("purchase_event_id").isNotNull()
    ).drop("side")


@query(
    "join_asof_tolerance",
    tags=("join", "asof-join", "tolerance"),
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), p AS (
      SELECT user_id, event_id AS p_id, ts AS pts FROM e
      WHERE event_type = 'purchase'
    ), j AS (
      SELECT e.event_id, e.ts, p.p_id, p.pts,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY p.pts DESC, p.p_id DESC) AS rn
      FROM e JOIN p ON p.user_id = e.user_id AND p.pts <= e.ts
    )
    SELECT event_id, p_id AS purchase_event_id, ts, pts AS purchase_ts
    FROM j WHERE rn = 1 AND ts - pts <= INTERVAL '6 hours'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance: matches older than 6 hours are
    dropped (the sensor-fusion/trade-matching semantics — 'most recent
    reading, but only if fresh')."""
    base = join_asof_purchases(spark, sf_dir)
    return base.filter(
        F.col("ts") - F.col("purchase_ts") <= F.expr("INTERVAL 6 HOURS")
    )


@query(
    "join_lateral_top_order",
    tags=("join", "lateral", "correlated"),
    oracle="""
    SELECT c_custkey, o.o_orderkey, o.top_price
    FROM customer,
    LATERAL (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS top_price
      FROM orders WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
    ) o
    """,
)
def join_lateral_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery: each customer paired with their
    single most expensive order (ORDER BY ... LIMIT 1 inside the
    lateral body; deterministic tie-break on orderkey). Identical SQL
    text runs on both engines; Spark decorrelates the per-row subquery
    into a window-style plan rather than executing it N times."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c_custkey, o.o_orderkey, o.top_price
        FROM customer,
        LATERAL (
          SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS top_price
          FROM orders WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 1
        ) o
        """
    )


@query(
    "join_skew_salted",
    tags=("join", "skew", "salting", "scale-path"),
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({DISC_PRICE}) AS DOUBLE) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: the manual mitigation for a hot join key that
    AQE's skew-split cannot always save (e.g. one orderkey holding 1%
    of a 100 TB fact table).  The fact side gets a deterministic salt
    in [0, S) from a hash of its non-key columns; the other side is
    replicated S times via explode, and the join key becomes
    (key, salt) — the hot key's rows now spread over S reducers
    instead of one.  The result is provably identical to the unsalted
    join (each fact row matches exactly one replica), so the oracle is
    the plain join; salting trades S× replication of the build side
    for an even shuffle, which is the right trade whenever the build
    side is the small one."""
    S = 8
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.xxhash64("l_linenumber", "l_partkey"), F.lit(S))
    )
    o_rep = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumn("salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(S)])))
    )
    return (
        li.join(
            o_rep,
            (li.l_orderkey == o_rep.o_orderkey) & (li.salt == o_rep.salt),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.expr(DISC_PRICE)).cast("double").alias("revenue"),
        )
    )


@query(
    "join_null_safe",
    tags=("join", "null-semantics"),
    oracle="""
    WITH keyed AS (
      SELECT c_custkey, nullif(c_mktsegment, 'MACHINERY') AS seg,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ), seg_stats AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS seg_n,
             CAST(SUM(bal_cents) AS BIGINT) AS seg_bal_cents
      FROM keyed GROUP BY seg
    )
    SELECT k.c_custkey, k.seg, s.seg_n, s.seg_bal_cents
    FROM keyed k JOIN seg_stats s ON k.seg IS NOT DISTINCT FROM s.seg
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): enrich
    each customer with its segment-group stats where the key is
    NULLABLE (the 'MACHINERY' segment is nulled out) — under plain
    equality every NULL-keyed row silently drops; `<=>` matches the
    NULL group like a value.  EqualNullSafe is a hashable equi-join
    key, so the tiny aggregate side still broadcasts — no fallback to
    nested-loop.  Balances are summed as floor-cents BIGINTs (exact
    cross-engine)."""
    cust = load_table(spark, sf_dir, "customer")
    keyed = cust.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg"),
        F.floor(F.col("c_acctbal") * F.lit(100)).cast("long").alias("bal_cents"),
    )
    seg_stats = keyed.groupBy("seg").agg(
        F.count(F.lit(1)).alias("seg_n"),
        F.sum("bal_cents").alias("seg_bal_cents"),
    )
    return keyed.join(
        F.broadcast(seg_stats.withColumnRenamed("seg", "s_seg")),
        keyed["seg"].eqNullSafe(F.col("s_seg")),
    ).select("c_custkey", "seg", "seg_n", "seg_bal_cents")


@query(
    "join_range_binned",
    tags=("join", "range-join", "scale-path"),
    oracle="""
    WITH s AS (
      SELECT s_suppkey,
             CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS lo,
             CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               + (s_suppkey % 20 + 1) * 5000 AS hi
      FROM supplier
    ), c AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS x
      FROM customer
    )
    SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM s JOIN c ON c.x >= s.lo AND c.x < s.hi
    GROUP BY s_suppkey
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big range join via interval binning: each interval is
    replicated to the fixed-width bins it overlaps (a 2-3 row
    explode), each probe value maps to exactly ONE bin, and the match
    becomes an EQUI-join on the bin id plus an exact containment
    verify.  This is the scale path join_range_bands cannot take: a
    broadcast nested-loop is O(n*m) and requires one side to fit in
    memory, while the binned form shuffles both sides by bin id —
    hash-partitioned, AQE-skew-splittable, and each probe row joins
    only its own bin's intervals.  All arithmetic is integer cents, so
    the oracle is the naive theta join, value-exact."""
    B = 100_000  # bin width: 1000.00 in cents
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr("CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("lo"),
        (
            F.expr("CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)")
            + (F.col("s_suppkey") % 20 + 1) * 5000
        ).alias("hi"),
    )
    from parquet_to_sql_spark.operators.relational import binned_range_join

    probe = load_table(spark, sf_dir, "customer").select(
        F.expr("CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)").alias("x")
    )
    return (
        binned_range_join(sup, probe, bin_width=B)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_asof_forward",
    tags=("join", "asof-join"),
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), p AS (
      SELECT user_id, event_id AS p_id, ts AS pts FROM e
      WHERE event_type = 'purchase'
    ), j AS (
      SELECT e.event_id, e.ts, p.p_id, p.pts,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY p.pts ASC, p.p_id ASC) AS rn
      FROM e JOIN p ON p.user_id = e.user_id AND p.pts >= e.ts
    )
    SELECT event_id, p_id AS purchase_event_id, ts, pts AS purchase_ts
    FROM j WHERE rn = 1
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for every event, the EARLIEST purchase by
    the same user at-or-after it — the "next fill after the order"
    direction trading systems pair with the backward variant.  Same
    single-shuffle union-and-window formulation as
    join_asof_purchases, with the window mirrored (first() over the
    forward frame; purchases sort after events at equal ts so
    'at-or-after' stays inclusive)."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "user_id", "ts", F.col("event_id"), F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("timestamp").alias("p_ts"), F.lit(0).alias("side"),
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"),
        F.lit(1).alias("side"),
    )
    # side=1 sorts after side=0 at equal ts => "at-or-after"
    # inclusive; p_id tie-break makes first() pick the SMALLEST
    # purchase id among same-timestamp purchases (oracle: pts ASC,
    # p_id ASC)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", F.coalesce("p_id", "event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = left.unionByName(right).select(
        "event_id",
        F.first("p_id", ignorenulls=True).over(w).alias("purchase_event_id"),
        "ts",
        F.first("p_ts", ignorenulls=True).over(w).alias("purchase_ts"),
        "side",
    )
    return merged.filter(
        (F.col("side") == 0) & F.col("purchase_event_id").isNotNull()
    ).drop("side")


@query(
    "join_asof_nearest",
    tags=("join", "asof-join"),
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), p AS (
      SELECT user_id, event_id AS p_id, ts AS pts FROM e
      WHERE event_type = 'purchase'
    ), j AS (
      SELECT e.event_id, e.ts, p.p_id, p.pts,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY ABS(epoch_us(p.pts) - epoch_us(e.ts)), p.pts, p.p_id
             ) AS rn
      FROM e JOIN p ON p.user_id = e.user_id
    )
    SELECT event_id, p_id AS purchase_event_id, ts, pts AS purchase_ts
    FROM j WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (pandas merge_asof direction='nearest'):
    for every event, the purchase by the same user with the smallest
    |time difference|, ties to the earlier purchase then the smaller
    id.  Completes the as-of family (backward / forward / tolerance /
    nearest).

    Still the single-shuffle union-and-window formulation — the
    backward and forward candidates come from TWO window frames over
    the SAME user-partitioned union (one exchange, two in-partition
    sort passes; the frames need opposite side/tiebreak orders, which
    is why it is two specs and not one), then a row-local integer
    comparison picks the nearer.  No per-pair join, no range
    explosion — the 100 TB-safe nearest-neighbor-in-time.

    Tie discipline (mirrored in the oracle's ORDER BY dist, pts,
    p_id): equal distance prefers the backward (earlier) candidate;
    equal timestamps prefer the smallest purchase id — the backward
    frame sorts ids DESC so last() lands on the smallest, the forward
    frame sorts ASC so first() does."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.select(
        "user_id", "ts", F.col("event_id"),
        F.lit(None).cast("long").alias("p_id"),
        F.lit(None).cast("timestamp").alias("p_ts"),
        F.lit(1).alias("is_event"),
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"),
        F.lit(0).alias("is_event"),
    )
    merged = left.unionByName(right)
    any_id = F.coalesce("p_id", "event_id")
    # backward: purchases (is_event=0) sort BEFORE events at equal ts
    # (inclusive at-or-before); ids DESC so last() = smallest id
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_event", F.desc(any_id))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # forward: same side order — equal-ts purchases fall in the
    # backward frame (distance 0, which always wins), so the forward
    # frame only needs strictly-later purchases; ids ASC for first()
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_event", any_id)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    cand = merged.select(
        "event_id", "ts", "is_event",
        F.last("p_id", ignorenulls=True).over(wb).alias("bw_id"),
        F.last("p_ts", ignorenulls=True).over(wb).alias("bw_ts"),
        F.first("p_id", ignorenulls=True).over(wf).alias("fw_id"),
        F.first("p_ts", ignorenulls=True).over(wf).alias("fw_ts"),
    ).filter(F.col("is_event") == 1)
    bw_d = F.unix_micros("ts") - F.unix_micros("bw_ts")
    fw_d = F.unix_micros("fw_ts") - F.unix_micros("ts")
    take_bw = F.col("bw_id").isNotNull() & (
        F.col("fw_id").isNull() | (bw_d <= fw_d)
    )
    return (
        cand.filter(F.col("bw_id").isNotNull() | F.col("fw_id").isNotNull())
        .select(
            "event_id",
            F.when(take_bw, F.col("bw_id")).otherwise(F.col("fw_id")).alias(
                "purchase_event_id"
            ),
            "ts",
            F.when(take_bw, F.col("bw_ts")).otherwise(F.col("fw_ts")).alias(
                "purchase_ts"
            ),
        )
    )


_DAY_US = 86_400_000_000
_BLK_US = 21_600_000_000  # 6 h — near the typical burst-interval length


@query(
    "join_interval_overlap",
    headline=True,
    tags=("join", "range-join", "scale-path"),
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_type, value, epoch_us(ts) AS us FROM events
    ), a AS (
      SELECT user_id, MIN(us) AS a_lo, MAX(us) AS a_hi
      FROM e GROUP BY user_id, us // {_DAY_US}
    ), b AS (
      SELECT event_type, MIN(us) AS b_lo, MAX(us) AS b_hi
      FROM e WHERE value >= 100 GROUP BY event_type, us // {_BLK_US}
    ), p AS (
      SELECT user_id,
             least(a_hi, b_hi) - greatest(a_lo, b_lo) AS dur
      FROM a JOIN b ON a_lo <= b_hi AND b_lo <= a_hi
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(dur) AS BIGINT) AS total_overlap_us
    FROM p GROUP BY user_id
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-x-interval overlap join, both sides unboundedly large:
    per-user daily activity spans vs per-type 6-hour high-value burst
    windows — "which users were active while a burst was running, and
    for how long".  The missing member of the range-join family
    (binned_range_join handles point-in-interval; this handles
    interval-overlap) via operators.relational.binned_overlap_join:
    both sides replicate to 6-hour bins, meet on a bin-id EQUI-join,
    verify the exact closed-interval overlap, and dedupe multi-bin
    matches for free by emitting only from the bin holding
    greatest(lo_a, lo_b).  The oracle is the declarative theta-join
    spelling — a nested loop DuckDB can afford at fixture scale and a
    1000-executor cluster cannot."""
    from parquet_to_sql_spark.operators.relational import binned_overlap_join

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    a = e.groupBy(
        "user_id", F.expr(f"us div {_DAY_US}").alias("_d")
    ).agg(F.min("us").alias("a_lo"), F.max("us").alias("a_hi"))
    b = (
        e.where(F.col("value") >= 100)
        .groupBy("event_type", F.expr(f"us div {_BLK_US}").alias("_blk"))
        .agg(F.min("us").alias("b_lo"), F.max("us").alias("b_hi"))
    )
    pairs = binned_overlap_join(
        a.select("user_id", "a_lo", "a_hi"),
        b.select("event_type", "b_lo", "b_hi"),
        "a_lo", "a_hi", "b_lo", "b_hi",
        bin_width=_BLK_US,
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
        F.sum(
            F.least(F.col("a_hi"), F.col("b_hi"))
            - F.greatest(F.col("a_lo"), F.col("b_lo"))
        ).cast("bigint").alias("total_overlap_us"),
    )

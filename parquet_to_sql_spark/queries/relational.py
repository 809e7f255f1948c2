"""Core relational queries: filter -> groupBy -> aggregate family.

The reference has no query layer at all (SURVEY.md §2.B: filters,
aggregations absent — /root/reference/src/ParquetImporter.php contains
only TRUNCATE and statement_timeout SQL). These queries define the
rebuild's aggregation surface, all expressed declaratively so Catalyst
pushes filters into the Parquet scan and plans partial/final
aggregation automatically.

Float discipline: see queries/registry.py docstring. Money columns are
exact 2-decimal values stored as double, so DECIMAL(12,2)/DECIMAL(3,2)
casts are lossless and make SUMs engine-order-independent.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from parquet_to_sql_spark.catalog import load_table
from parquet_to_sql_spark.queries.registry import query

# Shared exact-arithmetic fragments (identical text works in Spark SQL
# and DuckDB, so the two sides cannot drift).
DQ = "CAST(l_quantity AS DECIMAL(12,2))"
DP = "CAST(l_extendedprice AS DECIMAL(12,2))"
DD = "CAST(l_discount AS DECIMAL(3,2))"
DT = "CAST(l_tax AS DECIMAL(3,2))"
DISC_PRICE = f"{DP} * (CAST(1 AS DECIMAL(3,2)) - {DD})"
CHARGE = f"({DISC_PRICE}) * (CAST(1 AS DECIMAL(3,2)) + {DT})"

# Integer-cents twins of the fragments above, for the HOT aggregation
# paths: lineitem money/quantity columns are 2-decimal values, so
# cents are exact integers, and SUM over BIGINT stays in primitive
# long arithmetic — measured 1.8x faster than Spark's BigDecimal-
# backed DECIMAL(>18) sums on the single-row-group bench fixture.
# Both engines round() the same IEEE double to the same integer, both
# convert the identical exact sum to double, then apply the identical
# scale division — value-exact cross-engine (same discipline as the
# floor(x*2^30) quantization in kmeans/udf_iter).
#
# int64 ceiling budget (ADVICE r04): DuckDB promotes SUM(BIGINT) to
# HUGEINT, Spark keeps BIGINT (ANSI error on overflow), so every
# fragment must fit long at target scale.  DISC_PRICE_CENTS is
# <= ~1e9/row (scale 1e4): safe to ~9e9 rows/GROUP = SF ~1500 for the
# coarsest grouping (q1's 4 groups).  CHARGE_CENTS is <= ~1e11/row
# (scale 1e6): plain SUM would overflow near SF ~60, so its sum goes
# through SUM_CHARGE below, which splits each term into exact
# (hi, lo) = (x div 1e6, x mod 1e6) BIGINT parts — hi <= 1e5/row,
# lo < 1e6/row, both sums safe past 1e12 rows/group — and recomposes
# hi*1e6 + lo in double.  The div is spelled (x - x % 1e6) / 1e6:
# the numerator is an exact multiple of 1e6 below 2^53, so the IEEE
# division is exact in both engines, and the identical final double
# expression over identical exact integers keeps the two engines
# bit-equal.
QC = "CAST(round(l_quantity * 100) AS BIGINT)"
PC = "CAST(round(l_extendedprice * 100) AS BIGINT)"
DC = "CAST(round(l_discount * 100) AS BIGINT)"
TC = "CAST(round(l_tax * 100) AS BIGINT)"
DISC_PRICE_CENTS = f"{PC} * (100 - {DC})"  # price-cents * discount-complement-% (scale 1e4)
CHARGE_CENTS = f"({DISC_PRICE_CENTS}) * (100 + {TC})"  # scale 1e6
# full SUM fragments (valid in both dialects, alias-free)
SUM_REVENUE = f"CAST(SUM({DISC_PRICE_CENTS}) AS DOUBLE) / 10000.0"
_CHARGE_HI = (
    f"CAST((({CHARGE_CENTS}) - ({CHARGE_CENTS}) % 1000000) / 1000000 AS BIGINT)"
)
_CHARGE_LO = f"({CHARGE_CENTS}) % 1000000"
SUM_CHARGE = (
    f"(CAST(SUM({_CHARGE_HI}) AS DOUBLE) * 1000000.0"
    f" + CAST(SUM({_CHARGE_LO}) AS DOUBLE)) / 1000000.0"
)


def _sql(spark: SparkSession, sf_dir: str, text: str, tables: tuple[str, ...]) -> DataFrame:
    """Run a SQL query after registering just the views it needs."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(text)


_Q1 = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM({QC}) AS DOUBLE) / 100.0            AS sum_qty,
  CAST(SUM({PC}) AS DOUBLE) / 100.0            AS sum_base_price,
  {SUM_REVENUE}                                AS sum_disc_price,
  {SUM_CHARGE}                                 AS sum_charge,
  CAST(SUM({QC}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
  CAST(SUM({PC}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
  CAST(SUM({DC}) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
  COUNT(*)                                     AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", headline=True,
       tags=("aggregation", "filter", "tpch"), oracle=_Q1)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan-filter-aggregate.

    Shape at scale: single shuffle on a tiny (flag,status) key space;
    partial aggregation happens map-side, so shuffled bytes are O(keys),
    not O(rows). The shipdate filter pushes into the Parquet scan.

    Arithmetic: the integer-cents fragments (QC/PC/DISC_PRICE_CENTS/
    CHARGE_CENTS) keep the whole hot loop in primitive longs — exact
    because every money/quantity column is a 2-decimal value — and the
    one SQL text ``_Q1`` is both the Spark plan and the DuckDB oracle.
    Measured 1.8x faster than the DECIMAL(12,2)-cast formulation,
    whose sums widen past precision 18 and fall off Spark's
    long-backed Decimal fast path.  The widest fragment (CHARGE_CENTS,
    scale 1e6) is summed via the SUM_CHARGE hi/lo split so it cannot
    hit the int64 ceiling at large SF (see the fragment comment for
    the budget)."""
    return _sql(spark, sf_dir, _Q1, ("lineitem",))


_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * CAST(l_discount AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""


@query("q6_forecast_revenue", headline=True,
       tags=("filter", "aggregation", "tpch"), oracle=_Q6)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style: highly selective conjunctive filter + global agg.

    All four predicates push into the Parquet scan (min/max row-group
    pruning on shipdate); the aggregate is a single partial+final pass,
    shuffling one row per partition."""
    return _sql(spark, sf_dir, _Q6, ("lineitem",))


@query(
    "q4_order_priority",
    tags=("subquery", "exists", "aggregation", "tpch"),
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style correlated EXISTS, written declaratively so
    Catalyst rewrites it into a left-semi join (no per-row subquery)."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        """,
        ("orders", "lineitem"),
    )


@query(
    "sub_scalar_above_avg_price",
    tags=("subquery", "scalar-subquery"),
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice >
      (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
       FROM part)
    """,
)
def sub_scalar_above_avg_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: parts priced above the mean retail price."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_retailprice >
          (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
           FROM part)
        """,
        ("part",),
    )


@query(
    "sub_in_top_nations",
    tags=("subquery", "in-subquery"),
    oracle="""
    SELECT c_custkey, c_name, c_nationkey
    FROM customer
    WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
      WHERE r_name IN ('EUROPE', 'ASIA'))
    """,
)
def sub_in_top_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery over a dimension chain (rewritten to semi join)."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT c_custkey, c_name, c_nationkey
        FROM customer
        WHERE c_nationkey IN (
          SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey
          WHERE r_name IN ('EUROPE', 'ASIA'))
        """,
        ("customer", "nation", "region"),
    )


@query(
    "agg_distinct_suppliers",
    tags=("aggregation", "distinct"),
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregate (plans as expand +
    two-phase aggregation — no driver-side distinct)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "agg_stats_dispersion",
    tags=("aggregation", "statistics"),
    oracle="""
    SELECT c_mktsegment,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
           SQRT(
             (CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2)) * CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
              - CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                * CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*))
             / (COUNT(*) - 1)) AS stddev_bal,
           COUNT(*) AS n_cust
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def agg_stats_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max/avg/stddev per segment. Stddev is computed from exact
    decimal sums (sum, sum-of-squares) so both engines produce the
    identical IEEE double, unlike their native streaming stddevs."""
    c = "CAST(c_acctbal AS DECIMAL(12,2))"
    cust = load_table(spark, sf_dir, "customer")
    cnt = F.count(F.lit(1))
    sum_d = F.sum(F.expr(c)).cast("double")
    sumsq_d = F.sum(F.expr(f"{c} * {c}")).cast("double")
    return cust.groupBy("c_mktsegment").agg(
        F.min("c_acctbal").cast("double").alias("min_bal"),
        F.max("c_acctbal").cast("double").alias("max_bal"),
        (sum_d / cnt).alias("avg_bal"),
        F.sqrt((sumsq_d - sum_d * sum_d / cnt) / (cnt - F.lit(1))).alias("stddev_bal"),
        cnt.alias("n_cust"),
    )


@query(
    "agg_having",
    tags=("aggregation", "having"),
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (post-aggregation filter)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(12,2))")).cast("double").alias("total_spent"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "agg_rollup_geo",
    tags=("aggregation", "rollup"),
    oracle="""
    SELECT r_name, n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(GROUPING(r_name) AS INT) AS g_region,
           CAST(GROUPING(n_name) AS INT) AS g_nation
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over the geo hierarchy with GROUPING flags."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
    )


@query(
    "agg_cube_orders",
    tags=("aggregation", "cube"),
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(12,2))")).cast("double").alias("total_price"),
    )


@query(
    "agg_grouping_sets",
    tags=("aggregation", "grouping-sets"),
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube)."""
    return _sql(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """,
        ("lineitem",),
    )


@query(
    "topk_expensive_orders",
    tags=("topk", "sort"),
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def topk_expensive_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: plans as TakeOrderedAndProject (per-partition
    heap + driver merge of k rows), never a full sort at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(25)
    )


@query(
    "setop_union_all",
    tags=("setop",),
    oracle="""
    SELECT nationkey, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey FROM supplier
    ) u
    GROUP BY nationkey
    """,
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL then aggregate."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.unionByName(supp).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "setop_intersect",
    tags=("setop",),
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics): nations with both customers and
    suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@query(
    "setop_except",
    tags=("setop",),
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics): nations with customers but no
    suppliers."""
    cust = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp)


@query(
    "setop_union_by_name",
    tags=("setop", "schema-evolution"),
    oracle="""
    SELECT c_custkey AS ent_id, c_name AS name,
           CAST(c_acctbal AS DOUBLE) AS acctbal,
           c_mktsegment AS segment, 'customer' AS kind
    FROM customer
    UNION ALL BY NAME
    SELECT s_suppkey AS ent_id, s_name AS name,
           CAST(s_acctbal AS DOUBLE) AS acctbal, 'supplier' AS kind
    FROM supplier
    """,
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name-resolved union over MISMATCHED schemas (supplier has no
    market segment -> null-filled): unionByName(allowMissingColumns)
    is the schema-evolution-tolerant union a long-lived lake needs;
    mirrored by DuckDB's UNION ALL BY NAME."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ent_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("customer").alias("kind"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("ent_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").cast("double").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s, allowMissingColumns=True)


@query(
    "profile_constraints",
    tags=("profiling", "data-quality"),
    oracle="""
    SELECT
      CAST((SELECT COUNT(*) FROM orders) AS BIGINT)                       AS n_orders,
      CAST((SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders) AS BIGINT) AS dup_orderkeys,
      CAST((SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)      AS null_custkeys,
      CAST((SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
            ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS BIGINT) AS orphan_lineitems,
      CAST((SELECT COUNT(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS BIGINT)    AS orphan_orders
    """,
)
def profile_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit in one pass: row count, key
    uniqueness violations, null foreign keys, and referential
    integrity (orphan children via LEFT ANTI joins).  The validation
    step every ingest runs before promoting a partition; each check is
    a count aggregate or an anti-join — all shuffle-partitioned,
    nothing driver-side."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    # ONE declarative plan, zero driver-side actions: the three audit
    # relations reduce to 1-row aggregates and cross-join back together
    base = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias(
            "dup_orderkeys"
        ),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkeys"),
    )
    orphan_li = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    )
    orphan_o = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("orphan_orders"))
    )
    return base.crossJoin(orphan_li).crossJoin(orphan_o)


@query(
    "setop_intersect_except_all",
    tags=("setop", "bag-semantics"),
    oracle="""
    WITH i AS (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey FROM supplier
    ), x AS (
      SELECT c_nationkey AS nationkey FROM customer
      EXCEPT ALL
      SELECT s_nationkey FROM supplier
    )
    SELECT 'intersect_all' AS op, nationkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM i GROUP BY nationkey
    UNION ALL
    SELECT 'except_all' AS op, nationkey, CAST(COUNT(*) AS BIGINT) AS multiplicity
    FROM x GROUP BY nationkey
    """,
)
def setop_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL): per-key
    multiplicities min(m,n) and m-n — the variants that matter when
    rows legitimately repeat.  intersectAll/exceptAll plan as a single
    count-compare aggregate per side, no join explosion."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    i = (
        cust.intersectAll(supp)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("intersect_all").alias("op"), "nationkey", "multiplicity")
    )
    x = (
        cust.exceptAll(supp)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
        .select(F.lit("except_all").alias("op"), "nationkey", "multiplicity")
    )
    return i.unionByName(x)


@query(
    "profile_sequence_gaps",
    headline=True,
    tags=("profiling", "data-quality", "scale-path"),
    oracle="""
    WITH o AS (
      SELECT o_orderkey AS k,
             lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT CAST(k + 1 AS BIGINT) AS gap_start,
           CAST(nxt - 1 AS BIGINT) AS gap_end,
           CAST(nxt - k - 1 AS BIGINT) AS gap_len
    FROM o WHERE nxt > k + 1
    """,
)
def profile_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every missing o_orderkey range among FINISHED orders — the
    sequence-integrity scan a data-quality suite runs on any ID column
    (this fixture's keys are dense over all orders, so the status
    subset supplies the ~3k real gaps the operator must merge).  The
    oracle is the textbook unpartitioned lead(), which drags the whole
    table through ONE task; the engine side is
    operators.relational.sequence_gaps — range partition, keyed
    in-partition lead, and O(#partitions) boundary seams collected to
    the driver — the same decomposition that makes the global prefix
    sum scale."""
    from parquet_to_sql_spark.operators.relational import sequence_gaps

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    )
    return sequence_gaps(orders, "o_orderkey")


@query(
    "profile_key_skew_report",
    tags=("profiling", "scale-path", "aggregation"),
    oracle="""
    WITH counts AS (
      SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey
    ), cc AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS k FROM counts GROUP BY n
    ), t AS (
      SELECT CAST(SUM(k) AS BIGINT) AS n_keys,
             CAST(SUM(n * k) AS BIGINT) AS n_rows,
             CAST(MAX(n) AS BIGINT) AS max_freq
      FROM cc
    ), cum AS (
      SELECT n, SUM(k) OVER (ORDER BY n) AS cumk FROM cc
    )
    SELECT n_rows, n_keys, max_freq,
           CAST(MIN(CASE WHEN cumk * 2 >= n_keys THEN n END) AS BIGINT)
             AS median_freq,
           CAST(MIN(CASE WHEN cumk * 100 >= n_keys * 99 THEN n END) AS BIGINT)
             AS p99_freq,
           CAST((1000000::HUGEINT * max_freq) // n_rows AS BIGINT)
             AS top_share_ppm,
           CAST((1000000::HUGEINT
                 * MIN(CASE WHEN cumk * 100 >= n_keys * 99 THEN n END))
                // MIN(CASE WHEN cumk * 2 >= n_keys THEN n END) AS BIGINT)
             AS p99_over_median_ppm
    FROM cum, t
    GROUP BY n_rows, n_keys, max_freq
    """,
)
def profile_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW profiling — the pre-flight check for every big
    shuffle: the distribution of per-key multiplicities for
    lineitem.l_orderkey (the engine's hottest join key), reduced to
    the numbers a planner acts on — max key frequency and its share
    of all rows (ppm), the median and p99 key frequencies (exact,
    from the count-of-counts), and p99/median in ppm (the skew ratio
    that says whether to salt).  A ratio near 10^6 means uniform
    keys; orders of magnitude above means a salted or AQE-skew join.

    Scale shape: one map-side-combined count per key (key-cardinality
    exchange), then the COUNT-OF-COUNTS reduction — a relation
    bounded by the number of DISTINCT multiplicities (for lineitem,
    1..7 rows at any corpus size), on which the unpartitioned
    quantile window is free; the totals attach is a sanctioned 1-row
    broadcast.  Exact quantiles of the frequency distribution without
    ever sorting the key relation."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    counts = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n"))
    cc = counts.groupBy("n").agg(F.count(F.lit(1)).alias("k"))
    totals = cc.agg(
        F.sum("k").cast("bigint").alias("n_keys"),
        F.sum(F.col("n") * F.col("k")).cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_freq"),
    )
    w = Window.orderBy("n").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cc.withColumn("cumk", F.sum("k").over(w)).join(F.broadcast(totals))
    med = F.min(F.when(F.col("cumk") * 2 >= F.col("n_keys"), F.col("n")))
    p99 = F.min(
        F.when(F.col("cumk") * 100 >= F.col("n_keys") * 99, F.col("n"))
    )
    return (
        cum.groupBy("n_rows", "n_keys", "max_freq")
        .agg(
            med.cast("bigint").alias("median_freq"),
            p99.cast("bigint").alias("p99_freq"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * max_freq) div n_rows"
                " AS BIGINT)"
            ).alias("top_share_ppm"),
        )
        .withColumn(
            "p99_over_median_ppm",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * p99_freq)"
                " div median_freq AS BIGINT)"
            ),
        )
    )

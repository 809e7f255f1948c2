"""Advanced aggregation surface: pivot/unpivot, exact percentiles,
ordered string aggregation, deterministic sampling, salted two-phase
aggregation, and sketch aggregates.

The salted aggregation is the skew playbook made executable: its
oracle is the PLAIN single-phase GROUP BY — proving the two-phase
rewrite is semantics-preserving is exactly what the gate checks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from parquet_to_sql_spark.catalog import load_table
from parquet_to_sql_spark.queries.registry import query
from parquet_to_sql_spark.session import local_relation


@query(
    "agg_pivot_status",
    tags=("aggregation", "pivot"),
    oracle="""
    SELECT n_name,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def agg_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per nation × status. Explicit pivot values
    keep the plan a single pass (no distinct-collect of keys)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    )
    return (
        joined.groupBy("n_name")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "agg_unpivot_part_measures",
    tags=("aggregation", "unpivot"),
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    """,
)
def agg_unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide part measures to long (measure, value)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("double").alias("p_size")
    ).unpivot("p_partkey", ["p_retailprice", "p_size"], "measure", "value")


@query(
    "agg_percentiles",
    tags=("aggregation", "percentile"),
    oracle="""
    SELECT c_mktsegment,
           quantile_cont(c_acctbal, 0.25) AS p25,
           quantile_cont(c_acctbal, 0.5)  AS median_bal,
           quantile_cont(c_acctbal, 0.9)  AS p90
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` and DuckDB
    `quantile_cont` share the (n-1)p interpolation — verified
    bit-exact)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.25)").alias("p25"),
        F.expr("percentile(c_acctbal, 0.5)").alias("median_bal"),
        F.expr("percentile(c_acctbal, 0.9)").alias("p90"),
    )


@query(
    "agg_string_collect",
    tags=("aggregation", "collect"),
    oracle="""
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_string_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list -> sort -> join gives
    a deterministic LISTAGG regardless of shuffle order."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


@query(
    "sample_deterministic",
    tags=("sampling",),
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE ((o_orderkey % 2147483647) * 2654435761) % 100 < 5
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% systematic sample via multiplicative hashing
    of the key — reproducible across engines and runs, unlike
    TABLESAMPLE. The filter pushes to the scan as a deterministic
    predicate."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.filter(
        ((F.col("o_orderkey") % 2147483647) * 2654435761) % 100 < 5
    ).select(
        "o_orderkey", "o_totalprice"
    )


@query(
    "agg_salted_two_phase",
    tags=("aggregation", "skew", "salting"),
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation: phase 1 groups by (key, salt) to
    spread a hot key over 16 reducers, phase 2 merges partials.

    The oracle is the PLAIN single-phase GROUP BY — the gate proves
    the rewrite is exactly semantics-preserving. (With only 3 distinct
    return flags, every key is 'hot': the unsalted plan puts each on
    one reducer.) Decimal partials keep the merge order-insensitive."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_returnflag", "_salt").agg(
        F.sum(F.expr("CAST(l_quantity AS DECIMAL(12,2))")).alias("_sq"),
        F.count(F.lit(1)).alias("_n"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("_sq").cast("double").alias("sum_qty"),
        F.sum("_n").alias("n_rows"),
    )


@query(
    "agg_approx_sketches",
    tags=("aggregation", "sketch", "approx"),
    oracle=None,  # HLL/KLL sketches are engine-specific; rows-only check
)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for cardinality/quantiles at scale:
    approx_count_distinct (HyperLogLog++) and approx_percentile
    (KLL-style) — the O(1)-memory versions of the exact operators
    above. Sketch VALUES are engine-specific (no oracle), so the query
    is SELF-verifying instead: each row carries the exact answer, the
    sketch's relative error, and a bounds flag — hll_ok requires the
    HLL++ estimate within 3x its configured 5% rsd, ds_hll_ok bounds
    the Apache DataSketches HLL estimate (hll_sketch_agg →
    hll_sketch_estimate; unlike HLL++, the binary sketch itself is a
    mergeable column — the shape that lets 100 TB of per-partition /
    per-day sketches roll up without rescanning), and median_ok
    requires the approx median to land inside the exact p45..p55
    band. tests/test_operators.py asserts every flag is true."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(l_partkey, 12))").alias(
            "ds_hll_parts"
        ),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("approx_median_price"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("price_p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("price_p55"),
    )
    hll_err = F.abs(
        F.col("approx_parts").cast("double") / F.col("exact_parts").cast("double")
        - F.lit(1.0)
    )
    ds_err = F.abs(
        F.col("ds_hll_parts").cast("double") / F.col("exact_parts").cast("double")
        - F.lit(1.0)
    )
    return agg.select(
        "l_returnflag",
        "approx_parts",
        "exact_parts",
        hll_err.alias("hll_rel_err"),
        (hll_err <= F.lit(0.15)).alias("hll_ok"),
        "ds_hll_parts",
        (ds_err <= F.lit(0.15)).alias("ds_hll_ok"),
        "approx_median_price",
        (
            (F.col("approx_median_price") >= F.col("price_p45"))
            & (F.col("approx_median_price") <= F.col("price_p55"))
        ).alias("median_ok"),
    )


@query(
    "agg_grouping_id",
    tags=("aggregation", "rollup", "grouping-id"),
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers: distinguishes a real NULL group
    key from a rollup subtotal row — the standard way downstream
    consumers tell aggregation levels apart. COALESCE labels make the
    output self-describing on both engines."""
    from parquet_to_sql_spark.queries.relational import _sql

    return _sql(
        spark,
        sf_dir,
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        ("orders",),
    )


@query(
    "agg_boolean_filtered",
    tags=("aggregation", "boolean", "filtered"),
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (o_totalprice > 200000) AS BIGINT) AS n_jumbo,
           bool_or(o_orderstatus = 'F')  AS any_finished,
           bool_and(o_totalprice > 1000) AS all_above_1k
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_boolean_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean/filtered aggregates: count_if + bool_or/bool_and (ANY/
    EVERY) — predicate rollups as single map-side-combinable
    aggregates instead of self-joins or case-sum chains."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_jumbo"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_above_1k"),
    )


@query(
    "agg_sketch_rollup_union",
    tags=("aggregation", "sketch", "mergeable", "scale-path"),
    oracle=None,  # sketch binaries are engine-specific; self-verifying
)
def agg_sketch_rollup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — the incremental-aggregation pattern
    behind every 100 TB distinct-count dashboard: build one
    DataSketches HLL per group (here: order status), then merge the
    BINARY sketches with hll_union_agg to answer the global question
    WITHOUT rescanning rows.  At scale the per-group sketches are
    what you persist (per day / per shard); any rollup — weekly,
    all-time, cross-shard — is a sketch union over kilobytes.

    Self-verifying like agg_approx_sketches: the merged estimate must
    land within 15% of the exact global distinct count computed in
    the same query (test asserts the flag)."""
    from parquet_to_sql_spark.queries.relational import _sql

    return _sql(
        spark,
        sf_dir,
        """
        WITH per_group AS (
          SELECT o_orderstatus,
                 hll_sketch_agg(o_custkey, 12) AS sk,
                 COUNT(DISTINCT o_custkey) AS exact_custs
          FROM orders
          GROUP BY o_orderstatus
        ),
        merged AS (
          SELECT hll_sketch_estimate(hll_union_agg(sk, true)) AS est_total
          FROM per_group
        ),
        exact AS (SELECT COUNT(DISTINCT o_custkey) AS exact_total FROM orders)
        SELECT g.o_orderstatus,
               g.exact_custs,
               CAST(hll_sketch_estimate(g.sk) AS DOUBLE) AS est_custs,
               m.est_total,
               e.exact_total,
               ABS(m.est_total / CAST(e.exact_total AS DOUBLE) - 1.0) <= 0.15
                 AS union_ok
        FROM per_group g CROSS JOIN merged m CROSS JOIN exact e
        """,
        ("orders",),
    )


@query(
    "agg_listagg_within_group",
    tags=("aggregation", "spark4", "ansi"),
    oracle="""
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
             AS statuses,
           string_agg(DISTINCT o_orderpriority, '|' ORDER BY o_orderpriority)
             AS priorities
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag
    """,
)
def agg_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI LISTAGG ... WITHIN GROUP (Spark 4): ordered string
    aggregation — deterministic because the order is part of the
    syntax (unordered collect_list is the classic nondeterminism trap
    this function exists to fix).  DuckDB's string_agg with ORDER BY
    is the same operator.  Each listagg runs over a pre-deduplicated
    (group, value) relation instead of using two DISTINCT listaggs in
    one aggregate: Spark 4.1's RewriteDistinctAggregates throws a
    ClassCastException (SortOrder patching) on multiple distinct
    listaggs — and the dedup-first shape is also the plan you want at
    scale (tiny distinct relations, map-side combined)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # ONE join + one dedup to the tiny (flag, status, priority)
    # relation, materialized once — st and pr would otherwise each
    # replay the fact-fact shuffle join
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_returnflag", "l_linestatus", "o_orderpriority")
        .distinct()
        .localCheckpoint()
    )
    st = (
        j.select("l_returnflag", "l_linestatus")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "listagg(l_linestatus, ',') WITHIN GROUP (ORDER BY l_linestatus)"
            ).alias("statuses")
        )
    )
    pr = (
        j.select("l_returnflag", "o_orderpriority")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "listagg(o_orderpriority, '|') WITHIN GROUP (ORDER BY o_orderpriority)"
            ).alias("priorities")
        )
    )
    return st.join(pr, "l_returnflag")


@query(
    "agg_bitmap_distinct",
    tags=("aggregation", "spark4", "scale-path"),
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (Spark 4
    bitmap_bucket_number / bitmap_bit_position / bitmap_construct_agg
    / bitmap_count) — the scalable exact-distinct pattern: each
    (group, 32k-bucket) pair aggregates to one fixed-size bitmap
    map-side, buckets merge associatively, and the final count is a
    sum of popcounts.  Unlike approx_count_distinct this is EXACT, so
    the oracle is plain COUNT(DISTINCT); unlike COUNT(DISTINCT) the
    shuffle carries fixed-size bitmaps instead of every distinct
    value — the 100 TB distinct-count shape."""
    li = load_table(spark, sf_dir, "lineitem")

    def bitmap_nd(key: str, out: str):
        # one bucketed bitmap aggregation PER KEY — bucketing two keys
        # in the same groupBy would fragment each key space across the
        # other key's buckets and over-count
        per_bucket = li.groupBy(
            "l_returnflag", F.expr(f"bitmap_bucket_number({key})").alias("_b")
        ).agg(
            F.expr(f"bitmap_construct_agg(bitmap_bit_position({key}))").alias("_m")
        )
        return per_bucket.groupBy("l_returnflag").agg(
            F.expr("sum(bitmap_count(_m))").alias(out)
        )

    return bitmap_nd("l_partkey", "nd_parts").join(
        bitmap_nd("l_suppkey", "nd_supps"), "l_returnflag"
    )


_MG_CAPACITY = 31  # heavy hitter = token count > n_total / 32


@query(
    "agg_heavy_hitters_mg",
    tags=("aggregation", "sketches", "text-analysis", "llm-pipeline", "scale-path"),
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           (SELECT n_total FROM tot) AS n_total
    FROM toks GROUP BY tok
    HAVING CAST(COUNT(*) AS BIGINT) * {_MG_CAPACITY + 1} > (SELECT n_total FROM tot)
    """,
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (tokens with count > n/32) via a Misra-Gries
    candidate pass + exact broadcast-semi-join recount — the bounded-
    memory alternative to groupBy().count() when the distinct-key
    universe exceeds executor memory (at 100 TB of text, corpus
    vocabulary does).  Pass 1 reduces each partition to <= 31 counter
    rows REGARDLESS of vocabulary size (mergeable-summaries decrement
    rule); pass 2 recounts only the tiny candidate set, whose superset
    guarantee makes the final output exactly the true heavy-hitter
    set — deterministic under any partitioning, hence oracle-exact.
    See operators/summaries.py for the guarantee arithmetic."""
    from parquet_to_sql_spark.operators.summaries import heavy_hitters_exact
    from parquet_to_sql_spark.operators.text import rebalance_for_compute, ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    tokens = rebalance_for_compute(docs.select("text")).select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    return heavy_hitters_exact(tokens, "tok", capacity=_MG_CAPACITY)


@query(
    "agg_argmax_per_group",
    tags=("aggregation", "argmax", "scale-path"),
    oracle="""
    SELECT n.n_name,
           c.c_acctbal                  AS best_bal,
           CAST(c.c_custkey AS BIGINT)  AS best_custkey
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c.c_nationkey
                               ORDER BY c.c_acctbal DESC, c.c_custkey) = 1
    """,
)
def agg_argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax WITHOUT a window sort: the richest customer
    per nation via max(struct(bal, -custkey)) — a single aggregation
    that partial-aggregates map-side, so the shuffle carries ONE row
    per (group, map task) instead of every row sorted.  This is the
    scale pattern for top-1-per-key: a row_number window must shuffle
    and SORT the full relation; the struct-max needs no sort at all
    and is skew-immune for the same reason partial sums are.  Tie
    discipline: highest balance, then lowest custkey (negated inside
    the struct so lexicographic max == min key).  Struct comparison
    is field-order lexicographic in both engines; balances are raw
    source doubles, compared (never recomputed), so cross-engine
    ordering is exact."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    best = c.groupBy("c_nationkey").agg(
        F.max(
            F.struct(
                F.col("c_acctbal").alias("bal"),
                (-F.col("c_custkey")).alias("negkey"),
            )
        ).alias("b")
    )
    return best.join(
        F.broadcast(n), best["c_nationkey"] == n["n_nationkey"]
    ).select(
        "n_name",
        F.col("b.bal").alias("best_bal"),
        (-F.col("b.negkey")).cast("long").alias("best_custkey"),
    )


@query(
    "agg_group_ols_price_qty",
    tags=("aggregation", "regression", "sufficient-statistics", "scale-path"),
    oracle="""
    WITH j AS (
      SELECT p.p_brand,
             CAST(floor(l.l_quantity) AS BIGINT)             AS qx,
             CAST(floor(l.l_extendedprice * 100.0) AS BIGINT) AS qy
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), g AS (
      SELECT p_brand, COUNT(*) AS n, SUM(qx) AS sx, SUM(qy) AS sy,
             SUM(qx * qy) AS sxy, SUM(qx * qx) AS sxx
      FROM j GROUP BY p_brand
    )
    SELECT p_brand,
           CAST(n AS BIGINT) AS n_rows,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS slope,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN (CAST(sy AS DOUBLE)
                      - (CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE)
           END AS intercept
    FROM g
    """,
)
def agg_group_ols_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand least-squares fit of extendedprice-cents on quantity —
    grouped linear regression by NORMAL EQUATIONS over exact integer
    sufficient statistics (n, Sx, Sy, Sxy, Sxx), the same
    one-aggregation-pass shape as embedding_gram_matrix but keyed:
    slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2).  Everything before the
    final division is integer/decimal-exact (quantities are integral;
    prices quantize via floor(y*100), floor of IEEE arithmetic being
    cross-engine deterministic), sums accumulate in DECIMAL(38,0) so
    no corpus size overflows them, and slope/intercept are computed by
    identical double expression trees on both engines.  Scale shape:
    broadcast part dim, ONE groupBy shuffle with map-side partials —
    regression over 100 TB costs the same as a sum.  Groups with
    constant x yield NULL slope (den = 0 guard)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor("l_quantity").cast("long").alias("qx"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0))
        .cast("long")
        .alias("qy"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    dec = "decimal(38,0)"
    g = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("qx").cast(dec)).alias("sx"),
        F.sum(F.col("qy").cast(dec)).alias("sy"),
        F.sum((F.col("qx") * F.col("qy")).cast(dec)).alias("sxy"),
        F.sum((F.col("qx") * F.col("qx")).cast(dec)).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != F.lit(0), num.cast("double") / den.cast("double")
    )
    intercept = F.when(
        den != F.lit(0),
        (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
        / F.col("n").cast("double"),
    )
    return g.select(
        "p_brand",
        F.col("n").cast("long").alias("n_rows"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


@query(
    "agg_exact_quantiles_histogram",
    tags=("aggregation", "quantiles", "exact-integer", "scale-path"),
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    w AS (
      SELECT grp, v,
             SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS cum,
             SUM(cnt) OVER (PARTITION BY grp) AS n
      FROM c
    )
    SELECT grp,
           MIN(CASE WHEN cum*100 >= 25*n THEN v END) AS p25_cents,
           MIN(CASE WHEN cum*100 >= 50*n THEN v END) AS p50_cents,
           MIN(CASE WHEN cum*100 >= 75*n THEN v END) AS p75_cents,
           MIN(CASE WHEN cum*100 >= 90*n THEN v END) AS p90_cents,
           MIN(CASE WHEN cum*100 >= 99*n THEN v END) AS p99_cents
    FROM w GROUP BY grp
    """,
)
def agg_exact_quantiles_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed quantiles without a global sort — the
    value-histogram method: aggregate to (group, value) counts first
    (one shuffle with map-side partials; the relation shrinks from
    row count to DISTINCT-value count, the big win for bounded
    domains like prices-in-cents, token counts, lengths), then one
    keyed window builds cumulative counts over the distinct values
    and each percentile is the smallest value whose cumulative count
    reaches ceil(p*n/100) (type-1/lower discrete quantile, stated as
    the integer inequality 100*cum >= p*n — no floats anywhere).

    percentile_approx trades accuracy for one pass; a sort-based
    exact quantile pays a full global sort of ALL rows.  This is
    exact AND shuffle-bounded by the distinct-value count — at 100 TB
    the window runs over millions of distinct cents values, not
    billions of rows."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.partitionBy("grp").orderBy("v")
    w_all = Window.partitionBy("grp")
    staged = counts.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    return staged.groupBy("grp").agg(
        *[
            F.min(
                F.when(F.col("cum") * 100 >= F.lit(p) * F.col("n"), F.col("v"))
            ).alias(f"p{p}_cents")
            for p in (25, 50, 75, 90, 99)
        ]
    )


@query(
    "agg_weighted_quantiles_tokens",
    tags=("aggregation", "quantiles", "profiling", "llm-pipeline",
          "scale-path"),
    oracle="""
    WITH t AS (
      SELECT CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS v
      FROM documents
    ),
    c AS (SELECT v, SUM(v) AS w FROM t GROUP BY v),
    s AS (
      SELECT v, SUM(w) OVER (ORDER BY v) AS cum, SUM(w) OVER () AS tot
      FROM c
    )
    SELECT
      MIN(CASE WHEN cum*100 >= 25*tot THEN v END) AS p25_tokens,
      MIN(CASE WHEN cum*100 >= 50*tot THEN v END) AS p50_tokens,
      MIN(CASE WHEN cum*100 >= 75*tot THEN v END) AS p75_tokens,
      MIN(CASE WHEN cum*100 >= 90*tot THEN v END) AS p90_tokens,
      MIN(CASE WHEN cum*100 >= 99*tot THEN v END) AS p99_tokens
    FROM s
    """,
)
def agg_weighted_quantiles_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-MASS-weighted document-length percentiles — the length
    distribution a data card should actually report: 'half the TOKENS
    live in documents of at most p50_tokens tokens', not 'half the
    documents are shorter than X' (the unweighted median wildly
    understates where the training mass sits when lengths are
    skewed).  Same exact count-histogram method as
    agg_exact_quantiles_histogram with weight = the value itself,
    cumulated by the DISTRIBUTED prefix sum over the distinct length
    values (no unpartitioned window, no global sort); the smallest
    length whose cumulative token mass reaches p% of the total, all
    integer."""
    from parquet_to_sql_spark.operators.prefix import prefix_sum
    from parquet_to_sql_spark.operators.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(ws_tokens(F.col("text"))).cast("long").alias("v")
    )
    c = t.groupBy("v").agg(F.sum("v").alias("w"))
    s = prefix_sum(c, ["v"], "w", "cum")
    tot = s.agg(F.max("cum").alias("tot"))
    return (
        s.crossJoin(F.broadcast(tot))  # 1-row total attach
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * 100 >= F.lit(p) * F.col("tot"),
                        F.col("v"),
                    )
                ).alias(f"p{p}_tokens")
                for p in (25, 50, 75, 90, 99)
            ]
        )
    )


@query(
    "agg_mode_per_group",
    tags=("aggregation", "skew-safe"),
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2, 3
    )
    SELECT l_returnflag, l_linestatus,
           qty AS mode_qty, CAST(cnt AS BIGINT) AS n_rows
    FROM c
    QUALIFY row_number() OVER (
      PARTITION BY l_returnflag, l_linestatus
      ORDER BY cnt DESC, qty ASC
    ) = 1
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group mode (most frequent value, ties to the smallest
    value) without a window over the raw rows: count per (group,
    value) first — map-side partial aggregation soaks up any skew —
    then argmin of (-count, value) per group via one min(struct)
    aggregation.  Both shuffles carry pre-aggregated rows bounded by
    |group x distinct-value|, never raw-row volume; contrast with the
    textbook row_number()-over-counts formulation the oracle uses,
    which is fine on the counted relation but a sort the struct-argmin
    avoids entirely."""
    li = load_table(spark, sf_dir, "lineitem")
    counted = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counted.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.min(
                F.struct((-F.col("cnt")).alias("_neg_cnt"), F.col("qty"))
            ).alias("_m")
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_m.qty").alias("mode_qty"),
            (-F.col("_m._neg_cnt")).cast("bigint").alias("n_rows"),
        )
    )


@query(
    "agg_grouped_weighted_quantiles",
    tags=("aggregation", "quantiles", "profiling", "llm-pipeline",
          "scale-path"),
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS v
      FROM documents
    ),
    c AS (SELECT source, v, SUM(v) AS w FROM t GROUP BY source, v),
    s AS (
      SELECT source, v,
             SUM(w) OVER (PARTITION BY source ORDER BY v) AS cum,
             SUM(w) OVER (PARTITION BY source) AS tot
      FROM c
    )
    SELECT source,
      MIN(CASE WHEN cum*100 >= 25*tot THEN v END) AS p25_tokens,
      MIN(CASE WHEN cum*100 >= 50*tot THEN v END) AS p50_tokens,
      MIN(CASE WHEN cum*100 >= 75*tot THEN v END) AS p75_tokens,
      MIN(CASE WHEN cum*100 >= 90*tot THEN v END) AS p90_tokens,
      MIN(CASE WHEN cum*100 >= 99*tot THEN v END) AS p99_tokens
    FROM s GROUP BY source
    """,
)
def agg_grouped_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE token-mass-weighted length percentiles — the
    per-corpus data-card row ('half of src7's TOKEN mass lives in
    docs of <= p50 tokens'), i.e. agg_weighted_quantiles_tokens
    partitioned by source.  Built on the r7 GROUPED distributed
    prefix sum (operators.prefix.grouped_prefix_sum): one scan into a
    (source, length)-keyed histogram, ONE grouped two-level cumulative
    scan with no driver collect and no per-source single-task window
    — the formulation that survives both a handful of huge sources
    and millions of tiny ones — then per-source totals attach at
    GROUP granularity (source x source join, never row-level) and the
    boundary pick is a conditional min.  All integer, value-exact;
    the oracle is the plain partitioned-window spelling."""
    from parquet_to_sql_spark.operators.prefix import grouped_prefix_sum
    from parquet_to_sql_spark.operators.text import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", F.size(ws_tokens(F.col("text"))).cast("long").alias("v")
    )
    c = t.groupBy("source", "v").agg(F.sum("v").alias("w"))
    s = grouped_prefix_sum(c, ["source"], ["v"], "w", "cum")
    tot = s.groupBy("source").agg(F.max("cum").alias("tot"))
    return (
        s.join(F.broadcast(tot), "source")  # group-cardinality attach
        .groupBy("source")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * 100 >= F.lit(p) * F.col("tot"),
                        F.col("v"),
                    )
                ).alias(f"p{p}_tokens")
                for p in (25, 50, 75, 90, 99)
            ]
        )
    )


@query(
    "agg_grouped_exact_quantiles",
    tags=("aggregation", "quantiles", "scale-path"),
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             COUNT(*) AS w
      FROM lineitem GROUP BY 1, 2, 3
    ), s AS (
      SELECT l_returnflag, l_linestatus, v,
             SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                          ORDER BY v) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS tot
      FROM c
    )
    SELECT l_returnflag, l_linestatus,
      MIN(CASE WHEN cum*100 >= 25*tot THEN v END) AS p25_cents,
      MIN(CASE WHEN cum*100 >= 50*tot THEN v END) AS p50_cents,
      MIN(CASE WHEN cum*100 >= 75*tot THEN v END) AS p75_cents,
      MIN(CASE WHEN cum*100 >= 99*tot THEN v END) AS p99_cents
    FROM s GROUP BY 1, 2
    """,
)
def agg_grouped_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles over the biggest fixture table —
    price-cents quartiles per (returnflag, linestatus) — by the
    count-histogram method on the GROUPED two-level scan: one
    map-side-combined (group, value) count (the only corpus-sized
    exchange), one grouped_prefix_sum over the distinct-value
    histogram (no driver collect, no per-group single-task sort — the
    plain percentile_disc window moves each group's every row to one
    task), group totals attached at group granularity, boundary =
    smallest value whose cumulative count reaches p%.  That is
    percentile_disc semantics in exact integers; the oracle is the
    partitioned-window spelling DuckDB can afford at fixture scale."""
    from parquet_to_sql_spark.operators.prefix import grouped_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("v"),
    ).agg(F.count(F.lit(1)).alias("w"))
    s = grouped_prefix_sum(
        c, ["l_returnflag", "l_linestatus"], ["v"], "w", "cum"
    )
    tot = s.groupBy("l_returnflag", "l_linestatus").agg(
        F.max("cum").alias("tot")
    )
    return (
        s.join(F.broadcast(tot), ["l_returnflag", "l_linestatus"])
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * 100 >= F.lit(p) * F.col("tot"),
                        F.col("v"),
                    )
                ).alias(f"p{p}_cents")
                for p in (25, 50, 75, 99)
            ]
        )
    )


@query(
    "agg_equidepth_bins",
    tags=("aggregation", "profiling", "quantiles", "scale-path"),
    oracle="""
    WITH c AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, COUNT(*) AS w
      FROM orders GROUP BY 1
    ), s AS (
      SELECT v, w,
             SUM(w) OVER (ORDER BY v) AS cum,
             SUM(w) OVER () AS tot
      FROM c
    ), e AS (
      SELECT
        MIN(CASE WHEN cum*8 >= 1*tot THEN v END) AS e1,
        MIN(CASE WHEN cum*8 >= 2*tot THEN v END) AS e2,
        MIN(CASE WHEN cum*8 >= 3*tot THEN v END) AS e3,
        MIN(CASE WHEN cum*8 >= 4*tot THEN v END) AS e4,
        MIN(CASE WHEN cum*8 >= 5*tot THEN v END) AS e5,
        MIN(CASE WHEN cum*8 >= 6*tot THEN v END) AS e6,
        MIN(CASE WHEN cum*8 >= 7*tot THEN v END) AS e7
      FROM s
    ), b AS (
      SELECT (CASE WHEN v > e1 THEN 1 ELSE 0 END)
           + (CASE WHEN v > e2 THEN 1 ELSE 0 END)
           + (CASE WHEN v > e3 THEN 1 ELSE 0 END)
           + (CASE WHEN v > e4 THEN 1 ELSE 0 END)
           + (CASE WHEN v > e5 THEN 1 ELSE 0 END)
           + (CASE WHEN v > e6 THEN 1 ELSE 0 END)
           + (CASE WHEN v > e7 THEN 1 ELSE 0 END) AS bin,
             v, w
      FROM s, e
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(SUM(w) AS BIGINT) AS n_orders,
           CAST(MIN(v) AS BIGINT) AS lo_cents,
           CAST(MAX(v) AS BIGINT) AS hi_cents,
           CAST(SUM(v * w) AS BIGINT) AS total_cents
    FROM b GROUP BY bin
    """,
)
def agg_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH binning — the profiling complement of the
    fixed-width agg_price_histogram: 8 bins each holding ~1/8 of the
    orders, edges = the smallest value whose cumulative count reaches
    k/8 of the total (exact count-histogram + distributed prefix sum,
    the established no-global-sort method), membership = row-local
    edge comparisons after a 1-row broadcast edge attach, then
    per-bin (count, lo, hi, mass) from the HISTOGRAM relation — the
    corpus is scanned once for the value counts and never again.
    Equi-depth edges are what optimizers and data-skew dashboards
    actually want (fixed-width bins collapse under long tails).  All
    integer cents; the oracle is the plain-window spelling."""
    from parquet_to_sql_spark.operators.prefix import prefix_sum

    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v")
    ).agg(F.count(F.lit(1)).alias("w"))
    s = prefix_sum(c, ["v"], "w", "cum")
    tot = s.agg(F.max("cum").alias("tot"))
    edges = (
        s.crossJoin(F.broadcast(tot))  # 1-row total attach
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * 8 >= F.lit(k) * F.col("tot"), F.col("v")
                    )
                ).alias(f"e{k}")
                for k in range(1, 8)
            ]
        )
    )
    bin_col = sum(
        F.when(F.col("v") > F.col(f"e{k}"), 1).otherwise(0) for k in range(1, 8)
    )
    return (
        s.crossJoin(F.broadcast(edges))  # 1-row edge attach
        .select(bin_col.cast("int").alias("bin"), "v", "w")
        .groupBy("bin")
        .agg(
            F.sum("w").cast("bigint").alias("n_orders"),
            F.min("v").cast("bigint").alias("lo_cents"),
            F.max("v").cast("bigint").alias("hi_cents"),
            F.sum(F.col("v") * F.col("w")).cast("bigint").alias("total_cents"),
        )
    )


@query(
    "agg_countmin_words",
    tags=("aggregation", "sketch", "llm-pipeline", "scale-path"),
    oracle="""
    WITH w AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ), h AS (
      SELECT word,
             list_reduce(list_transform(string_split(word, ''),
                         c -> CAST(ascii(c) AS BIGINT)),
                         (acc, x) -> (acc*31 + x) % 2147483647) AS hx
      FROM w
    ), probes AS (
      SELECT word, hx, i,
             CASE i WHEN 0 THEN (7*hx + 3) WHEN 1 THEN (11*hx + 5)
                    WHEN 2 THEN (13*hx + 7) ELSE (17*hx + 11) END
               % 2147483647 % 1024 AS bucket
      FROM h, unnest([0, 1, 2, 3]) AS u(i)
    ), cm AS (
      SELECT i, bucket, CAST(COUNT(*) AS BIGINT) AS c
      FROM probes GROUP BY i, bucket
    ), exact AS (
      SELECT word, hx, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM h GROUP BY word, hx
      ORDER BY n_exact DESC, word LIMIT 20
    ), probe20 AS (
      SELECT word, n_exact, i,
             CASE i WHEN 0 THEN (7*hx + 3) WHEN 1 THEN (11*hx + 5)
                    WHEN 2 THEN (13*hx + 7) ELSE (17*hx + 11) END
               % 2147483647 % 1024 AS bucket
      FROM exact, unnest([0, 1, 2, 3]) AS u(i)
    )
    SELECT word, n_exact,
           CAST(MIN(c) AS BIGINT) AS n_est,
           (MIN(c) >= n_exact) AS never_underestimates
    FROM probe20 JOIN cm USING (i, bucket)
    GROUP BY word, n_exact
    """,
)
def agg_countmin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus word stream (Cormode &
    Muthukrishnan 2005, public record) — depth 4 x width 1024, the
    mergeable fixed-size frequency summary every streaming top-k
    system carries.  Unlike the HLL/KLL sketch queries (rows-only by
    necessity: engine-specific binary state), Count-Min is PURE
    integer arithmetic over deterministic hashes, so the whole sketch
    — build, probe, and the one-sided error guarantee — is
    VALUE-EXACT against the DuckDB oracle: the 20 most frequent words
    are probed back through the sketch, and
    ``never_underestimates`` (est >= exact, CM's defining property)
    must come back TRUE on every row in both engines.

    Scale shape: one corpus scan; each token emits its 4 (row,
    bucket) cells ROW-LOCALLY (inline explode of a 4-struct array);
    the map-side-combined aggregate exchanges at most
    4 x 1024 = 4,096 cells however large the corpus — the sketch IS
    the shuffle bound.  The probe side broadcasts the 4,096-cell
    sketch against the exact top-20 (TakeOrdered), so nothing
    corpus-scale moves twice.  The hashes are the shared 31-ary
    codepoint fold with the minhash (a, b) pair family."""
    from parquet_to_sql_spark.functions.hashing import (
        char_fold_hash,
        countmin_cells,
    )
    from parquet_to_sql_spark.operators.text import ws_tokens

    depth, width = 4, 1024
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(ws_tokens(F.col("text"))).alias("word")
    ).select("word", char_fold_hash(F.col("word")).alias("hx"))

    cells = words.select(
        F.explode(countmin_cells(F.col("hx"), depth, width)).alias("cell")
    ).select("cell.i", "cell.bucket")
    cm = cells.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    exact = (
        words.groupBy("word", "hx")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "word")
        .limit(20)
    )
    probes = exact.select(
        "word",
        "n_exact",
        F.explode(countmin_cells(F.col("hx"), depth, width)).alias("cell"),
    ).select("word", "n_exact", "cell.i", "cell.bucket")
    return (
        probes.join(F.broadcast(cm), ["i", "bucket"])
        .groupBy("word", "n_exact")
        .agg(
            F.min("c").cast("bigint").alias("n_est"),
            (F.min("c") >= F.col("n_exact")).alias("never_underestimates"),
        )
    )


@query(
    "agg_winsorized_stats",
    tags=("aggregation", "quantiles", "robust", "scale-path"),
    oracle="""
    WITH c AS (
      SELECT l_returnflag, l_linestatus,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
             COUNT(*) AS w
      FROM lineitem GROUP BY 1, 2, 3
    ), s AS (
      SELECT l_returnflag, l_linestatus, v, w,
             SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus
                          ORDER BY v) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS tot
      FROM c
    ), b AS (
      SELECT l_returnflag, l_linestatus,
        MIN(CASE WHEN cum*100 >= 10*tot THEN v END) AS p10_cents,
        MIN(CASE WHEN cum*100 >= 90*tot THEN v END) AS p90_cents
      FROM s GROUP BY 1, 2
    )
    SELECT c.l_returnflag, c.l_linestatus,
           b.p10_cents, b.p90_cents,
           CAST(SUM(c.w) AS BIGINT) AS n_rows,
           CAST(SUM(GREATEST(b.p10_cents, LEAST(b.p90_cents, c.v)) * c.w)
                AS BIGINT) AS winsorized_sum_cents,
           CAST(SUM(GREATEST(b.p10_cents, LEAST(b.p90_cents, c.v)) * c.w)
                AS DOUBLE) / SUM(c.w) AS winsorized_mean_cents
    FROM c
    JOIN b ON c.l_returnflag = b.l_returnflag
          AND c.l_linestatus = b.l_linestatus
    GROUP BY 1, 2, 3, 4
    """,
)
def agg_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group WINSORIZED statistics — the robust-mean outlier
    screen (clip every value into the group's exact [p10, p90] band,
    then aggregate) quality pipelines run on length/score columns
    before thresholding.  Built scale-first: the corpus is scanned
    ONCE into a per-group distinct-value count histogram (map-side
    combined); the exact percentile_disc boundaries come from
    grouped_prefix_sum over that histogram (the
    agg_grouped_exact_quantiles machinery — no per-group single-task
    sort); and the winsorized re-aggregation runs over the HISTOGRAM
    rows (value*weight), never re-reading the corpus.  All exact
    integer cents; the mean is the one end-of-plan double division,
    IEEE-identical in both engines."""
    from parquet_to_sql_spark.operators.prefix import grouped_prefix_sum

    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    c = (
        li.groupBy(
            *keys,
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # referenced by the boundary pass AND the winsorized
        # re-aggregation: materialize the (distinct-value-sized)
        # histogram once so the corpus scan+groupBy doesn't run twice
        .localCheckpoint()
    )
    s = grouped_prefix_sum(c, keys, ["v"], "w", "cum")
    tot = s.groupBy(*keys).agg(F.max("cum").alias("tot"))
    b = (
        s.join(F.broadcast(tot), keys)
        .groupBy(*keys)
        .agg(
            *[
                F.min(
                    F.when(
                        F.col("cum") * 100 >= F.lit(p) * F.col("tot"),
                        F.col("v"),
                    )
                ).alias(f"p{p}_cents")
                for p in (10, 90)
            ]
        )
    )
    clipped = F.greatest(
        F.col("p10_cents"), F.least(F.col("p90_cents"), F.col("v"))
    )
    return (
        c.join(F.broadcast(b), keys)
        .groupBy(*keys, "p10_cents", "p90_cents")
        .agg(
            F.sum("w").alias("n_rows"),
            F.sum(clipped * F.col("w")).alias("winsorized_sum_cents"),
            (
                F.sum(clipped * F.col("w")).cast("double") / F.sum("w")
            ).alias("winsorized_mean_cents"),
        )
    )


@query(
    "agg_skyline_pareto_front",
    tags=("aggregation", "dominance", "scale-path"),
    oracle="""
    WITH pts AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
      FROM lineitem
    ), d AS (SELECT DISTINCT l_returnflag, price_c, qty_c FROM pts)
    SELECT r.l_returnflag, r.price_c, r.qty_c
    FROM d r
    WHERE NOT EXISTS (
      SELECT 1 FROM d s
      WHERE s.l_returnflag = r.l_returnflag
        AND ((s.price_c <  r.price_c AND s.qty_c >= r.qty_c)
          OR (s.price_c <= r.price_c AND s.qty_c >  r.qty_c))
    )
    """,
)
def agg_skyline_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto-dominance) query — the multi-criteria
    short-list no single ORDER BY can produce: per return flag, the
    line items for which no other item is both cheaper-or-equal AND
    higher-or-equal quantity (strict in one) — minimize price,
    maximize quantity.  The oracle is the textbook NOT EXISTS
    dominance spelling; the Spark plan is the sort-based O(n log n)
    method: distinct points, then per group two RANGE-frame window
    maxima over the price order — max qty among STRICTLY cheaper
    points (dominance with price <) and among cheaper-or-equal
    points (dominance with price <=, qty >) — a point survives iff
    neither dominates it.  RANGE frames make the strict/equal price
    boundaries exact, so ties (equal price, equal qty) survive
    together, exactly like the quadratic definition.

    Scale shape: one map-side DISTINCT on (group, price, qty), one
    shuffle on the group key, one in-partition sort, two frame
    evaluations over the same sort — no self-join, no all-pairs; the
    skyline of a billion points per group costs one sorted pass."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias(
            "price_c"
        ),
        F.expr("CAST(round(l_quantity * 100) AS BIGINT)").alias("qty_c"),
    ).distinct()
    w_strict = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_eq = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    return (
        pts.withColumn("_m_lt", F.max("qty_c").over(w_strict))
        .withColumn("_m_le", F.max("qty_c").over(w_eq))
        .filter(
            (F.col("_m_lt").isNull() | (F.col("_m_lt") < F.col("qty_c")))
            & (F.col("_m_le") <= F.col("qty_c"))
        )
        .select("l_returnflag", "price_c", "qty_c")
    )


@query(
    "agg_mad_outliers",
    tags=("aggregation", "robust-stats", "quantiles", "scale-path"),
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             COUNT(*) AS w
      FROM orders GROUP BY 1, 2
    ), s AS (
      SELECT grp, v, w,
             SUM(w) OVER (PARTITION BY grp ORDER BY v) AS cum,
             SUM(w) OVER (PARTITION BY grp) AS tot
      FROM c
    ), med AS (
      SELECT grp, MIN(CASE WHEN cum*2 >= tot THEN v END) AS med,
             MIN(tot) AS n
      FROM s GROUP BY grp
    ), d AS (
      SELECT c.grp, abs(c.v - m.med) AS dev, SUM(c.w) AS w
      FROM c JOIN med m ON c.grp = m.grp GROUP BY 1, 2
    ), ds AS (
      SELECT grp, dev, w,
             SUM(w) OVER (PARTITION BY grp ORDER BY dev) AS cum,
             SUM(w) OVER (PARTITION BY grp) AS tot
      FROM d
    ), mad AS (
      SELECT grp, MIN(CASE WHEN cum*2 >= tot THEN dev END) AS mad
      FROM ds GROUP BY grp
    )
    SELECT m.grp AS o_orderpriority,
           CAST(m.n AS BIGINT) AS n_orders,
           CAST(m.med AS BIGINT) AS median_cents,
           CAST(a.mad AS BIGINT) AS mad_cents,
           CAST(COALESCE(SUM(CASE WHEN d.dev > 3 * a.mad
                                  THEN d.w END), 0) AS BIGINT)
             AS n_outliers,
           CAST((1000000::HUGEINT
                 * COALESCE(SUM(CASE WHEN d.dev > 3 * a.mad
                                     THEN d.w END), 0)) // m.n AS BIGINT)
             AS outlier_ppm
    FROM med m
    JOIN mad a ON a.grp = m.grp
    LEFT JOIN d ON d.grp = m.grp
    GROUP BY m.grp, m.n, m.med, a.mad
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection in exact integers: per-group median /
    MAD (median absolute deviation) and the count of rows beyond the
    classic 3*MAD fence — the screen that survives the heavy-tailed
    value distributions where mean/stddev fences drown (robust
    statistics, public record; the winsorized-stats query's
    quantile-fence sibling).  Both medians are EXACT percentile_disc
    via the two-level count-histogram method: one map-side-combined
    (group, value) count is the only corpus-sized exchange; the
    deviation histogram derives from the FIRST histogram (never
    re-scanning the table) by re-grouping it on |v - median| after a
    group-granularity broadcast join of the medians; fences compare
    exact integers (no halves, no floats anywhere).

    Scale shape: corpus scanned ONCE; every later relation is
    histogram- or group-sized; grouped_prefix_sum avoids per-group
    single-task windows at any group cardinality."""
    from parquet_to_sql_spark.operators.prefix import grouped_prefix_sum

    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("v"),
    ).agg(F.count(F.lit(1)).alias("w"))
    c = c.localCheckpoint()  # both phases + the fence reuse this histogram
    s = grouped_prefix_sum(c, ["grp"], ["v"], "w", "cum")
    tot = s.groupBy("grp").agg(F.max("cum").alias("tot"))
    med = (
        s.join(F.broadcast(tot), "grp")
        .groupBy("grp")
        .agg(
            F.min(
                F.when(F.col("cum") * 2 >= F.col("tot"), F.col("v"))
            ).alias("med"),
            F.min("tot").alias("n"),
        )
    )
    d = (
        c.join(F.broadcast(med.select("grp", "med")), "grp")
        .groupBy("grp", F.abs(F.col("v") - F.col("med")).alias("dev"))
        .agg(F.sum("w").alias("w"))
    )
    ds = grouped_prefix_sum(d, ["grp"], ["dev"], "w", "cum")
    dtot = ds.groupBy("grp").agg(F.max("cum").alias("tot"))
    mad = (
        ds.join(F.broadcast(dtot), "grp")
        .groupBy("grp")
        .agg(
            F.min(
                F.when(F.col("cum") * 2 >= F.col("tot"), F.col("dev"))
            ).alias("mad")
        )
    )
    fenced = (
        d.join(F.broadcast(mad), "grp")
        .groupBy("grp")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("dev") > 3 * F.col("mad"), F.col("w"))
                ),
                F.lit(0),
            ).alias("n_out")
        )
    )
    return (
        med.join(mad, "grp")
        .join(fenced, "grp")
        .select(
            F.col("grp").alias("o_orderpriority"),
            F.col("n").cast("bigint").alias("n_orders"),
            F.col("med").cast("bigint").alias("median_cents"),
            F.col("mad").cast("bigint").alias("mad_cents"),
            F.col("n_out").cast("bigint").alias("n_outliers"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * n_out) div n"
                " AS BIGINT)"
            ).alias("outlier_ppm"),
        )
    )


# floor(1e6 * log10(1 + 1/d)) for d = 1..9 — Benford's law expected
# first-digit mass, precomputed as exact integer literals so neither
# engine evaluates a float log (public-record constants)
_BENFORD_PPM = (301029, 176091, 124938, 96910, 79181, 66946, 57991,
                51152, 45757)


@query(
    "profile_benford_digits",
    tags=("profiling", "data-quality", "aggregation"),
    oracle=f"""
    WITH c AS (
      SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
      WHERE o_totalprice > 0
    ), o AS (
      SELECT digit, COUNT(*) AS n FROM c GROUP BY digit
    ), t AS (SELECT SUM(n) AS tot FROM o),
    e(digit, benford_ppm) AS (
      VALUES {", ".join(f"({d}, {p})" for d, p in enumerate(_BENFORD_PPM, 1))}
    )
    SELECT e.digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
           CAST((1000000::HUGEINT * COALESCE(o.n, 0)) // t.tot AS BIGINT)
             AS obs_ppm,
           CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
           CAST((1000000::HUGEINT * COALESCE(o.n, 0)) // t.tot
                - e.benford_ppm AS BIGINT) AS dev_ppm
    FROM e LEFT JOIN o USING (digit) CROSS JOIN t
    """,
)
def profile_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S LAW first-digit audit — the classic anomaly screen
    for 'organic' numeric columns (fabricated or truncated data bends
    the leading-digit curve): observed first-significant-digit
    distribution of order totals vs the Benford expectation, both in
    exact integer ppm.  The expected masses floor(1e6*log10(1+1/d))
    are precomputed integer literals, so neither engine evaluates a
    float log and the result hash-matches exactly.  The first digit
    comes from the INTEGER cents rendering (integers format
    identically across engines; the cents significand equals the
    price significand).

    Scale shape: one narrow scan, one 9-bucket map-side-combined
    aggregate, a 9-row broadcast of the expectation table — the
    cheapest audit in the profiling family at any corpus size."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
            1, 1,
        ).cast("bigint").alias("digit")
    )
    o = c.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = o.agg(F.sum("n").alias("tot"))
    e = local_relation(
        spark,
        [(d, p) for d, p in enumerate(_BENFORD_PPM, 1)],
        "digit bigint, benford_ppm bigint",
    )
    return (
        e.join(o, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * COALESCE(n, 0))"
                " div tot AS BIGINT)"
            ).alias("obs_ppm"),
            F.col("benford_ppm").cast("bigint").alias("benford_ppm"),
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * COALESCE(n, 0))"
                " div tot - benford_ppm AS BIGINT)"
            ).alias("dev_ppm"),
        )
    )


@query(
    "profile_chisq_drift",
    tags=("profile", "llm-pipeline", "quality-filter", "scale-path"),
    oracle="""
    WITH w AS (
      SELECT doc_id,
             len(string_split_regex(trim(text), '\\s+')) % 8 AS bucket,
             doc_id % 2 AS snap
      FROM documents
    ), c AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN snap = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM w GROUP BY bucket
    ), t AS (
      SELECT CAST(SUM(n_a) + COUNT(*) AS BIGINT) AS tot_a,
             CAST(SUM(n_b) AS BIGINT) AS tot_b
      FROM c
    ), terms AS (
      SELECT c.bucket, c.n_a, c.n_b,
             CAST((1000000000::HUGEINT
                   * (c.n_b * t.tot_a - (c.n_a + 1) * t.tot_b)
                   * (c.n_b * t.tot_a - (c.n_a + 1) * t.tot_b))
                  // ((c.n_a + 1)::HUGEINT * t.tot_a * t.tot_b)
                  AS BIGINT) AS term_ppb
      FROM c, t
    )
    SELECT bucket, n_a, n_b, term_ppb,
           CAST(SUM(term_ppb) OVER () AS BIGINT) AS chi2_ppb
    FROM terms
    """,
)
def profile_chisq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-DRIFT AUDIT between two corpus snapshots as an
    EXACT-integer chi-squared statistic — the screen a training
    pipeline runs before accepting a refreshed crawl (did the
    word-count profile shift?): documents split into snapshots by
    doc_id parity, bucket on word-count % 8, and each bucket
    contributes (observed_B - expected_B)^2 / expected_B where
    expected scales snapshot A's ADD-ONE-smoothed distribution to
    B's total (smoothing keeps B-only buckets finite — the standard
    chi-square-with-prior discipline).  Every term is ONE exact
    integer division on the common denominator (n_a+1)*tot_a*tot_b
    scaled to ppb (DECIMAL(38,0) div == HUGEINT //), so the statistic
    is value-exact cross-engine — no floats, the same discipline as
    every LM score in this repo.  chi2_ppb repeats the full-table sum
    on each row (unpartitioned window over <= 8 BUCKET rows, not
    corpus rows).

    Scale shape: ONE map-side-combined groupBy(bucket) over the
    corpus, a 1-row totals attach broadcast onto <= 8 bucket rows,
    and the bounded window — drift screening at 100 TB costs one
    aggregate."""
    from parquet_to_sql_spark.operators.text import ws_tokens
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        (F.size(ws_tokens(F.col("text"))) % 8).alias("bucket"),
        (F.col("doc_id") % 2).alias("snap"),
    )
    c = w.groupBy("bucket").agg(
        F.sum(F.when(F.col("snap") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("snap") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_b"),
    )
    t = c.agg(
        (F.sum("n_a") + F.count(F.lit(1))).cast("bigint").alias("tot_a"),
        F.sum("n_b").cast("bigint").alias("tot_b"),
    )
    terms = c.crossJoin(F.broadcast(t)).select(
        "bucket", "n_a", "n_b",
        F.expr(
            "CAST((CAST(1000000000 AS DECIMAL(38,0))"
            " * (n_b * tot_a - (n_a + 1) * tot_b)"
            " * (n_b * tot_a - (n_a + 1) * tot_b))"
            " div (CAST(n_a + 1 AS DECIMAL(38,0)) * tot_a * tot_b)"
            " AS BIGINT)"
        ).alias("term_ppb"),
    )
    return terms.select(
        "bucket", "n_a", "n_b", "term_ppb",
        F.sum("term_ppb").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).cast("bigint").alias("chi2_ppb"),
    )

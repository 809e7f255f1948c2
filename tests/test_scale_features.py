"""Scale-mechanics tests: the physical-layout features a 100 TB
deployment depends on — partitioned writes with partition pruning,
bucketed tables with shuffle-free joins, and broadcast behavior.
These assert on the PLAN, not just results."""

from __future__ import annotations

import re
import pyspark.sql.functions as F
import pytest

from parquet_to_sql_spark.catalog import load_table
from tests.conftest import SF_SMOKE


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    out = str(tmp_path / "li_parted")
    li = load_table(spark, SF_SMOKE, "lineitem")
    li.write.partitionBy("l_returnflag").parquet(out)

    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = _formatted_plan(back)
    assert "PartitionFilters" in plan
    assert "l_returnflag" in plan.split("PartitionFilters")[1].split("\n")[0]
    want = li.filter(F.col("l_returnflag") == "R").count()
    assert back.count() == want


def test_bench_bucketed_twin_is_shuffle_free(spark):
    """The bench probe pair: the bucketed variant's static plan has
    at most the single-row final-rollup exchange, while the raw-parquet
    variant shuffles both join sides. This is the BENCH_r{N} layout
    story asserted as a plan property."""
    from parquet_to_sql_spark.plans.bucketing import (
        materialize_bucketed,
        order_revenue_join,
        shuffle_exchange_count,
    )

    tables = materialize_bucketed(spark, SF_SMOKE, buckets=4, prefix="t_bkt")
    try:
        bucketed = order_revenue_join(
            spark.table(tables["orders"]), spark.table(tables["lineitem"])
        )
        shuffled = order_revenue_join(
            load_table(spark, SF_SMOKE, "orders"),
            load_table(spark, SF_SMOKE, "lineitem"),
        )
        n_bucketed = shuffle_exchange_count(bucketed)
        n_shuffled = shuffle_exchange_count(shuffled)
        # bucketed: only the final single-row rollup may exchange
        assert n_bucketed <= 1, f"bucketed join shuffles ({n_bucketed} exchanges)"
        assert n_shuffled >= n_bucketed + 2, (
            f"raw layout should add two join-side shuffles "
            f"(got {n_shuffled} vs {n_bucketed})"
        )
        # identical results either way
        assert bucketed.collect() == shuffled.collect()
        # idempotence: second call reuses via marker, no rewrite
        assert materialize_bucketed(spark, SF_SMOKE, buckets=4, prefix="t_bkt") == tables
    finally:
        for t in tables.values():
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key co-locate: the sort-merge
    join runs with ZERO Exchange operators — the bucketing payoff that
    matters when both sides are 10s of TB."""
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    li.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _formatted_plan(j)
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# BroadcastHashJoins in each plan (formatted mode prints each
# operator twice: tree + details): every join, and with automatic
# broadcast off, the joins of the tables the SQL's BROADCAST hint names
_HEADLINE_BHJ = {
    "q3_shipping_priority": (4, 2),
    "q5_local_supplier_volume": (10, 6),
    "q10_returned_items": (6, 2),
}


@pytest.mark.parametrize("name", sorted(_HEADLINE_BHJ))
def test_broadcast_join_in_headline_plan(spark, name):
    """The fact table of q3/q5/q10 must never shuffle: every dim joins
    via BroadcastHashJoin and the only Exchange is the final
    aggregate's.  The hinted dims stay broadcast when the size-based
    choice is switched off, so the hint, not the fixture's size, pins
    them."""
    from parquet_to_sql_spark.queries.registry import all_queries

    every, hinted = _HEADLINE_BHJ[name]
    plan = _formatted_plan(all_queries()[name].build(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == every
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2, f"expected only the final-aggregate shuffle, got {shuffles // 2}"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _formatted_plan(all_queries()[name].build(spark, SF_SMOKE))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert plan.count("BroadcastHashJoin") == hinted


def test_filter_pushdown_reaches_scan(spark):
    df = (
        load_table(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_shipdate") > "1999-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _formatted_plan(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    # column pruning: the scan must read only the 3 referenced columns
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema

def test_file_sink_partitioned_layout(spark, tmp_path):
    """FileSink writes a partitioned lake layout; reading a single
    partition back prunes to that directory."""
    import os

    from parquet_to_sql_spark.sinks.files import FileSink

    li = load_table(spark, SF_SMOKE, "lineitem")
    sink = FileSink(str(tmp_path), format="parquet",
                    partition_by=["l_returnflag"], max_records_per_file=5000)
    sink.write(li, "li_lake", truncate=True)
    root = tmp_path / "li_lake"
    parts = {p.name for p in root.iterdir() if p.is_dir()}
    assert parts == {"l_returnflag=A", "l_returnflag=N", "l_returnflag=R"}
    back = spark.read.parquet(str(root))
    assert back.count() == li.count()
    only_r = spark.read.parquet(str(root)).filter(F.col("l_returnflag") == "R")
    assert only_r.count() == li.filter(F.col("l_returnflag") == "R").count()


def test_file_sink_csv_json(spark, tmp_path):
    from parquet_to_sql_spark.sinks.files import FileSink

    nation = load_table(spark, SF_SMOKE, "nation")
    FileSink(str(tmp_path), format="csv", options={"header": "true"}).write(
        nation, "nation_csv", truncate=True
    )
    FileSink(str(tmp_path), format="json").write(nation, "nation_json", truncate=True)
    assert spark.read.option("header", "true").csv(str(tmp_path / "nation_csv")).count() == 25
    assert spark.read.json(str(tmp_path / "nation_json")).count() == 25


def test_python_datasource_partition_parallel(spark):
    """Custom Python DataSource: deterministic, partition-parallel,
    schema-declared (the Spark-native pluggable-reader contract)."""
    from parquet_to_sql_spark.sources.pydatasource import SyntheticEventsDataSource

    spark.dataSource.register(SyntheticEventsDataSource)
    df = (
        spark.read.format("synthetic_events")
        .option("partitions", 4)
        .option("rows_per_partition", 500)
        .option("seed", 7)
        .load()
    )
    assert df.count() == 2000
    assert df.rdd.getNumPartitions() == 4
    assert dict(df.dtypes) == {
        "event_id": "bigint", "ts": "timestamp", "user_id": "bigint",
        "event_type": "string", "value": "double",
    }
    # deterministic: same options -> identical contents
    df2 = (
        spark.read.format("synthetic_events")
        .option("partitions", 4)
        .option("rows_per_partition", 500)
        .option("seed", 7)
        .load()
    )
    assert df.subtract(df2).count() == 0 and df2.subtract(df).count() == 0
    # event_ids unique across partitions
    assert df.select("event_id").distinct().count() == 2000


def test_global_sort_uses_range_partitioning(spark):
    """A full ORDER BY plans as a range-partitioned exchange (sampled
    bounds, parallel sort) — not a single-reducer sort."""
    o = load_table(spark, SF_SMOKE, "orders").orderBy("o_orderdate", "o_orderkey")
    plan = _formatted_plan(o)
    assert "rangepartitioning" in plan.lower()
    assert "Sort" in plan


def test_text_and_avro_sources(spark, tmp_path):
    """TextSource reads line-per-row; AvroSource works iff the external
    spark-avro module is deployed (it is not in this container — the
    wrapper must surface Spark's actionable error, not swallow it)."""
    import pytest as _pytest

    from parquet_to_sql_spark.sources.files import AvroSource, TextSource

    p = tmp_path / "corpus.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    got = sorted(r.value for r in TextSource(spark, str(p)).load().collect())
    assert got == ["alpha", "beta", "gamma"]

    probe = tmp_path / "probe.avro"
    probe.write_bytes(b"Obj\x01")  # only to satisfy path validation
    try:
        spark.read.format("avro")
        has_avro = True
    except Exception:
        has_avro = False
    if not has_avro:
        with _pytest.raises(Exception, match="avro"):
            AvroSource(spark, str(probe)).load().collect()


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The 100 TB skew story without manual salting: one hot key holds
    ~90% of the left side; with AQE skew-join enabled (engine default)
    the runtime re-plan splits the oversized partition — the final
    adaptive plan carries SortMergeJoin(skew=true) — and results are
    unchanged. Thresholds are lowered so fixture-sized data exhibits
    what a 256 MB default partition would at scale."""
    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "262144",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "262144",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        hot = spark.range(200000).select(
            F.lit(0).alias("k"), F.concat(F.lit("x" * 100), F.col("id")).alias("v")
        )
        uniform = spark.range(20000).select(
            (F.col("id") % 100 + 1).alias("k"), F.col("id").cast("string").alias("v")
        )
        left = hot.union(uniform)
        right = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        ).repartition(4)
        j = left.hint("merge").join(right, "k").agg(
            F.count(F.lit(1)).alias("n"),
            # keep the payload column alive so pruning doesn't shrink
            # the shuffled partition below the (lowered) skew threshold
            F.sum(F.length("v")).alias("payload_bytes"),
        )
        row = j.collect()[0]
        assert row.n == 220000  # every row matched exactly once
        assert row.payload_bytes > 200000 * 100
        plan = j._jdf.queryExecution().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q20_plans_nested_in_as_semi_joins(spark):
    """q20's nested IN subqueries must plan as semi-joins (never a
    distinct + inner join materializing the subquery)."""
    from parquet_to_sql_spark.queries.registry import all_queries

    df = all_queries()["q20_excess_shippers"].build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    assert "LeftSemi" in plan
    # the smallest fixture has no qualifying suppliers; row coverage is
    # the oracle-parity test's job (sf0.01) — this test pins the PLAN


def test_cdc_upsert_single_shuffle(spark):
    """The CDC upsert plan must be ONE shuffle on the key: base and
    updates both derive from the same scan, the union is shuffle-free,
    and the latest-version window is the only exchange."""
    from parquet_to_sql_spark.plans.bucketing import shuffle_exchange_count
    from parquet_to_sql_spark.queries.registry import get

    df = get("pipeline_cdc_upsert").build(spark, SF_SMOKE)
    assert shuffle_exchange_count(df) == 1


def test_zorder_key_plan_is_broadcast_only(spark):
    """fn_zorder_key's min/max pre-pass joins as a broadcast of a
    1-row aggregate: the only shuffle Exchange in the plan is the
    ~num-partition-row final-aggregate reduction on the BUILD side;
    the full probe-side scan joins via broadcast, never shuffled."""
    from parquet_to_sql_spark.plans.bucketing import formatted_plan, shuffle_exchange_count
    from parquet_to_sql_spark.queries.registry import get

    df = get("fn_zorder_key").build(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert shuffle_exchange_count(df) <= 1  # 1-row agg reduction only


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection over the 16-column lineitem must scan
    only the referenced columns (ReadSchema pruning) — reading all
    columns for a narrow query is the classic 100 TB waste."""
    from parquet_to_sql_spark.plans.bucketing import formatted_plan
    from parquet_to_sql_spark.queries.registry import get

    plan = formatted_plan(get("q6_forecast_revenue").build(spark, SF_SMOKE))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {
        "l_extendedprice", "l_discount", "l_quantity", "l_shipdate"
    }, cols


def test_runtime_bloom_filter_on_selective_join(spark):
    """With runtime bloom-filter join enabled, a selective dimension
    filter is pushed to the fact side as a bloom probe — runtime row
    skipping before the shuffle (the scale lever for selective joins).
    Thresholds are lowered to fire on the small fixture."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.catalog import load_table
    from parquet_to_sql_spark.plans.bucketing import formatted_plan

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_SMOKE, "lineitem")
        joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).groupBy().agg(
            F.count(F.lit(1)).alias("n")
        )
        plan = formatted_plan(joined)
        assert "bloom" in plan.lower(), plan[:3000]
        assert joined.first().n > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_simhash_hamming_plan_has_no_nested_loop(spark):
    """The Hamming-radius candidate join must be the band-bucket
    EQUALITY join (shuffle- or broadcast-hash), never a nested-loop
    all-pairs comparison — that is the whole point of the pigeonhole
    construction."""
    from parquet_to_sql_spark.operators.dedup import simhash_hamming_pairs

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _formatted_plan(simhash_hamming_pairs(docs, "doc_id", "text"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_plan_joins_on_hash_equality(spark):
    """Decontamination overlap is an equality join on the shingle
    hash (inverted-index shape); no nested loop, and the benchmark
    modulus filters reach both scan sides."""
    from parquet_to_sql_spark.queries.registry import all_queries

    df = all_queries()["text_contamination_check"].build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_join_strategy_hints_are_honored(spark):
    """Strategy hints override the planner's default pick — the knob
    for forcing a shuffle-hash join when the build side fits executor
    memory but exceeds the broadcast threshold, or a sort-merge join
    for spill-safety.  Customer would normally broadcast at this SF;
    the hints must win."""
    o = load_table(spark, SF_SMOKE, "orders")
    c = load_table(spark, SF_SMOKE, "customer")
    merged = o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
    assert "SortMergeJoin" in _formatted_plan(merged)
    hashed = o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey)
    assert "ShuffledHashJoin" in _formatted_plan(hashed)


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Partition-pruned scans from a JOIN filter (DPP): the fact side
    is partitioned on the join key; a selective dim filter must turn
    into a runtime partition filter on the fact scan (the mechanism
    that keeps a 100 TB fact table from being fully scanned when the
    dim filter implies a handful of partitions)."""
    fact_dir = str(tmp_path / "lineitem_by_flag")
    li = load_table(spark, SF_SMOKE, "lineitem")
    li.select("l_orderkey", "l_quantity", "l_returnflag").write.partitionBy(
        "l_returnflag"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # the selective filter is on a NON-join column, so only a runtime
    # (DPP) filter — not static constraint propagation — can prune
    dim = spark.createDataFrame(
        [("A", "archived"), ("N", "normal"), ("R", "returned")],
        "l_returnflag string, label string",
    ).filter(F.col("label") == "returned")
    j = fact.join(dim, "l_returnflag")
    plan = _formatted_plan(j)
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_salted_join_shuffles_on_composite_key(spark):
    """The skew-salted join must actually join on (orderkey, salt) —
    i.e. the exchanges hash-partition on BOTH keys so a hot orderkey
    spreads across S reducers — and must not degrade to a nested-loop
    or pure-salt join."""
    from parquet_to_sql_spark.queries.registry import get

    # At fixture SF the planner would broadcast the exploded orders
    # side (making salting moot); salting targets the shuffle-join
    # regime, so pin that regime for the plan assertion.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = get("join_skew_salted").build(spark, SF_SMOKE)
        plan = _formatted_plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    parts = re.findall(r"hashpartitioning\([^)]*\)", plan)
    assert any("salt" in p and "orderkey" in p for p in parts), parts


def test_distribute_by_controls_partitioning(spark):
    """DISTRIBUTE BY ... SORT BY plans as a hash-partitioned exchange
    on the named key plus a partition-LOCAL sort (global=false) — the
    SQL-surface control over physical layout; a global sort here would
    mean the clause was silently ignored."""
    from parquet_to_sql_spark.queries.registry import all_queries

    df = all_queries()["sql_engine_distribute_by"].build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    low = plan.lower()
    assert "hashpartitioning(o_custkey" in low
    assert "repartition_by_col" in low
    # The Sort operator's second argument is the global flag; anchor
    # the partition-local assertion (false) to the Sort node's own
    # Arguments line so a rendering change can't let a global sort
    # slip through.  Formatted explain renders each operator as
    # "(N) Sort" followed by "Arguments: [keys...], <global>, 0".
    import re

    sorts = [
        m.group(1)
        for section in plan.split("\n\n")
        if re.match(r"\(\d+\) Sort\b", section)
        for m in [re.search(r"Arguments: \[[^\]]*\], (true|false),", section)]
        if m
    ]
    assert sorts, f"no Sort node found in plan:\n{plan}"
    assert all(flag == "false" for flag in sorts), sorts


def test_cbo_stats_enable_broadcast_of_filtered_dim(spark):
    """Cost-based optimization evidence: a filtered dimension whose
    FILES are over the broadcast threshold is sort-merge-joined when
    the planner only has size-on-disk, but broadcast once ANALYZE
    TABLE column statistics let the filter's selectivity shrink the
    estimate — the stats-driven join planning that matters when dims
    are big but predicates are selective.  On a real cluster this is
    ANALYZE after load (or auto-collected stats in a lakehouse
    catalog); the conf dance here just pins the mechanism."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.cbo.enabled",
            "spark.sql.cbo.planStats.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }

    def joined_plan():
        dim = spark.table("cbo_dim").filter(F.col("k") < 50)
        j = spark.table("cbo_fact").join(dim, "k")
        return j._jdf.queryExecution().executedPlan().toString()

    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
        spark.range(0, 200_000).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        ).write.mode("overwrite").saveAsTable("cbo_dim")
        spark.range(0, 500_000).select(
            (F.col("id") % 200_000).alias("k"), F.col("id").alias("v")
        ).write.mode("overwrite").saveAsTable("cbo_fact")

        before = joined_plan()
        assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before

        spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR COLUMNS k")
        spark.sql("ANALYZE TABLE cbo_fact COMPUTE STATISTICS")
        after = joined_plan()
        assert "BroadcastHashJoin" in after
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_dim")
        spark.sql("DROP TABLE IF EXISTS cbo_fact")
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_collated_join_stays_equi_join(spark):
    """The UTF8_LCASE collated join must plan as a hash/sort-merge
    EQUI-join on the collated key — if Catalyst ever stopped treating
    collated equality as a join key it would degrade to a nested-loop
    cartesian, which is the difference between shuffle-partitionable
    and impossible at scale."""
    from parquet_to_sql_spark.queries.registry import all_queries

    df = all_queries()["fn_collated_match"].build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_winnowing_plan_has_no_key_shuffle(spark):
    """The winnowing selection is row-local by design: the ONLY
    Exchange in the plan must be the round-robin compute rebalance —
    never a hashpartitioning (key) shuffle, and no Window/Sort
    operators (the rightmost-min is an order-free max-fold, not a
    window function)."""
    from parquet_to_sql_spark.queries.registry import all_queries
    from tests.conftest import SF_CORRECT

    import re

    df = all_queries()["text_winnowing_fingerprints"].build(spark, SF_CORRECT)
    plan = _formatted_plan(df)
    assert "hashpartitioning" not in plan, "winnowing must not key-shuffle"
    assert "Window" not in plan
    # formatted explain lists each node twice (tree + detail section)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, "only the compute rebalance expected"
    assert "RoundRobinPartitioning" in plan


def test_null_safe_join_is_broadcast_hash(spark):
    """EqualNullSafe is a hashable join key: the null-safe enrich join
    must plan as BroadcastHashJoin (the tiny aggregate side
    broadcasts), never BroadcastNestedLoopJoin."""
    from parquet_to_sql_spark.queries.registry import all_queries
    from tests.conftest import SF_CORRECT

    df = all_queries()["join_null_safe"].build(spark, SF_CORRECT)
    plan = _formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_rrf_fusion_single_scored_relation(spark):
    """Both RRF rankings must come from ONE scored relation: exactly
    one hashpartitioning exchange (the shared qid window partitioning)
    and no join after the rankings (no outer join to fuse the lists)."""
    from parquet_to_sql_spark.queries.registry import all_queries
    from tests.conftest import SF_CORRECT

    import re

    df = all_queries()["simsearch_rrf_fusion"].build(spark, SF_CORRECT)
    plan = _formatted_plan(df)
    # two scans total (broadcast query side + corpus): the corpus is
    # NOT re-scanned per ranking
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert n_scans <= 2, "corpus must not be re-scanned per ranking"
    # all three windows (r_cos, r_l2, fused rank) share ONE
    # hashpartitioning exchange on the query id
    n_hash = len(re.findall(r"\(\d+\) Exchange", plan)) - plan.count(
        "RoundRobinPartitioning("
    )
    assert n_hash == 1, "rankings must share one qid exchange"
    assert "SortMergeJoin" not in plan


def test_xml_source_roundtrip(spark, tmp_path):
    """Spark 4 ships a native XML source (spark-xml merged upstream):
    write an orders slice as XML, read it back with an explicit
    schema, and compare values exactly."""
    from parquet_to_sql_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    src = (
        load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
        .filter(F.col("o_orderkey") % 100 == 0)
    )
    path = str(tmp_path / "orders_xml")
    src.write.format("xml").option("rowTag", "order").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey long, o_orderstatus string, o_orderpriority string")
        .load(path)
    )
    want = {tuple(r) for r in src.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == want and len(got) > 0


def test_gram_matrix_plan_is_joinless_single_shuffle(spark):
    """The gram matrix must come from the map-side self-pair expansion:
    no join operator anywhere (each row pairs its OWN array), and the
    only Exchange is the (i, j) aggregation shuffle — whose row count
    is bounded by d^2 per map task via partial aggregation."""
    import re

    from parquet_to_sql_spark.queries.registry import get

    df = get("embedding_gram_matrix").build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    assert "Join" not in plan, "gram expansion must not join"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, "one (i,j) aggregation shuffle expected"
    assert "partial_sum" in plan or "partial" in plan.lower()


def test_peak_concurrency_per_event_windows_are_partitioned(spark):
    """Sweep-line decomposition contract: every window over PER-EVENT
    rows is hash-partitioned (user_id for sessionization, hour_us for
    the in-hour running sum); the single unpartitioned window runs
    only over the per-hour totals aggregate — bounded by hour count.
    The offsets join back must be a broadcast, not a shuffle join."""
    from parquet_to_sql_spark.queries.registry import get

    df = get("ev_peak_concurrency").build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the sole single-partition exchange feeds the per-hour totals
    # window; per-event windows shuffle on their keys
    assert plan.count("SinglePartition") <= 2  # exchange node + detail
    assert "hashpartitioning(user_id" in plan
    assert "hashpartitioning(hour_us" in plan


def test_keyword_search_plan_is_single_stage_topk(spark):
    """Full-scan retrieval contract: per-term tf is row-local, so the
    whole query must be scan -> project -> TakeOrderedAndProject with
    NO shuffle of the corpus (each partition keeps its local top-k)."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("text_keyword_search").build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\(\d+\) Exchange", plan), "corpus must not shuffle"


def test_bottom_k_sample_plan_is_take_ordered(spark):
    """Bottom-k sampling must plan as TakeOrderedAndProject (per-
    partition top-k, driver merge), never a global Sort + Exchange."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("sample_bottom_k").build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\(\d+\) Exchange", plan)
    assert not re.search(r"\(\d+\) Sort", plan), "no standalone global sort"


def test_bpe_pair_merges_vocab_compression_plan(spark):
    """BPE pair counting must aggregate corpus->vocab first and then
    vocab->pairs: exactly two aggregation shuffles, both with map-side
    partial combine, finishing in TakeOrderedAndProject."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("text_bpe_pair_merges").build(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "partial_count" in plan or "partial_sum" in plan


def test_triangle_counts_plan_is_truncated_and_equi_join_only(spark):
    """The degree-ordered triangle count references edges/degrees/
    oriented relations 2-3x each; lineage truncation must keep the
    final plan from replaying candidate generation per reference
    (untruncated this plan measured 713 nodes), and every join must be
    an equi-join — never nested-loop/cartesian.  The closing join's
    probe side is the user-pinned REPARTITION_BY_NUM exchange, which
    AQE neither coalesces nor skew-splits (by design: see the width pin
    below)."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("dedup_graph_triangles").build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan, "all inputs come from checkpoints"
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    n_nodes = len(re.findall(r"\(\d+\) ", plan))
    assert n_nodes < 60, f"lineage not truncated: {n_nodes} nodes"
    # r14 width pin: the closing join's probe-side exchange must stay
    # USER-specified (REPARTITION_BY_NUM on dst) so AQE's byte-based
    # coalescing cannot serialize the array_intersect stage — and it
    # must not have added an exchange (the pin replaces the
    # ENSURE_REQUIREMENTS exchange the join needed anyway).
    assert re.search(r"hashpartitioning\(dst#\d+L?, \d+\), REPARTITION_BY_NUM", plan), (
        "triangle intersect width pin missing: the dst exchange is no "
        "longer user-specified (AQE may re-serialize the stage)"
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 5, (
        "triangle exchange count changed; the width pin must not add "
        "or remove shuffles"
    )


def test_mad_anomaly_scans_events_once(spark):
    """The hourly rollup is localCheckpoint'd, so the final plan reads
    only the checkpointed RDD (the raw event scan happens exactly once,
    at checkpoint time) and every stats join-back is a broadcast."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("ev_hourly_anomaly_mad").build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_binned_range_join_is_equi_join(spark):
    """The binned range join must plan as a hash-partitioned EQUI-join
    on the bin id — never a broadcast nested-loop or cartesian — or it
    degenerates to the O(n*m) shape it exists to replace."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("join_range_binned").build(spark, SF_SMOKE))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan  # an actual join happened, on the bin key
    assert "bin" in plan


def test_pareto_abc_per_part_window_is_partitioned(spark):
    """The global revenue-ranked running sum must be decomposed: the
    per-part window partitions on the revenue band (hash exchange),
    and only the ~64-row band-totals windows run single-partition."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("window_pareto_abc").build(spark, SF_SMOKE))
    assert "hashpartitioning(_band" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_runtime_bloom_filter_injection_on_selective_join(spark):
    """Spark-native bloom runtime filtering (InjectRuntimeFilter): a
    selective creation side on a shuffle join gets a bloom_filter_agg
    subquery injected, and the big application side is pre-filtered by
    might_contain BEFORE the shuffle — the engine-level version of the
    operators.membership screen.  Thresholds are lowered because the
    local fixture is far under the 10 GB production default; the
    assertion is on the optimized plan, and the filtered result must
    equal the unfiltered join's."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, SF_SMOKE, "orders")
        li = load_table(spark, SF_SMOKE, "lineitem")
        sel = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            li.join(sel, li.l_orderkey == sel.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, "no bloom runtime filter injected"
        assert "bloom_filter_agg" in plan
        got = {(r.o_orderpriority, r.n) for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    want = {
        (r.o_orderpriority, r.n)
        for r in (
            load_table(spark, SF_SMOKE, "lineitem")
            .join(
                load_table(spark, SF_SMOKE, "orders").filter(
                    F.col("o_orderpriority") == "1-URGENT"
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        ).collect()
    }
    assert got == want and len(got) == 1


def test_prefix_jaccard_plan_equi_joins_and_pinned_prefix_index(spark):
    """The PPJoin-style prefix filter must stay equi-join-only (the
    candidate generator is an inverted-index join on the gram hash,
    never a nested-loop), and the explode that builds the prefix index
    slices to n_sh - ceil(t*n_sh) + 1 entries — the plan should show
    slice + explode, not a full posting explode of every shingle."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("dedup_prefix_jaccard").build(spark, SF_SMOKE))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "slice(" in plan, "prefix index is not sliced — full explode"
    assert "array_intersect" in plan, "verify stage missing"


def test_kcore_plan_is_checkpoint_rooted_equi_only(spark):
    """Each peel round reads the previous round's checkpointed edge
    relation (lineage must not replay candidate generation per round)
    and filters via semi-joins — equi-join-only, no parquet rescans in
    the final plan."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("dedup_kcore_3").build(spark, SF_SMOKE))
    assert "Scan parquet" not in plan, "all inputs come from checkpoints"
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    n_nodes = len(re.findall(r"\(\d+\) ", plan))
    assert n_nodes < 40, f"per-round lineage not truncated: {n_nodes} nodes"


def test_repeated_spans_plan_single_scan_equi_join(spark):
    """The repeated-span detector's positional-gram relation feeds
    both join sides from ONE scan pipeline (Spark reuses the exchange
    for the self-join), the candidate join is an equi-join on the gram
    hash, and the islands pass partitions by (doc1, doc2, d) — no
    unpartitioned window, no nested-loop anywhere."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("dedup_repeated_spans").build(spark, SF_SMOKE))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    # the gram relation is cached: both self-join sides must read the
    # cache (the tokenize+hash+cap pipeline materializes once at cache
    # fill, instead of a full re-derivation per side)
    assert plan.count("InMemoryTableScan") + plan.count("TableCacheQueryStage") >= 2, (
        "gram pipeline re-derived per join side instead of read from cache"
    )


def test_global_prefix_sum_has_no_unpartitioned_window(spark):
    """The whole point of the two-level prefix sum: the plan must
    contain NO unpartitioned window (Spark's single-task global-sort
    trap) — the only Window node is keyed by the range-partition id —
    and the offsets join is a broadcast of O(#partitions) rows."""
    from parquet_to_sql_spark.queries.registry import get

    df = get("window_global_prefix_sum").build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    for line in plan.splitlines():
        if "Arguments:" in line and "windowspecdefinition" in line.lower():
            assert "_pid" in line, f"unpartitioned window slipped in: {line[:200]}"
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # and it matches the sequential answer (sanity on the smoke fixture)
    rows = df.orderBy("o_orderkey").limit(3).collect()
    assert rows[0].running_cents > 0


def test_bucketed_band_index_probe_join_scans_without_corpus_shuffle(spark, tmp_path):
    """The simhash_band_index docstring's 100 TB claim, asserted as a
    plan property: materialize the index BUCKETED by (band, bval),
    probe it with a small new-docs batch, and the corpus side of the
    join must read bucketed with NO Exchange — only the tiny probe
    side shuffles into the bucket layout.  Results must equal the
    unbucketed screen exactly."""
    from parquet_to_sql_spark.operators.dedup import (
        simhash_band_index,
        simhash_screen_against_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = simhash_band_index(corpus, "doc_id", "text", bits=24, radius=1)

    spark.sql("DROP TABLE IF EXISTS band_idx")
    index.write.bucketBy(8, "band", "bval").sortBy("band", "bval").saveAsTable(
        "band_idx"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        screened = simhash_screen_against_index(
            new, spark.table("band_idx"), "doc_id", "text", bits=24, radius=1
        )
        plan = _formatted_plan(screened)
        # the bucketed scan appears; count exchanges BELOW the join's
        # index side by a simpler global property: exactly ONE shuffle
        # exchange in the whole plan (the probe side re-clustering into
        # the 8-bucket layout) — the corpus side contributes none
        shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert shuffles == 2, f"expected only the probe-side exchange, got {shuffles//2}"
        got = sorted(
            (r.new_id, r.corpus_id, r.hamming) for r in screened.collect()
        )
        want = sorted(
            (r.new_id, r.corpus_id, r.hamming)
            for r in simhash_screen_against_index(
                new, index, "doc_id", "text", bits=24, radius=1
            ).collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS band_idx")


def test_mmr_rerank_plan_constant_in_k(spark):
    """VERDICT r05 #1: the greedy MMR unroll must NOT re-derive the
    candidate pool per selection round.  With the pool and pairwise
    sims localCheckpoint-ed, the final plan reads ONLY the
    materialized RDDs — zero parquet scans — and its size stays
    bounded-linear in k instead of re-planning the matmul stage
    inside every round (25 scans / 47 shuffles before the fix)."""
    from parquet_to_sql_spark.queries.registry import all_queries

    df = all_queries()["simsearch_mmr_rerank"].build(spark, SF_SMOKE)
    plan = _formatted_plan(df)
    scans = plan.count("Scan parquet") // 2
    assert scans == 0, f"greedy unroll re-derives the pool: {scans} scans"
    assert "ExistingRDD" in plan, "pool/sims must be checkpoint-materialized"
    shuffles = (plan.count("Exchange") - plan.count("BroadcastExchange")) // 2
    assert shuffles <= 14, f"shuffle count exploded: {shuffles}"


def test_shared_broadcast_reuses_and_evicts(spark):
    """ADVICE r05: operators must not leak a fresh broadcast per call.
    Same content digest -> the SAME live Broadcast object; overflowing
    the LRU capacity unpersists the oldest instead of accumulating."""
    from parquet_to_sql_spark.operators import broadcast_cache as bc

    b1 = bc.shared_broadcast(spark, "test-digest-A", lambda: b"payload")
    b2 = bc.shared_broadcast(spark, "test-digest-A", lambda: b"payload")
    assert b1 is b2
    before = bc.registry_size()
    for i in range(bc._CAPACITY + 5):
        bc.shared_broadcast(spark, f"test-evict-{i}", lambda: b"x")
    assert bc.registry_size() <= bc._CAPACITY
    assert before <= bc._CAPACITY
    # the reused broadcast still round-trips through an executor job
    probe = bc.shared_broadcast(spark, "test-digest-B", lambda: b"live")
    got = spark.sparkContext.parallelize([0], 1).map(
        lambda _: probe.value
    ).collect()
    assert got == [b"live"]


def test_bucketed_gram_index_self_join_shuffle_free(spark):
    """The repeated_spans docstring's 100 TB claim, asserted as a plan
    property: materialize the occurrence-capped positional-gram
    relation ONCE as a table BUCKETED by the join key ``h`` and
    self-join it — the join must consume both sides' bucket layout
    with NO shuffle exchange before the join (the only exchanges left
    are the downstream islands window/aggregate, which run on the
    spans-sized match relation, not the gram relation).  Span results
    must equal the in-memory repeated_spans exactly."""
    from pyspark.sql import Window

    from parquet_to_sql_spark.operators.dedup import (
        hashed_positional_kgrams,
        repeated_spans,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    grams = (
        hashed_positional_kgrams(docs, "doc_id", "text", 6)
        .withColumn("_occ", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("_occ") <= 256)
        .drop("_occ")
    )
    spark.sql("DROP TABLE IF EXISTS gram_idx")
    grams.write.bucketBy(8, "h").sortBy("h").saveAsTable("gram_idx")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        t = spark.table("gram_idx")
        a = t.select(
            F.col("doc").alias("doc1"), F.col("pos").alias("pos1"), "h"
        )
        b = t.select(
            F.col("doc").alias("doc2"), F.col("pos").alias("pos2"), "h"
        )
        m = (
            a.join(b, "h")
            .filter(F.col("doc1") < F.col("doc2"))
            .select(
                "doc1", "doc2", "pos1",
                (F.col("pos2") - F.col("pos1")).alias("d"),
            )
        )
        w = Window.partitionBy("doc1", "doc2", "d").orderBy("pos1")
        spans = (
            m.withColumn("island", F.col("pos1") - F.row_number().over(w))
            .groupBy("doc1", "doc2", "d", "island")
            .agg(F.min("pos1").alias("start1"), F.count(F.lit(1)).alias("n"))
            .withColumn("span_tokens", (F.col("n") + F.lit(5)).cast("long"))
            .filter(F.col("span_tokens") >= 12)
            .select(
                "doc1", "doc2",
                F.col("start1").cast("long"),
                (F.col("start1") + F.col("d")).cast("long").alias("start2"),
                "span_tokens",
            )
        )
        # plan property: no exchange between the bucketed scans and the
        # join — the first exchange in the tree must be ABOVE the join
        # (islands window), i.e. the join's direct children are scans
        plan = _formatted_plan(m)
        shuffles = (plan.count("Exchange") - plan.count("BroadcastExchange")) // 2
        assert shuffles == 0, f"bucketed self-join still shuffles: {shuffles}"
        got = sorted(tuple(r) for r in spans.collect())
        want = sorted(
            tuple(r)
            for r in repeated_spans(
                docs, "doc_id", "text", k=6, min_tokens=12, max_occ=256
            ).collect()
        )
        spark.catalog.clearCache()
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS gram_idx")


def test_shared_broadcast_eviction_is_safe_for_lazy_plans(spark):
    """The LRU registry's safety claim, executed: build a lazy
    DataFrame over a shared broadcast, flood the registry until that
    broadcast is EVICTED (unpersisted), then collect — Spark re-ships
    an unpersisted (non-destroyed) broadcast on demand, so the plan
    must still produce correct results."""
    from parquet_to_sql_spark.operators import broadcast_cache as bc
    from parquet_to_sql_spark.operators.membership import (
        bloom_build,
        bloom_probe,
    )

    ref = spark.range(0, 50).selectExpr("id AS k")
    bloom = bloom_build(ref, "k", expected_items=50, fpp=0.01)
    probe_df = bloom_probe(
        spark.range(0, 200).selectExpr("id AS k"), "k", bloom
    )
    # flood: evict everything currently registered, including the
    # filter bytes probe_df's closure still holds a handle to
    for i in range(bc._CAPACITY + 1):
        bc.shared_broadcast(spark, f"evict-flood-{i}", lambda: b"x")
    survivors = {r.k for r in probe_df.collect()}
    assert set(range(50)) <= survivors, "true members lost after eviction"
    assert len(survivors) <= 60  # ~fpp false positives only


def test_binned_overlap_join_is_equi_join(spark):
    """The interval-overlap join must plan as an EQUI-join on the bin
    id (hash-partitionable both sides) — never a nested loop — and
    must not re-shuffle for a distinct after the join (exactly-once
    comes from the greatest-lo bin predicate, not deduplication)."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("join_interval_overlap").build(spark, SF_SMOKE))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan and "_bin" in plan
    assert "Deduplicate" not in plan and "Distinct" not in plan


def test_hash_feature_classifier_broadcasts_model(spark):
    """The hashing-trick classifier's weight relation must ride a
    broadcast join — the corpus token stream never shuffles by
    feature bucket; the only exchange is the doc-keyed rollup."""
    from parquet_to_sql_spark.queries.registry import get

    plan = _formatted_plan(get("text_hash_feature_classify").build(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_quantile_normalize_keeps_rank_ppm_zero_rows(spark, tmp_path):
    """ADVICE r09: once a source exceeds 1e6 docs its lowest histogram
    rows floor rank_ppm to 0; p must clamp to position 1 so the rows
    calibrate to the pooled minimum instead of silently vanishing
    (p=0 matches no [lo,hi) interval in the binned range join)."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.queries.registry import all_queries

    n = 1_000_001  # > ppm resolution: doc at rank 1 gets rank_ppm 0
    docs = spark.range(n).select(
        F.lit("big").alias("source"),
        F.when(F.col("id") == 0, F.lit(5))
        .otherwise(F.lit(100))
        .cast("long")
        .alias("n_chars"),
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = (
        all_queries()["pipeline_score_quantile_normalize"]
        .build(spark, str(tmp_path))
        .collect()
    )
    rows = {r.v: r for r in out}
    assert rows[5].rank_ppm == 0
    assert rows[5].v_norm == 5  # pooled minimum, not a dropped row
    assert rows[100].v_norm == 100


def test_fixture_builders_count_once_per_session(spark):
    """VERDICT r11 'What's wrong' #3: building the crawl-files /
    warc-files / redirect-chase queries used to run an eager
    documents.count() on EVERY build.  The corpus_count memo bounds
    that to one count per (session, sf dir): after a first build
    warms the memo, rebuilding every fixture-backed query must not
    touch load_table('documents').count() again."""
    from parquet_to_sql_spark.queries import fixtures as fx
    from parquet_to_sql_spark.queries.registry import all_queries

    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    names = ("pipeline_crawl_ingest_files", "source_warc_files",
             "pipeline_redirect_chase", "pipeline_redirect_files_chase")
    qs[names[0]].build(spark, sf)  # warm the memo
    assert fx._COUNT_MEMO.get("/root/testdata/sf0.01") == 500

    real = fx.corpus_count
    calls = {"n": 0}

    def counting(spark_, sf_dir):
        calls["n"] += 1
        key = fx.os.path.normpath(sf_dir)
        assert key in fx._COUNT_MEMO, (
            "corpus_count fell through to a live count() on a rebuild"
        )
        return real(spark_, sf_dir)

    fx.corpus_count = counting
    try:
        for name in names:
            qs[name].build(spark, sf)  # plan build only, no action
    finally:
        fx.corpus_count = real
    # every builder sizes itself through the memo — a raw .count()
    # added to one of them would show up as a missing call here
    assert calls["n"] == len(names)

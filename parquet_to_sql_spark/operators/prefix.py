"""Distributed global prefix sums — running totals over a TOTAL
order without the single-partition window trap.

The production problem: ``SUM(x) OVER (ORDER BY key)`` with no
PARTITION BY moves the ENTIRE relation to one task (Spark warns
"No Partition Defined for Window operation"), which is fine for a
bounded side table and fatal for a corpus-sized one.  The classic
two-level decomposition (textbook parallel scan — Blelloch 1990,
public record) keeps it distributed:

  1. range-partition the relation by the ordering key (sampled range
     boundaries; WHICH partition a row lands in does not affect the
     result — offsets adjust to the actual boundaries);
  2. in-partition running sums via an ordinary keyed window
     (partition_id IS the partition key, so no global shuffle to one
     task);
  3. per-partition TOTALS — O(#partitions) rows, the one driver-side
     collect, same bounded-collect class as the CC convergence
     scalars — prefix-summed on the driver and joined back as a
     broadcast offset per partition id.

The result equals the sequential running sum EXACTLY for integer
values (addition is associative; no float reordering concerns), which
is what makes the operator oracle-checkable against a plain
``SUM OVER (ORDER BY ...)``.

Ties: rows that compare equal on ``order_cols`` would make "running
sum" ambiguous, so callers must pass a total order (include a unique
tiebreaker column — the oracles do the same ORDER BY).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from parquet_to_sql_spark.session import local_relation


def _running(local, off):
    """A row's running total from its in-partition prefix and its
    partition's offset, either of which is NULL when it covers only
    NULL values — what ``SUM(v) OVER (ORDER BY k)`` returns."""
    return F.coalesce(local + off, local, off).cast("long")


def prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
) -> DataFrame:
    """``df`` + ``out_col`` = inclusive running sum of ``value_col``
    in ``order_cols`` order (a TOTAL order — include a tiebreaker).

    Scale shape: one range-partitioning exchange on the order key,
    one keyed in-partition window, one O(#partitions) driver collect
    for the offsets, one broadcast join back.  The offsets go back to
    the JVM as a ``(_pid int, _off long)`` Arrow LocalRelation
    (``session.local_relation``), so the join-back runs no
    Python-worker task.  No task ever holds more than its own
    partition; contrast with the unpartitioned-window formulation,
    which is a single-task global sort.

    The localCheckpoint materializes the ranged relation once because
    TWO actions consume it (partition totals, then the windowed pass)
    and repartitionByRange samples boundaries non-deterministically —
    recomputing could route rows differently between the passes.  The
    checkpoint-free alternative (derive deterministic range boundaries
    from an exact key histogram, bucket row-locally, aggregate + window
    per bucket) trades the full materialization for one extra pass
    over the INPUT lineage — the right swap only when that lineage is
    a cheap re-scan; callers with expensive upstreams (e.g. the RFM
    per-user aggregate) should hand this operator a checkpointed
    input either way, which is why materialize-once is the default.
    """
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
    # LAZY checkpoint (r13): the totals .collect() right below is the
    # materializing action and covers every partition, so the pinned
    # boundaries are already frozen before the second consumer (the
    # windowed pass) is even constructed — sequential driver code,
    # no consumer race.  (grouped_prefix_sum has NO interposing
    # action, so its checkpoint stays EAGER — two consumer stages in
    # one job could otherwise race the non-deterministic range
    # exchange.)  Same truncation, one fewer serialized job.
    staged = ranged.withColumn("_pid", F.spark_partition_id()).localCheckpoint(
        eager=False
    )

    # per-partition totals -> driver prefix-sum -> offset per pid.
    # Bounded: one row per partition, O(n_parts) driver memory.
    totals = {
        r._pid: r.t
        for r in staged.groupBy("_pid")
        .agg(F.sum(value_col).alias("t"))
        .collect()
    }
    # SUM semantics: NULL values are skipped, and the offset stays NULL
    # until some earlier partition holds a non-NULL value
    running, offsets = None, {}
    for pid in sorted(totals):
        offsets[pid] = running
        if totals[pid] is not None:
            running = totals[pid] if running is None else running + totals[pid]
    offsets_df = F.broadcast(
        local_relation(spark, offsets.items(), "_pid int, _off long")
    )

    w = Window.partitionBy("_pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        staged.withColumn("_local", F.sum(value_col).over(w))
        .join(offsets_df, "_pid")
        .withColumn(out_col, _running(F.col("_local"), F.col("_off")))
        .drop("_pid", "_local", "_off")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_total",
) -> DataFrame:
    """Per-GROUP inclusive running sums — ``SUM(v) OVER (PARTITION BY
    g ORDER BY k)`` — built for the case the plain window can't
    survive: groups big or skewed enough that one group per task
    spills (a single hot group is exactly the unpartitioned-window
    trap with extra steps).

    Same two-level scan as prefix_sum, with one improvement: the
    offset stage needs NO driver collect.  Range-partition on
    (group, order) so each group spans a contiguous run of
    partitions; per-(partition, group) totals form a relation of at
    most #partitions + #groups rows; each group's cross-partition
    offsets are then an ordinary window over THAT small relation
    (per group, at most #partitions rows — bounded work per task no
    matter how many groups or how big each one is).

    NULL group keys form their own partition, exactly like
    ``SUM(v) OVER (PARTITION BY g ORDER BY k)`` — both the offsets
    window and the join-back are null-safe (``eqNullSafe``), so
    NULL-group rows get correct running totals instead of being
    dropped by a null-blind equi-join (ADVICE r07).

    The offsets relation is O(#partitions + #groups) rows —
    dimension-join class through ~10^7 groups — so it is broadcast
    back (a plain join would re-shuffle the corpus the range exchange
    just placed).

    The localCheckpoint pins non-deterministic range boundaries
    across the two consuming passes, same reasoning as prefix_sum.
    Exact for integer values; callers pass a total order within each
    group (include a tiebreaker)."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = [F.col(c) for c in group_cols + order_cols]
    ranged = df.repartitionByRange(n_parts, *keys)
    staged = ranged.withColumn("_pid", F.spark_partition_id()).localCheckpoint()

    totals = staged.groupBy("_pid", *group_cols).agg(
        F.sum(value_col).alias("_t")
    )
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_pid",
        *group_cols,
        F.sum("_t").over(w_off).alias("_off"),
    )

    w = (
        Window.partitionBy("_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # null-safe join back: a plain `on=[cols]` equi-join never matches
    # NULL group keys, silently dropping the NULL partition's rows.
    # The offsets side's join columns are renamed so the condition is
    # unambiguous and the output keeps the input's columns untouched.
    off = F.broadcast(offsets.select(
        F.col("_pid").alias("_opid"),
        *[F.col(c).alias(f"_og{i}") for i, c in enumerate(group_cols)],
        "_off",
    ))
    cond = F.col("_pid") == F.col("_opid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_og{i}"))
    return (
        staged.withColumn("_local", F.sum(value_col).over(w))
        .join(off, cond)
        .withColumn(out_col, _running(F.col("_local"), F.col("_off")))
        .drop("_pid", "_local", "_off", "_opid",
              *[f"_og{i}" for i in range(len(group_cols))])
    )


def weighted_systematic_sample(
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    m: int,
) -> DataFrame:
    """Deterministic weighted systematic sampling: select ~``m`` rows
    with inclusion probability proportional to integer ``weight_col``,
    by walking the cumulative-weight line and taking one row per
    W/m-sized stratum (systematic PPS sampling — Madow 1944, public
    record).  Deterministic given the order, so the whole draw is
    value-exact cross-engine: a row is selected iff its cumulative
    interval (cum - w, cum] contains a stratum boundary, i.e.
    floor(cum*m/W) > floor((cum-w)*m/W).

    The floor-division is spelled with the exact-multiple trick
    ((x - x % W) / W — numerator an exact multiple of W), exact in
    IEEE double while quotient and numerator stay below 2^53: with
    W = total weight and m the sample size, that bounds cum*m < 2^53
    (document weights in chars at 100 TB: ~1e14 * m <= ~1e3 — callers
    at that extreme should rescale weights; the gate fixture is
    orders of magnitude below).

    Rows with zero weight are never selected (their interval is
    empty) — matching PPS semantics.

    Built on prefix_sum, so it inherits the distributed shape: no
    single-task window anywhere.
    """
    with_cum = prefix_sum(df, order_cols, weight_col, out_col="_cum")
    total = with_cum.select(F.max("_cum").alias("_pps_total"))
    hi = f"(_cum * {m})"
    lo = f"((_cum - {weight_col}) * {m})"
    # nullif: an all-zero-weight input has total 0 — under ANSI mode a
    # raw % 0 throws; NULL comparisons drop every row instead (PPS of
    # nothing selects nothing)
    w_tot = "nullif(_pps_total, 0)"
    strat = (
        f"CAST(({hi} - {hi} % {w_tot}) / {w_tot} AS BIGINT)"
        f" > CAST(({lo} - {lo} % {w_tot}) / {w_tot} AS BIGINT)"
    )
    return (
        with_cum.join(F.broadcast(total))
        .filter(F.expr(strat))
        .drop("_cum", "_pps_total")
    )

"""SparkSession construction with scale-oriented defaults.

The reference wires its engine from config in
ParquetToSqlServiceProvider.php:10-32 (connection, batch_size,
copy_timeout); our equivalent of that DI layer is this builder plus
environment variables.

Defaults are chosen for the 100 TB posture:
  * AQE on (runtime coalescing, skew-join splitting, dynamic join
    selection) so plans re-optimize from real statistics.
  * shuffle partitions sized for the local harness via
    SPARK_GRAFT_CPUS (default: the CPUs this process may run on); on a
    real cluster this is overridden (AQE coalescing makes a too-high
    initial value cheap).
  * nanosAsLong so Parquet TIMESTAMP(NANOS) columns (the `events`
    fixture) are readable; catalog.load_table converts to a proper
    timestamp column.
"""

from __future__ import annotations

import os
import re
import weakref
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Runtime-settable SQL confs every entry point applies, so the engine
# behaves identically under a session we build OR one handed to us
# (the driver's verify harness builds its own).
RUNTIME_CONFS: dict[str, str] = {
    # Parquet TIMESTAMP(NANOS) -> LongType instead of AnalysisException.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: coalesce post-shuffle partitions, split skewed
    # partitions, convert sort-merge join -> broadcast at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas interchange (Pandas UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp rendering (reference formats 'Y-m-d
    # H:i:s.uP' in the value's own zone; ours is pinned to UTC).
    "spark.sql.session.timeZone": "UTC",
}


def local_cpus() -> int:
    """Cores of a local session: $SPARK_GRAFT_CPUS, else the CPUs this
    process may run on.  The one default every script shares."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


# session -> py4j handle on the live map of its explicitly set SQL confs
_SETTINGS: weakref.WeakKeyDictionary[SparkSession, object] = weakref.WeakKeyDictionary()


def conf_pattern(key: str) -> re.Pattern:
    """Matches ``key``'s entry in ``conf_settings_text``; group 1 is its value."""
    return re.compile(r"[{ ]" + re.escape(key) + r"=([^,}]*)")


_RUNTIME_PATTERNS = {k: conf_pattern(k) for k in RUNTIME_CONFS}


def conf_settings_text(spark: SparkSession) -> str:
    """The session's explicitly set SQL confs as ``{key=value, ...}``,
    read in ONE py4j round trip from the live conf map (its handle is
    cached per session).  A conf at its default is absent."""
    settings = _SETTINGS.get(spark)
    if settings is None:
        settings = _SETTINGS[spark] = spark._jsparkSession.sessionState().conf().settings()
    return settings.toString()


def apply_runtime_confs(spark: SparkSession) -> str:
    """Apply engine confs to an externally-built session (best effort)
    and return the session's conf text (``conf_settings_text``) as it
    stands after.  Every read path calls this, so it reads the
    session's confs once and sets only those absent or set to another
    value: a session that already holds them costs one py4j call, and
    a conf the caller changed between reads is put back (the text is
    then read again, so it shows the restored value)."""
    text = conf_settings_text(spark)
    changed = False
    for k, v in RUNTIME_CONFS.items():
        m = _RUNTIME_PATTERNS[k].search(text)
        if m and m.group(1) == v:
            continue
        try:
            spark.conf.set(k, v)
            changed = True
        except Exception:
            # Static conf on this build — skip; builder path sets it.
            pass
    return conf_settings_text(spark) if changed else text


def local_relation(spark: SparkSession, rows: Iterable[tuple], ddl: str) -> DataFrame:
    """A small driver-side relation (``rows`` of tuples typed by the
    ``ddl`` schema, e.g. ``"_pid int, _off long"``) as a JVM
    ``LocalRelation``.

    ``spark.createDataFrame(<list>, ddl)`` parallelizes the list and
    pickles it through a Python ``map``, so the plan holds a
    ``LogicalRDD`` and every action over it starts Python-worker tasks
    just to hand the JVM a few rows.  A ``pyarrow.Table`` is shipped to
    the JVM once, as Arrow batches, and planned as a ``LocalRelation``
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says (a
    pandas frame is not: with that conf off it takes the list path).
    Every ``createDataFrame`` in the package goes through here."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def get_spark(
    app_name: str = "parquet_to_sql_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to local[local_cpus()].
    On a cluster deployment the caller passes master/None and submits
    via spark-submit; nothing here is local-mode-specific.
    """
    cpus = local_cpus()
    if master is None:
        from pyspark import SparkConf

        # respect a master supplied by spark-submit/--master: forcing
        # local[] here would silently run a "cluster" job single-node
        if not SparkConf().contains("spark.master"):
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Bound per-task input so huge files split into parallel scans.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Long-lived sessions running many queries accumulate shuffle
        # files and broadcasts until a driver GC lets the
        # ContextCleaner reap them; the default periodic GC (30 min)
        # outlives a whole bench run, so old state piles up and
        # inflates every later query (measured 1.5-3x on the heavy
        # ones).  30 s bounds the pile without measurable overhead.
        .config("spark.cleaner.periodicGC.interval", "30s")
        # The generated-class cache defaults to 100 entries; a session
        # running the full query surface (200+ plans, several codegen
        # stages each) thrashes it, paying janino recompilation on
        # every re-execution.  Sized to hold the whole workload.
        # (Read once at first codegen, so it must be set at build.)
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/parquet_to_sql_spark_warehouse"
            ),
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    return spark

"""User-facing SQL engine surface.

The reference's user surface is one import call; ours adds a query
surface: register parquet datasets as named tables once, then run any
Spark SQL against them. This is the module a user of the reference
would adopt to go from "load parquet into Postgres, query there" to
"query the parquet directly".

    eng = Engine(spark)
    eng.register("lineitem", "/data/lineitem")        # file/dir/glob
    eng.register_fixtures("/root/testdata/sf0.1")     # all 10 tables
    df = eng.sql("SELECT l_returnflag, count(*) FROM lineitem GROUP BY 1")
    eng.import_to(df_or_sql, table="public.summary", sink=...)  # optional
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_to_sql_spark.catalog import TABLES, load_table
from parquet_to_sql_spark.session import apply_runtime_confs
from parquet_to_sql_spark.sources.parquet import ParquetSource


class Engine:
    def __init__(self, spark: SparkSession):
        apply_runtime_confs(spark)
        self.spark = spark
        self._tables: dict[str, str] = {}

    def register(self, name: str, path: str) -> None:
        """Register a parquet path (file/dir/glob) as a SQL view."""
        ParquetSource(self.spark, path).load().createOrReplaceTempView(name)
        self._tables[name] = path

    def register_dataframe(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)
        self._tables[name] = "<dataframe>"

    def register_fixtures(self, sf_dir: str) -> None:
        """Register all driver fixture tables (ns-timestamp handling
        included) as views."""
        for t in TABLES:
            load_table(self.spark, sf_dir, t).createOrReplaceTempView(t)
            self._tables[t] = sf_dir

    def sql(self, q: str, args: dict | None = None) -> DataFrame:
        """Run Spark SQL against the registered tables. Parsing,
        analysis, optimization, and physical planning are Catalyst's —
        the engine's job is the surface, sources, and sinks.  ``args``
        binds named parameters (``:name`` markers) — parameterized
        SQL, the injection-safe way to template queries."""
        return self.spark.sql(q, args=args) if args else self.spark.sql(q)

    def tables(self) -> dict[str, str]:
        return dict(self._tables)

    def import_to(self, df_or_sql: DataFrame | str, table: str, sink) -> None:
        """Land a DataFrame or SQL result in a SQL table via any sink
        (CopySink / InsertSink / DuckDbSink / FileSink)."""
        df = self.sql(df_or_sql) if isinstance(df_or_sql, str) else df_or_sql
        sink.write(df, table)

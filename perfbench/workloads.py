"""The three workloads and their operations.

Each workload makes its inputs from the seed (harness time), sets the
program up through its public entry points (timed as set-up), and
offers a list of operations the run loop times one at a time.  An op
returns what its check needs; checks run outside the op's clock.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import check
import gen
from check import (
    checksum_sql, column_kinds, oracle_hash, parquet_checksum, value_hash,
)

# Input sizes.  The benchmark is sized for 4 + 22 x (workloads) runs
# within 3,420 s, JVM start and warm-up included, so the sizes sit
# below the package's sf0.1 fixtures; NOTES.md gives the trade-off.
SQL_SF = 0.01
CORPUS_BASE_DOCS = 250
CORPUS_SHARDS = 10
IMPORT_SF = 0.02

SQL_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "join_interval_overlap",
    "ev_tumbling_hourly", "ev_peak_concurrency", "ev_rfm_segments",
    "profile_sequence_gaps", "window_global_prefix_sum", "pipeline_cdc_upsert",
)
TWIN_ORACLE = """
SELECT count(*) AS n_orders,
       CAST(sum(revenue) AS DOUBLE) AS total_revenue,
       sum(n_items) AS total_items
FROM (SELECT o_orderkey,
             sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderkey)
"""
CORPUS_QUERIES = (
    "dedup_minhash_dedup_apply", "dedup_minhash_production_audit",
    "dedup_ngram_jaccard_hashed", "dedup_graph_triangles", "dedup_repeated_spans",
    "text_winnowing_fingerprints", "text_profile_documents", "text_bigram_lm_scores",
)
# DuckDB needs minutes for these three oracles at any corpus size the
# run can afford, so their ops are checked for run-to-run identity
# instead: every timed result must hash like the warm-up result.
IDENTITY_CHECKED = frozenset({
    "dedup_minhash_dedup_apply", "dedup_minhash_production_audit",
    "dedup_graph_triangles",
})
KERNELS = (
    "sig_and_shingle_arrays", "stringfold_kgram_hashes", "hashedfold_kgram_hashes",
    "word_hash_arrays", "simhash_arrow", "winnow_kgram_fingerprints",
    "winnow_kgram_fp_sets", "audit_mutant_stats",
)


class OracleCache:
    """Oracle hashes keyed by (input bytes, query SQL, hashing code),
    kept across runs in the work directory, so a repeated seed never
    recomputes them."""

    def __init__(self, path: str):
        self.path = path
        with open(check.__file__, "rb") as f:
            self.code = hashlib.sha256(f.read()).hexdigest()
        try:
            with open(path) as f:
                self.data = json.load(f)
        except (OSError, ValueError):
            self.data = {}

    def get(self, inputs_key: str, sql: str, data_dir: str) -> str:
        key = hashlib.sha256(f"{inputs_key}\n{sql}\n{self.code}".encode()).hexdigest()
        if key not in self.data:
            self.data[key] = oracle_hash(data_dir, sql)
            tmp = self.path + f".{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.data, f)
            os.replace(tmp, self.path)
        return self.data[key]


class QueryWorkload:
    """Named registry queries over generated parquet: build + collect."""

    name = ""
    tail_passes = 3  # passes whose ops the tail percentile is taken over (>= 20 ops)
    queries: tuple[str, ...] = ()  # registry queries
    extra: dict[str, str] = {}  # benchmark-built queries: name -> oracle SQL

    def __init__(self, h):
        self.h = h
        self.expected: dict[str, str | None] = {}
        self.builders: dict = {}

    def tables(self) -> dict:
        raise NotImplementedError

    def prepare(self) -> None:
        from parquet_to_sql_spark.queries.registry import all_queries

        h = self.h
        gen.write_tables(self.tables(), h.data_dir)
        key = gen.dir_digest(h.data_dir)
        registry = all_queries()
        for q in self.queries:
            self.builders[q] = registry[q].build
            if q in IDENTITY_CHECKED:
                self.expected[q] = None
            else:
                self.expected[q] = h.oracles.get(key, registry[q].oracle, h.data_dir)
        for q, sql in self.extra.items():
            self.expected[q] = h.oracles.get(key, sql, h.data_dir)

    def register(self) -> None:
        from parquet_to_sql_spark.catalog import register_views

        present = tuple(f[:-8] for f in sorted(os.listdir(self.h.data_dir)) if f.endswith(".parquet"))
        register_views(self.h.spark, self.h.data_dir, present)

    def setup(self) -> None:
        """Workload-specific set-up after catalog registration."""

    def ops(self) -> list[str]:
        return [*self.queries, *self.extra]

    def run_op(self, name: str, op_id: int, tr):
        spark = self.h.spark
        with tr.span("queries.build"):
            df = self.builders[name](spark, self.h.data_dir)
        self.h.mark_build_done(op_id)
        with tr.span("exec.collect"):
            rows = df.collect()
        return df.columns, rows

    def op_begin(self):
        return None

    def op_end(self, name: str, before) -> dict:
        return {}

    def check(self, name: str, result) -> tuple[bool, int]:
        columns, rows = result
        got = value_hash(columns, rows)
        if self.expected.get(name) is None:
            self.expected[name] = got  # first (warm-up) result is the reference
        return got == self.expected[name], len(rows)

    def probe_tables(self) -> list[str]:
        return [t for t in gen.IMPORT_TABLES
                if os.path.exists(os.path.join(self.h.data_dir, f"{t}.parquet"))]

    def probe_corpus(self):
        return _documents(self.h)

    def teardown(self) -> None:
        pass


class SqlAnalytics(QueryWorkload):
    name = "sql_analytics"
    queries = SQL_QUERIES
    extra = {"join_orderkey_shuffled": TWIN_ORACLE, "join_orderkey_bucketed": TWIN_ORACLE}

    def tables(self):
        return gen.make_tables(SQL_SF, self.h.seed)

    def setup(self) -> None:
        from parquet_to_sql_spark.catalog import load_table
        from parquet_to_sql_spark.plans.bucketing import (
            materialize_bucketed, order_revenue_join,
        )

        h = self.h
        with h.tr.span("plans.materialize_bucketed"):
            bucketed = materialize_bucketed(h.spark, h.data_dir)
        self.builders["join_orderkey_shuffled"] = lambda s, d: order_revenue_join(
            load_table(s, d, "orders"), load_table(s, d, "lineitem"))
        self.builders["join_orderkey_bucketed"] = lambda s, d: order_revenue_join(
            s.table(bucketed["orders"]), s.table(bucketed["lineitem"]))


class LlmCorpus(QueryWorkload):
    name = "llm_corpus_10x"
    queries = CORPUS_QUERIES

    def tables(self):
        base = gen.make_documents(CORPUS_BASE_DOCS, self.h.seed)
        corpus = gen.scale_corpus(base, CORPUS_SHARDS, self.h.seed)
        return {"documents": corpus}

    def setup(self) -> None:
        from parquet_to_sql_spark.catalog import load_table

        with self.h.tr.span("catalog.corpus_load"):
            load_table(self.h.spark, self.h.data_dir, "documents").count()


class ImportCopy:
    """``ImportJob(...).handle`` into a live PostgreSQL, one table per op."""

    name = "import_copy"
    # 24 ops put the tail at rank 14, inside the cluster of the three
    # short tables' samples and not on the edge between two tables,
    # where the value jumps from one table to the other between runs.
    tail_passes = 6

    def __init__(self, h):
        self.h = h
        self.paths: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.kinds: dict[str, dict[str, str]] = {}
        self.want_sum: dict[str, tuple[int, ...]] = {}
        self.server = None
        self.dsn = ""
        self.sink: TimedSink | None = None

    def prepare(self) -> None:
        import pyarrow.parquet as pq

        from pg import PgServer

        h = self.h
        tables = gen.make_tables(IMPORT_SF, h.seed)
        gen.write_tables({t: tables[t] for t in gen.IMPORT_TABLES}, h.data_dir)
        for t in gen.IMPORT_TABLES:
            path = os.path.join(h.data_dir, f"{t}.parquet")
            self.paths[t] = path
            self.rows[t] = tables[t].num_rows
            self.kinds[t] = column_kinds(pq.read_schema(path))
            self.want_sum[t] = parquet_checksum(path, self.kinds[t])
        self.server = PgServer(os.path.join(h.run_dir, "pg"))
        self.dsn = self.server.start()
        h.proc.pg_pid = self.server.postmaster_pid()

    def register(self) -> None:
        """Create the target tables from the sources' Spark schemas."""
        from parquet_to_sql_spark.sinks.ddl import create_table_sql
        from parquet_to_sql_spark.sources.parquet import ParquetSource

        from pg import query

        with self.h.tr.span("sinks.ddl"):
            for t, path in self.paths.items():
                schema = ParquetSource(self.h.spark, path).load().schema
                query(self.dsn, f"DROP TABLE IF EXISTS {t}")
                query(self.dsn, create_table_sql(t, schema))

    def setup(self) -> None:
        pass

    def ops(self) -> list[str]:
        return list(gen.IMPORT_TABLES)

    def run_op(self, name: str, op_id: int, tr):
        spark = self.h.spark
        if not tr.enabled:
            from parquet_to_sql_spark.job import ImportJob

            job = ImportJob(self.paths[name], name, connection=self.dsn,
                            truncate=True, sink="copy")
            return job.handle(spark)
        # Traced: the steps of ImportJob.handle, with timing wrappers
        # around the sink the config layer builds and the source the
        # importer would build (handed in through its ``reader``).
        from parquet_to_sql_spark.config import build_sink, load_config
        from parquet_to_sql_spark.importer import Importer
        from parquet_to_sql_spark.sources.parquet import ParquetSource

        with tr.span("config.build_sink"):
            self.sink = TimedSink(build_sink(load_config(connection=self.dsn, sink="copy")), tr)
        source = TimedSource(ParquetSource(spark, self.paths[name]), tr)
        return Importer(spark, self.sink).import_(
            self.paths[name], name, reader=source, truncate=True)

    def op_begin(self) -> dict[str, int]:
        """Server counters before a traced op: WAL position and the next
        transaction id (write transactions consume one each; the
        benchmark's own reads do not)."""
        from pg import query

        (lsn, xmax), = query(
            self.dsn,
            "SELECT pg_wal_lsn_diff(pg_current_wal_lsn(), '0/0')::bigint, "
            "pg_snapshot_xmax(pg_current_snapshot())::text::bigint",
        )
        return {"wal": int(lsn), "xid": int(xmax)}

    def op_end(self, name: str, before: dict[str, int]) -> dict:
        """Counters of a traced op, read after its clock stopped."""
        from parquet_to_sql_spark.normalize import copy_lines

        from pg import query

        after = self.op_begin()
        size = query(self.dsn, f"SELECT pg_total_relation_size('{name}')")[0][0]
        return {
            "wal_bytes": after["wal"] - before["wal"],
            "txns": after["xid"] - before["xid"],
            "stored_bytes": int(size),
            "writers": copy_lines(self.sink.df).rdd.getNumPartitions(),
        }

    def check(self, name: str, result) -> tuple[bool, int]:
        from pg import query

        kinds = self.kinds[name]
        got = tuple(int(x) for x in query(self.dsn, checksum_sql(name, kinds, "pg"))[0])
        ok = (
            result.rows_imported == self.rows[name]
            and got[0] == self.rows[name]
            and got == self.want_sum[name]
        )
        return ok, got[0]

    def probe_tables(self) -> list[str]:
        return list(self.paths)

    def probe_corpus(self):
        return _documents(self.h)

    def teardown(self) -> None:
        if self.server is not None:
            self.server.stop()


class TimedSink:
    """Wraps the sink the config layer builds in a ``sinks.write`` span
    and keeps the written frame for the writer count."""

    def __init__(self, inner, tr):
        self.inner, self.tr = inner, tr
        self.df = None

    def write(self, df, table, truncate=False):
        self.df = df
        with self.tr.span("sinks.write"):
            return self.inner.write(df, table, truncate=truncate)


class TimedSource:
    """Wraps a source in a ``sources.load`` span."""

    def __init__(self, inner, tr):
        self.inner, self.tr = inner, tr

    def load(self):
        with self.tr.span("sources.load"):
            return self.inner.load()


def _documents(h):
    """(documents frame, row count): the corpus the operator probe uses."""
    import pyarrow.parquet as pq

    from parquet_to_sql_spark.catalog import load_table

    path = os.path.join(h.data_dir, "documents.parquet")
    return load_table(h.spark, h.data_dir, "documents"), pq.read_metadata(path).num_rows


WORKLOADS = {w.name: w for w in (SqlAnalytics, LlmCorpus, ImportCopy)}


def render_probe(h, tables: list[str]) -> dict:
    """``copy_lines`` over each table as the importer reads it,
    aggregated like bench.py's render probe; returns seconds and
    rendered COPY bytes in all."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.normalize import copy_lines
    from parquet_to_sql_spark.sources.parquet import ParquetSource

    secs, total_bytes, per_table = 0.0, 0, {}
    for name in tables:
        df = ParquetSource(h.spark, os.path.join(h.data_dir, f"{name}.parquet")).load()
        with h.tr.span("normalize.render", table=name):
            t0 = time.monotonic()
            n, b = copy_lines(df.hint("rebalance")).agg(
                F.count(F.lit(1)), F.sum(F.length("line"))).collect()[0]
            secs += time.monotonic() - t0
        per_table[name] = int(b or 0) + int(n)  # one newline per line
        total_bytes += per_table[name]
    return {"render_s": secs, "render_bytes": total_bytes, "per_table": per_table}


def kernel_probe(h, docs_df, n_docs: int) -> dict[str, float]:
    """Each public hashkernel function over the corpus into a noop
    sink; the second of two runs is timed (the first starts workers)."""
    from parquet_to_sql_spark.operators import hashkernel

    out = {}
    for fn_name in KERNELS:
        fn = getattr(hashkernel, fn_name)
        for attempt in range(2):
            with h.tr.span(f"operators.{fn_name}", attempt=attempt):
                t0 = time.monotonic()
                fn(docs_df, "doc_id", "text").write.format("noop").mode("overwrite").save()
                dt = time.monotonic() - t0
        out[fn_name] = dt / (n_docs / 1000.0)
    return out

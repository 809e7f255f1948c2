"""COPY throughput against a LIVE PostgreSQL — the reference's own
headline claim measured end-to-end (parquet scan -> JVM-side COPY text
rendering -> parallel COPY FROM STDIN over the stdlib wire client).

Boots a throwaway cluster (unix socket, runs as the unprivileged
`postgres` user), loads lineitem at $SPARK_GRAFT_SF_DIR (default
sf0.1, 600k rows x 11 cols), and reports rows/s for:
  * copy_parallel — one writer per partition (the engine's shape)
  * copy_1writer  — a single writer, the closest analogue to the
    reference's sequential PHP loop (ParquetImporter.php:56-71)

Usage:  python scripts/bench_copy_pg.py
$SPARK_GRAFT_CPUS sets the Spark cores and the parallel writer count
(default: the CPUs this process may run on).
Prints one JSON line; exits non-zero if the server can't be booted.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile
import time


def _as_pg(*argv: str) -> None:
    subprocess.run(
        ["runuser", "-u", "postgres", "--", *argv], check=True, capture_output=True
    )


def main() -> int:
    if not (shutil.which("initdb") and shutil.which("runuser")):
        print(json.dumps({"error": "no postgres server in environment"}))
        return 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    from pyspark.sql import SparkSession

    from parquet_to_sql_spark.session import local_cpus
    from parquet_to_sql_spark.sinks import pg_wire
    from parquet_to_sql_spark.sinks.copy_pg import CopySink
    from parquet_to_sql_spark.sinks.ddl import create_table_sql

    cpus = local_cpus()

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench-copy-pg")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    base = pathlib.Path(tempfile.mkdtemp(prefix="pgbench_"))
    (base / "data").mkdir()
    (base / "sock").mkdir()
    subprocess.run(["chown", "-R", "postgres", str(base)], check=True)
    base.chmod(0o711)
    _as_pg("initdb", "-D", str(base / "data"), "-U", "postgres",
           "--auth=trust", "-E", "UTF8")
    # bulk-load-friendly server knobs (still durable-by-default WAL)
    _as_pg(
        "pg_ctl", "-D", str(base / "data"), "-w", "-l", str(base / "log"), "-o",
        f"-c listen_addresses='' -k {base / 'sock'} "
        "-c max_connections=64 -c shared_buffers=1GB -c max_wal_size=4GB",
        "start",
    )
    dsn = f"host={base / 'sock'} port=5432 user=postgres dbname=postgres"
    try:
        df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        n = df.count()
        # warm the JVM (scan + render codegen) so neither timed run
        # pays one-time compile cost
        from parquet_to_sql_spark.normalize import copy_lines

        copy_lines(df).count()
        results: dict[str, float] = {}
        # copy_parallel really is one writer PER PARTITION: with 32
        # shuffle partitions, 8 writers under-parallelized the sink
        # (r6 A/B: 8w 150k, 16w 163k, 32w 202k rows/s) — writers
        # follow the partition count
        for label, writers in (("copy_1writer", 1), ("copy_parallel", cpus)):
            conn = pg_wire.connect(dsn)
            cur = conn.cursor()
            cur.execute("DROP TABLE IF EXISTS lineitem_bench")
            cur.execute(create_table_sql("lineitem_bench", df.schema))
            conn.commit()
            conn.close()
            t0 = time.monotonic()
            # one writer per partition: spread the raw rows over
            # `writers` partitions, and the render runs after it
            written = CopySink(dsn).write(df.repartition(writers), "lineitem_bench")
            dt = time.monotonic() - t0
            assert written == n, (written, n)
            results[label] = dt
        check = pg_wire.connect(dsn)
        cur = check.cursor()
        cur.execute("SELECT count(*) FROM lineitem_bench")
        assert cur.fetchone() == (str(n),)
        check.close()
        print(
            json.dumps(
                {
                    "metric": "pg_copy_rows_per_sec",
                    "value": round(n / results["copy_parallel"]),
                    "unit": "rows/sec",
                    "rows": n,
                    "sf_dir": sf_dir,
                    "copy_parallel_sec": round(results["copy_parallel"], 3),
                    "copy_1writer_sec": round(results["copy_1writer"], 3),
                    "speedup_parallel_vs_1writer": round(
                        results["copy_1writer"] / results["copy_parallel"], 2
                    ),
                }
            )
        )
        return 0
    finally:
        _as_pg("pg_ctl", "-D", str(base / "data"), "-m", "immediate", "stop")
        spark.stop()
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())

"""Per-stage profiler for headline queries (optimization rounds).

Runs named queries (or the full headline set) on a UI-ENABLED session
and, for each, prints wall time plus the per-stage breakdown pulled
from the Spark UI REST API: executor run time, shuffle read/write
bytes, input bytes, task count — the guide-§1 empirical loop without
needing a browser.  The timed action is the noop sink (guide §1.4) so
computation, not collect/toPandas, is what's measured.

Usage:
    python scripts/profile_query.py dedup_minhash_production_audit ...
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _api(port: int, path: str):
    with urllib.request.urlopen(f"http://localhost:{port}/api/v1/{path}") as r:
        return json.loads(r.read())


def main(names: list[str]) -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import SparkSession

    from parquet_to_sql_spark.session import RUNTIME_CONFS, local_cpus

    cpus = local_cpus()

    builder = (
        SparkSession.builder.appName("profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4050")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.cleaner.periodicGC.interval", "30s")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])
    app_id = spark.sparkContext.applicationId

    from parquet_to_sql_spark.queries.registry import all_queries

    qs = all_queries()
    todo = names or [n for n, q in sorted(qs.items()) if q.headline]

    for name in todo:
        build = qs[name].build
        # warmup (codegen/JIT) then timed run, caches cleared between
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()

        jobs_before = {j["jobId"] for j in _api(port, f"applications/{app_id}/jobs")}
        spark.sparkContext.setJobDescription(f"timed:{name}")
        t0 = time.monotonic()
        df = build(spark, sf_dir)
        t_build = time.monotonic() - t0
        df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)

        jobs = [
            j
            for j in _api(port, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = {
            s["stageId"]: s
            for s in _api(port, f"applications/{app_id}/stages?status=complete")
        }
        print(f"\n=== {name}: wall {wall:.3f}s (plan build+analysis {t_build:.3f}s, "
              f"{len(jobs)} jobs, {len(stage_ids)} stages)")
        for sid in stage_ids:
            s = stages.get(sid)
            if not s:
                continue
            dur = (s.get("executorRunTime", 0)) / 1000.0
            cpu = (s.get("executorCpuTime", 0)) / 1e9
            print(
                f"  stage {sid:4d} tasks={s['numCompleteTasks']:3d} "
                f"runTime={dur:8.2f}s cpu={cpu:8.2f}s "
                f"in={s.get('inputBytes', 0)/1e6:8.1f}MB "
                f"sh_r={s.get('shuffleReadBytes', 0)/1e6:7.1f}MB "
                f"sh_w={s.get('shuffleWriteBytes', 0)/1e6:7.1f}MB  "
                f"{s.get('name', '')[:70]}"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

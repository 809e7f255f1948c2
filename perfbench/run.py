#!/usr/bin/env python3
"""Layer-attributed benchmark of parquet_to_sql_spark.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 12 --trace 0

Workloads: ``sql_analytics``, ``llm_corpus_10x``, ``import_copy``
(see NOTES.md).  One client thread drives the package through its
public entry points in a closed loop: each op starts when the previous
one has returned, and ``spark.catalog.clearCache()`` runs between ops.
Inputs are generated from ``--seed`` into ``.perfbench_work/`` at the
root of the checkout, the only place the benchmark writes.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run
records spans, Spark job-group counters and per-process CPU, runs the
``normalize`` and ``operators`` probes after the timed window, and the
metrics are the per-layer ones.  Full detail (every op, every span)
goes to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
from stats import median, tail  # noqa: E402
from tracing import (  # noqa: E402
    CLASSES, ProcTree, Tracer, coverage, cpu_delta, group_counts, layer_summary,
    self_times,
)
from workloads import (  # noqa: E402
    KERNELS, WORKLOADS, OracleCache, kernel_probe, render_probe,
)

SETUP_REPEATS = 3  # catalog registration / DDL are repeated; the median counts


class Harness:
    """Run-wide state the workloads share: seed, directories, the
    Spark session, the tracer and the process-tree sampler."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work_dir = os.path.join(ROOT, ".perfbench_work")
        self.run_dir = os.path.join(self.work_dir, f"run-{os.getpid()}")
        self.data_dir = os.path.join(self.run_dir, "data")
        self.tr = Tracer(self.traced)
        self.proc = ProcTree(os.getpid())
        self.oracles = OracleCache(os.path.join(self.work_dir, "oracle_cache.json"))
        self.spark = None
        self.group: str | None = None
        self.build_jobs: set[int] = set()

    def mark_build_done(self, op_id) -> None:
        """Record the Spark jobs an op's build() started (eager
        checkpoints); traced timed ops only."""
        if self.group is not None and op_id is not None:
            st = self.spark.sparkContext.statusTracker()
            self.build_jobs = set(st.getJobIdsForGroup(self.group))


def configure_env(h: Harness) -> None:
    """Point every temp and scratch location of Python, Spark and the
    JVM into the run directory; settings a user would make anyway
    (cores, driver memory, timezone, worker import path) follow the
    package's docs."""
    tmp = os.path.join(h.run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(h.data_dir, exist_ok=True)
    env = os.environ
    env["TZ"] = "UTC"
    time.tzset()
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # With the package's 8g default G1 grew the heap to 3-5 GB,
    # differently in every run (peak RSS quartile spread 0.26 over 10
    # runs on 4 cores); a 2g heap holds every input the benchmark makes
    # and keeps the footprint small on a shared host (spread 0.11).
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(h.run_dir, "spark-local")
    env["SPARK_GRAFT_WAREHOUSE"] = os.path.join(h.run_dir, "warehouse")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def run_op_timed(h: Harness, wl, name: str, op_id: int, pass_no: int) -> dict:
    """One closed-loop op: the timed call, then (untimed) cache clear,
    counters and the output check."""
    sc = h.spark.sparkContext
    traced = h.traced
    rec: dict = {"op_id": op_id, "op": name, "pass": pass_no}
    if traced:
        h.group = f"perfbench-op-{op_id}"
        sc.setJobGroup(h.group, name)
        h.build_jobs = set()
        before = wl.op_begin()
        cpu0 = h.proc.sample()
    result, err = None, None
    t0 = time.monotonic()
    try:
        with h.tr.span("op", op_id=op_id, op=name):
            result = wl.run_op(name, op_id, h.tr)
    except Exception:  # a failing op is a result, not a crash
        err = traceback.format_exc()
    rec["wall_s"] = time.monotonic() - t0
    h.spark.catalog.clearCache()
    if traced:
        rec["cpu"] = cpu_delta(cpu0, h.proc.sample())
        rec.update(group_counts(sc, h.group, skip_jobs=h.build_jobs),
                   build_jobs=len(h.build_jobs))
        h.group = None
        if err is None:
            rec.update(wl.op_end(name, before))
    if err is None:
        try:
            rec["ok"], rec["rows"] = wl.check(name, result)
        except Exception:
            err = traceback.format_exc()
    if err is not None:
        rec["ok"], rec["rows"], rec["error"] = False, 0, err.strip().splitlines()[-1]
        print(f"op {name} failed:\n{err}", file=sys.stderr)
    return rec


def warm_up(h: Harness, wl) -> list[dict]:
    """Every op once on as many client threads as cores (JIT and code
    generation of every plan at once), then one sequential pass like
    the timed ones, so the window starts from a steady session.  Every
    result is checked; identity-checked queries take their reference
    from here."""
    quiet = Tracer(False)
    names = wl.ops()

    def one(name):
        try:
            return name, None, wl.run_op(name, None, quiet)
        except Exception:
            return name, traceback.format_exc(), None

    with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as ex:
        done = list(ex.map(one, names))
    h.spark.catalog.clearCache()
    for name in gen.op_order(names, h.seed, -1):
        done.append(one(name))
        h.spark.catalog.clearCache()
    out = []
    for name, err, result in done:
        ok = False
        if err is None:
            try:
                ok, _ = wl.check(name, result)
            except Exception:
                err = traceback.format_exc()
        if err:
            print(f"warm-up op {name} failed:\n{err}", file=sys.stderr)
        out.append({"op": name, "ok": ok})
    return out


def run(h: Harness, wl) -> tuple[dict, dict]:
    tr = h.tr
    from parquet_to_sql_spark.session import get_spark

    with tr.span("harness.prepare"):
        wl.prepare()
    h.proc.start_sampler()

    # ---- program set-up: everything a user pays before the first op
    setup = {}
    with tr.span("setup"):
        with tr.span("session.get_spark"):
            t0 = time.monotonic()
            h.spark = get_spark(app_name=f"perfbench-{wl.name}")
            setup["get_spark_s"] = time.monotonic() - t0
        reg = []
        for _ in range(SETUP_REPEATS):
            with tr.span("catalog.register"):
                t0 = time.monotonic()
                wl.register()
                reg.append(time.monotonic() - t0)
        setup["register_s"] = median(reg)
        t0 = time.monotonic()
        wl.setup()
        setup["prepare_s"] = time.monotonic() - t0
        with tr.span("setup.warmup"):
            t0 = time.monotonic()
            warm = warm_up(h, wl)
            setup["warmup_s"] = time.monotonic() - t0
    setup_s = sum(setup.values())
    rss_after_setup = h.proc.peak_rss

    # ---- timed window: whole passes until --seconds of op time, and
    # at least the passes the tail percentile is taken over
    names = wl.ops()
    records: list[dict] = []
    cpu0 = h.proc.sample()
    win0 = time.monotonic()
    busy, pass_no = 0.0, 0
    with tr.span("window"):
        while busy < h.seconds or pass_no < wl.tail_passes:
            with tr.span("pass", pass_no=pass_no):
                for name in gen.op_order(names, h.seed, pass_no):
                    rec = run_op_timed(h, wl, name, len(records), pass_no)
                    records.append(rec)
                    busy += rec["wall_s"]
            pass_no += 1
    window_wall = time.monotonic() - win0
    cpu = cpu_delta(cpu0, h.proc.sample())

    probes = {}
    if h.traced:
        with tr.span("probes"):
            probes["render"] = render_probe(h, wl.probe_tables())
            probes["kernels"] = kernel_probe(h, *wl.probe_corpus())

    # The host's speed drifts by 20-30% from one ten-second stretch to
    # the next, whole passes at a time.  Each op's best pass is its
    # latency on the undisturbed host, so throughput and median use
    # that; the tail keeps every sample.
    best: dict[str, dict] = {}
    for r in records:
        if r["ok"] and (r["op"] not in best or r["wall_s"] < best[r["op"]]["wall_s"]):
            best[r["op"]] = r  # failed ops count in ok_op_share, not here
    if not best:
        raise RuntimeError(f"no {wl.name} op produced a correct result; nothing to measure")
    best_s = sum(r["wall_s"] for r in best.values())
    # A fixed sample (the first tail_passes passes) keeps the tail at
    # the same percentile whatever the window's length.
    tail_pct, tail_s = tail([r["wall_s"] for r in records if r["pass"] < wl.tail_passes])
    n_ok = sum(r["ok"] for r in records)
    ops_per_s = len(best) / best_s
    metrics = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "op_p50_s": (median([r["wall_s"] for r in best.values()]), "s"),
        "op_tail_s": (tail_s, "s"),
        "rows_per_s": (sum(r["rows"] for r in best.values()) / best_s, "rows/s"),
        "ok_op_share": (n_ok / len(records), "share"),
        "peak_rss_mb": (h.proc.peak_rss / 2**20, "MB"),
    }
    detail = {
        "workload": wl.name, "seed": h.seed, "seconds": h.seconds, "traced": h.traced,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "setup": setup, "warmup": warm, "passes": pass_no,
        "ops": len(records), "op_busy_s": busy, "window_wall_s": window_wall,
        "op_tail_pct": tail_pct, "window_cpu_s": cpu,
        "peak_rss_mb_by_class": {k: v / 2**20 for k, v in h.proc.peak_rss_by_class.items()},
        "peak_rss_mb_setup": rss_after_setup / 2**20,
        "harness_s": time.monotonic() - PROCESS_START - window_wall - setup_s,
        "records": records,
    }
    if h.traced:
        metrics = layer_metrics(h, wl, records, setup, cpu, ops_per_s, window_wall, probes)
        detail["probes"] = probes
        detail["layers"] = layer_summary(tr.spans)
        detail["spans"] = tr.to_json()
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    result = {
        "correct": n_ok == len(records) and all(w["ok"] for w in warm),
        "attempted": len(records),
        "failed": len(records) - n_ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def layer_metrics(h, wl, records, setup, cpu, ops_per_s, window_wall, probes) -> dict:
    """Per-layer metrics of a traced run; 0 where the workload does
    not exercise the layer."""
    n = len(records)
    spans = h.tr.spans
    st = self_times(spans)
    per_op_span = {}
    for s in spans:
        if s.op_id is not None and s.name != "op":
            per_op_span[s.name] = per_op_span.get(s.name, 0.0) + st[s.span_id]

    def span_total(name):
        return sum(s.dur for s in spans if s.name == name)

    def mean(key):
        return sum(r.get(key, 0) for r in records) / n

    tasks = sum(r.get("tasks", 0) for r in records)
    failed_tasks = sum(r.get("failed_tasks", 0) for r in records)
    copy_bytes = probes["render"]["per_table"]
    imported = [r for r in records if "txns" in r]
    written = sum(copy_bytes.get(r["op"], 0) for r in imported if r["ok"])
    rendered_rows = sum(wl.rows.get(r["op"], 0) for r in imported) if imported else 0
    committed = sum(r["rows"] for r in imported if r["ok"])
    m = {
        "session.get_spark_s": (setup["get_spark_s"], "s"),
        "catalog.register_s": (setup["register_s"], "s"),
        "plans.materialize_bucketed_s": (span_total("plans.materialize_bucketed"), "s"),
        "setup.warmup_s": (setup["warmup_s"], "s"),
        "queries.build_s": (per_op_span.get("queries.build", 0.0) / n, "s/op"),
        "queries.build_jobs": (mean("build_jobs"), "jobs/op"),
        "exec.collect_s": (per_op_span.get("exec.collect", 0.0) / n, "s/op"),
        "exec.jobs": (mean("jobs"), "jobs/op"),
        "exec.stages": (mean("stages"), "stages/op"),
        "exec.tasks": (mean("tasks"), "tasks/op"),
        "exec.task_success_ratio": (tasks / (tasks + failed_tasks) if tasks else 0.0, "share"),
    }
    for fn in KERNELS:
        m[f"operators.{fn}.s_per_kdoc"] = (probes["kernels"][fn], "s/kdoc")
    m["normalize.render_s"] = (probes["render"]["render_s"], "s")
    m["normalize.render_bytes"] = (probes["render"]["render_bytes"], "bytes")
    m["sinks.write_s"] = (per_op_span.get("sinks.write", 0.0) / n, "s/op")
    m["sinks.writers"] = (mean("writers"), "conns/op")
    m["sinks.copy_txns"] = (mean("txns"), "txns/op")
    m["sinks.commit_ratio"] = (committed / rendered_rows if rendered_rows else 0.0, "share")
    m["pg.wal_bytes_per_copy_byte"] = (
        sum(r["wal_bytes"] for r in imported if r["ok"]) / written if written else 0.0, "ratio")
    m["pg.stored_bytes_per_copy_byte"] = (
        sum(r.get("stored_bytes", 0) for r in imported) / written if written else 0.0, "ratio")
    for cls in CLASSES:
        m[f"cpu.{cls}_s"] = (cpu[cls] / n, "s/op")
    m["cpu.util"] = (sum(cpu.values()) / (window_wall * len(os.sched_getaffinity(0))), "share")
    m["trace.coverage"] = (coverage(spans), "share")
    m["trace.ops_per_s"] = (ops_per_s, "1/s")  # as ops_per_s, for the tracing overhead
    return m


def stop_spark(h: Harness) -> None:
    """Stop the session and the JVM, and wait until the JVM and its
    Python workers have exited."""
    from pyspark import SparkContext

    if h.spark is not None:
        h.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def reap_children(timeout_s: float = 20.0) -> None:
    """Wait for every remaining descendant process; kill stragglers."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        _, children = ProcTree(me).walk()
        left = [p for p in ProcTree.descendants(me, children) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="op time to measure; the window ends at the next pass boundary")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    import parquet_to_sql_spark  # noqa: F401  (the program under test must be present)

    # A terminated run still stops its JVM and server and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    h = Harness(args)
    configure_env(h)

    wl = WORKLOADS[args.workload](h)
    try:
        result, detail = run(h, wl)
    finally:
        h.proc.stop_sampler()
        try:
            stop_spark(h)
        finally:
            wl.teardown()
            reap_children()
            shutil.rmtree(h.run_dir, ignore_errors=True)
    out_dir = os.path.join(h.work_dir, "results")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{wl.name}-seed{h.seed}-trace{int(h.traced)}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(f"detail: {os.path.relpath(out, ROOT)}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Scale evidence: two sweeps over one timing loop (warm once, then
median of timed reps, caches cleared after every run).

``sf`` — the scale-factor sweep.  Runs the headline queries (or the
names matching the given substrings) at sf0.001 / sf0.01 / sf0.1 (10x
data per step), timing ``.collect()`` as bench.py does, and reports
each query's runtime growth on the top step: the measured complement
to the static plan audit.  A sf0.01 -> sf0.1 ratio above FLAG_RATIO
(linear is ~10; 20 leaves 2x headroom for shuffle constants and host
noise) is super-linear growth: a plan regression the static gate
cannot see, or fixed costs no longer dominating.  ``--write`` merges
the swept rows into SCALING.json and keeps every other row.  Exit
code 1 if any swept query is super-linear or errored at any scale.

``cores`` — the core-count sweep.  The sf0.1 bench cannot show
parallel scaling (fixed costs dominate; SCALING.json ratios sit near
1), so this times the heaviest dedup headline queries on a 10x corpus
at each core count (default 1, 2 and session.local_cpus()) through the
``noop`` sink and records each count's ratio to the largest.

The 10x corpus ("sf1-equivalent") is a pure deterministic function of
the read-only sf0.1 fixture: 10 vocabulary-disjoint shards, each
isomorphic to the sf0.1 documents corpus — shard c > 0 suffixes every
whitespace token with the shard digit (disjoint 31-bit hash spaces up
to negligible collisions) and offsets doc ids by c * N.  Per-document
statistics, near-dup cluster sizes and graph density per cluster are
PRESERVED; the number of clusters grows 10x, so total work scales
linearly — the honest "same corpus family, more of it" construction
(inflating cluster sizes instead would change the workload's
complexity class, not its scale).  The corpus parquet is (re)written
into a scratch dir on every run, and every timed run computes from it
through the registered query builders the bench uses.

Usage:
    python scripts/scale_evidence.py sf [NAME-SUBSTR ...] [--write]
    python scripts/scale_evidence.py cores [--cores 1 2 4] [--reps 3]
        [--shards 10] [--queries NAME ...] [--out SCALE_EVIDENCE_r14.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from parquet_to_sql_spark.session import get_spark, local_cpus  # noqa: E402

SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
}
FLAG_RATIO = 20.0  # top-step growth for 10x data; linear ~10
REPS = 3
SCALING = os.path.join(HERE, "SCALING.json")

QUERIES = (
    "dedup_minhash_dedup_apply",
    "dedup_minhash_production_audit",
    "dedup_ngram_jaccard_hashed",
    "dedup_graph_triangles",
    "dedup_span_excision_apply",
    "dedup_repeated_spans",
)
SHARDS = 10
SRC = "/root/testdata/sf0.1/documents.parquet"
SCRATCH = "/tmp/spark_graft_sf1_equiv"


def timed(spark, build, sf_dir: str, reps: int, run) -> list[float]:
    """Warm once, then ``reps`` timed ``run(build(spark, sf_dir))``."""
    xs = []
    for rep in range(reps + 1):
        t0 = time.monotonic()
        run(build(spark, sf_dir))
        if rep:
            xs.append(round(time.monotonic() - t0, 3))
        spark.catalog.clearCache()
    return xs


def merge_scaling(old: dict | None, rows: dict) -> dict:
    """SCALING.json content with ``rows`` swept in: a swept name's row
    is replaced, every other row is kept."""
    queries = {**(old or {}).get("queries", {}), **rows}
    return {"flag_ratio": FLAG_RATIO, "reps": REPS, "queries": dict(sorted(queries.items()))}


def sf_sweep(patterns: list[str], write: bool) -> int:
    from parquet_to_sql_spark.queries.registry import all_queries

    spark = get_spark()
    qs = all_queries()
    names = [
        n for n, q in sorted(qs.items())
        if (any(p in n for p in patterns) if patterns else q.headline)
    ]
    report: dict[str, dict] = {}
    flagged: list[str] = []
    for n in names:
        row: dict[str, float] = {}
        for sf, d in SF_DIRS.items():
            try:
                xs = timed(spark, qs[n].build, d, REPS, lambda df: df.collect())
                row[sf] = round(statistics.median(xs), 3)
            except Exception as exc:
                print(f"{n:38s} ERROR at sf{sf}: {type(exc).__name__}")
                row[sf] = -1.0
        ratio = round(row["0.1"] / row["0.01"], 2) if min(row.values()) > 0 else -1.0
        row["top_step_ratio"] = ratio
        report[n] = row
        flag = ""
        if ratio > FLAG_RATIO:
            flag = f" SUPER-LINEAR ({ratio}x for 10x data)!"
            flagged.append(n)
        elif ratio <= 0:
            # a query that ERRORS at any scale factor is the most
            # broken a scale gate can see — never a pass
            flag = " ERRORED!"
            flagged.append(n)
        print(
            f"{n:38s} {row['0.001']:7.3f} {row['0.01']:7.3f} "
            f"{row['0.1']:7.3f}  x{ratio}{flag}"
        )
    spark.stop()
    if write:
        old = None
        if os.path.exists(SCALING):
            with open(SCALING) as f:
                old = json.load(f)
        with open(SCALING, "w") as f:
            json.dump(merge_scaling(old, report), f, indent=1)
            f.write("\n")
        print(f"wrote {SCALING}")
    if flagged:
        print(f"\nSUPER-LINEAR growth past the flag threshold: {flagged}")
        return 1
    return 0


def build_corpus(shards: int = SHARDS) -> str:
    """Write the ``shards``x corpus parquet; returns its directory."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(SRC, columns=["doc_id", "text", "lang", "source"])
    n = t.num_rows
    parts = []
    for c in range(shards):
        # shard c > 0 suffixes every token with the shard digit: same
        # token count, same near-dup structure, disjoint hash space
        text = [
            s if c == 0 else " ".join(w + str(c) for w in s.split(" "))
            for s in t["text"].to_pylist()
        ]
        parts.append(
            pa.table({
                "doc_id": pc.add(t["doc_id"].cast(pa.int64()), c * n),
                "text": pa.array(text, pa.string()),
                "lang": t["lang"].cast(pa.string()),
                "source": t["source"].cast(pa.string()),
                "n_chars": pa.array(map(len, text), pa.int64()),
            })
        )
    os.makedirs(SCRATCH, exist_ok=True)
    pq.write_table(pa.concat_tables(parts), os.path.join(SCRATCH, "documents.parquet"))
    return SCRATCH


def core_sweep(cores: list[int], reps: int, shards: int, queries: list[str], out: str) -> int:
    import pyarrow.parquet as pq

    from parquet_to_sql_spark.queries.registry import all_queries

    print(f"building {shards}x corpus ...")
    corpus = build_corpus(shards)
    loadavg = [round(x, 2) for x in os.getloadavg()]
    qs = all_queries()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    res: dict[int, dict] = {}
    for c in cores:
        print(f"running at {c} cores ...")
        spark = get_spark(
            app_name=f"scale-evidence-{c}", master=f"local[{c}]", shuffle_partitions=max(c, 8)
        )
        res[c] = {}
        for name in queries:
            xs = timed(spark, qs[name].build, corpus, reps, noop)
            med = statistics.median(xs)
            res[c][name] = {"median": round(med, 3), "min": min(xs), "samples": xs}
            print(f"  [{c} cores] {name}: median {med:.3f}s {xs}")
        spark.stop()
    top = max(cores)
    artifact = {
        "what": (
            "heavy dedup headline queries on the deterministic "
            f"{shards}x ({shards} vocabulary-disjoint shards) expansion of the "
            f"sf0.1 documents corpus, {' vs '.join(map(str, sorted(cores)))} cores, "
            f"noop sink, {reps}-rep medians after warmup"
        ),
        "corpus": {
            "docs": shards * pq.read_metadata(SRC).num_rows, "shards": shards,
            "construction": f"scripts/scale_evidence.py build_corpus (pure function of {SRC})",
        },
        "loadavg_start": loadavg,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        **{f"cores{c}": res[c] for c in cores},
        **{
            f"speedup_{c}c_over_{top}c": {
                name: round(res[c][name]["median"] / res[top][name]["median"], 2)
                for name in queries
            }
            for c in cores if c != top
        },
    }
    with open(os.path.join(HERE, out), "w") as f:
        json.dump(artifact, f, indent=2)
    print(json.dumps({k: v for k, v in artifact.items() if k.startswith("speedup_")}, indent=2))
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="scale-factor and core-count sweeps")
    sub = ap.add_subparsers(dest="sweep", required=True)
    sf = sub.add_parser("sf", help="sf0.001 / sf0.01 / sf0.1 sweep (SCALING.json)")
    sf.add_argument("patterns", nargs="*", help="query-name substrings (default: headline)")
    sf.add_argument("--write", action="store_true", help="merge the rows into SCALING.json")
    cs = sub.add_parser("cores", help="core-count sweep on the 10x corpus")
    cs.add_argument("--cores", type=int, nargs="+")
    cs.add_argument("--reps", type=int, default=3)
    cs.add_argument("--shards", type=int, default=SHARDS)
    cs.add_argument("--queries", nargs="+", default=list(QUERIES))
    cs.add_argument("--out", default="SCALE_EVIDENCE_r14.json")
    args = ap.parse_args(argv)
    if args.sweep == "sf":
        return sf_sweep(args.patterns, args.write)
    cores = args.cores or sorted({1, 2, local_cpus()})
    return core_sweep(cores, args.reps, args.shards, args.queries, args.out)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

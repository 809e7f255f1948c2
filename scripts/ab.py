"""One-session A/B of registry queries: an "old" and a "new" variant of
each named query, run interleaved in one Spark session so host load
hits both sides alike.

"new" is the query as this tree builds it.  "old" is the same build
with ``--patch MODULE.ATTR=EXPR`` applied: MODULE.ATTR is set to
``eval(EXPR)`` only while the old variant builds, then restored.
Without ``--patch`` both variants are this tree's query (an A/A run,
which shows the host's noise).

For each name both variants are collected and must give the same rows
(as a multiset), else the run fails.  Both are then warmed through the
``noop`` sink and timed over ``--reps`` interleaved noop writes, with
``clearCache`` after every run.  One JSON object is printed, the shape
of ``plans/r14/AB_*.json``:
``{name: {old: {median, min, samples}, new: {...},
identical_output: true}, loadavg: [1, 5, 15 min]}``.

Usage:
    python scripts/ab.py NAME [NAME ...] [--reps 7] [--patch MODULE.ATTR=EXPR]
e.g.
    python scripts/ab.py dedup_segment_blocks \\
        --patch 'parquet_to_sql_spark.operators.text.rebalance_for_compute=lambda df: df'
$SPARK_GRAFT_SF_DIR picks the fixture (default sf0.1) and
$SPARK_GRAFT_CPUS the cores, as in bench.py.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import statistics
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextlib.contextmanager
def patched(spec: str | None):
    """Set MODULE.ATTR to eval(EXPR) for the ``with`` body; None is a no-op."""
    if spec is None:
        yield
        return
    target, expr = spec.split("=", 1)
    module, attr = target.strip().rsplit(".", 1)
    mod = importlib.import_module(module)
    saved = getattr(mod, attr)
    setattr(mod, attr, eval(expr))
    try:
        yield
    finally:
        setattr(mod, attr, saved)


def compare(spark, variants: dict, reps: int) -> dict:
    """``variants`` maps a name to {"old": build, "new": build}, each
    build a no-argument callable returning a DataFrame.  Returns the
    ``AB_*.json`` dict; raises AssertionError if the variants' rows
    differ."""
    out: dict = {}
    for name, builds in variants.items():
        rows = {
            v: Counter(tuple(map(str, r)) for r in build().collect())
            for v, build in builds.items()
        }
        spark.catalog.clearCache()
        if rows["old"] != rows["new"]:
            diff = (rows["old"] - rows["new"]) + (rows["new"] - rows["old"])
            raise AssertionError(f"{name}: variants disagree ({sum(diff.values())} rows)")
        samples: dict[str, list[float]] = {v: [] for v in builds}
        for rep in range(reps + 1):  # rep 0 is the warm-up of both
            for v, build in builds.items():
                t0 = time.monotonic()
                build().write.format("noop").mode("overwrite").save()
                if rep:
                    samples[v].append(round(time.monotonic() - t0, 3))
                spark.catalog.clearCache()
        out[name] = {
            v: {"median": round(statistics.median(xs), 3), "min": min(xs), "samples": xs}
            for v, xs in samples.items()
        }
        out[name]["identical_output"] = True
    out["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="interleaved old/new A/B of registry queries")
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--patch", help="MODULE.ATTR=EXPR, applied while the old variant builds")
    args = ap.parse_args(argv)

    from parquet_to_sql_spark.catalog import DEFAULT_SF_DIR
    from parquet_to_sql_spark.queries.registry import all_queries
    from parquet_to_sql_spark.session import get_spark

    qs = all_queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        ap.error(f"unknown query names: {unknown}")
    spark = get_spark(app_name="ab")

    def variant(q, patch):
        def build():
            with patched(patch):
                return q.build(spark, DEFAULT_SF_DIR)

        return build

    variants = {
        n: {"old": variant(qs[n], args.patch), "new": variant(qs[n], None)}
        for n in args.names
    }
    print(json.dumps(compare(spark, variants, args.reps), indent=2))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

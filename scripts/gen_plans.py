"""Generate PLANS.md: the formatted physical plan of every headline
query at sf0.001, annotated with shuffle/broadcast/codegen counts —
the plan-review artifact for the 100 TB design audit.

With query names, write each named query's formatted plan to
``DIR/<name>_<S>.txt`` instead (the before/after dumps under plans/),
at the same sf0.001 and 8 shuffle partitions.

Both outputs mask the JVM-global ``[plan_id=N]`` counters as
``[plan_id=#]``, so two runs on the same tree write the same bytes.
``PLANS.md`` shows each plan's first 6,000 characters, cut at a whole
line and ended with ``... (N more lines)``.

Usage:
    python scripts/gen_plans.py                              # PLANS.md
    python scripts/gen_plans.py NAME ... --out DIR --suffix S
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_to_sql_spark.plans.bucketing import formatted_plan  # noqa: E402
from parquet_to_sql_spark.queries.registry import all_queries  # noqa: E402
from parquet_to_sql_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"
PLAN_CHARS = 6000  # longest plan text one PLANS.md section shows


def mask_plan_ids(plan: str) -> str:
    """``plan`` with every ``[plan_id=N]`` written ``[plan_id=#]``: the
    ids count plans across the whole JVM, so they differ run to run."""
    return re.sub(r"\[plan_id=\d+\]", "[plan_id=#]", plan)


def clip_plan(plan: str, limit: int = PLAN_CHARS) -> str:
    """``plan`` cut after the last whole line that fits in ``limit``
    characters, ending in ``... (N more lines)`` when lines were cut."""
    if len(plan) <= limit:
        return plan
    lines = plan.splitlines()
    kept, size = [], 0
    for line in lines:
        if size + len(line) > limit:
            break
        kept.append(line)
        size += len(line) + 1
    return "\n".join(kept + [f"... ({len(lines) - len(kept)} more lines)"])


def dump(spark, names: list[str], out_dir: str, suffix: str) -> None:
    qs = all_queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        plan = mask_plan_ids(formatted_plan(qs[name].build(spark, SF)))
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, len(plan))
        spark.catalog.clearCache()


def write_plans_md(spark) -> None:
    out = [
        "# Headline-query physical plans",
        "",
        f"Static plans (`explain formatted`) at `{SF}`, 8 shuffle partitions.",
        "AQE rewrites these at runtime (coalescing, broadcast conversion,",
        "skew splitting) — counts below are the static upper bound.",
        "Regenerated by `scripts/gen_plans.py`; do not edit.",
        "",
    ]
    for name, q in sorted(all_queries().items()):
        if not q.headline:
            continue
        plan = mask_plan_ids(formatted_plan(q.build(spark, SF)))
        shuffles = len(re.findall(r"^\(\d+\) Exchange\b", plan, flags=re.M))
        bcasts = len(re.findall(r"^\(\d+\) BroadcastExchange\b", plan, flags=re.M))
        pushed = bool(re.search(r"PushedFilters: \[[^\]]", plan))
        out += [
            f"## {name}",
            "",
            f"shuffle exchanges: **{shuffles}** · broadcast exchanges: **{bcasts}**"
            + (" · has pushed filters" if pushed else ""),
            "",
            "```",
            clip_plan(plan.strip()),
            "```",
            "",
        ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="write PLANS.md, or per-query plan dumps")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--out")
    ap.add_argument("--suffix")
    args = ap.parse_args(argv)
    if args.names and not (args.out and args.suffix):
        ap.error("query names need --out DIR and --suffix S")
    spark = get_spark(app_name="gen-plans", shuffle_partitions=8)
    if args.names:
        dump(spark, args.names, args.out, args.suffix)
    else:
        write_plans_md(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

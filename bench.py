"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  The LAST stdout line is one compact JSON
summary (the driver captures only the final ~2 KB of output —
VERDICT r07 #2: the r7 line with inline per-query spreads outgrew
that capture and truncated):
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: median_sec, ...}, "reps": N, "sf": 0.1,
   "loadavg_start": [...], "loadavg_end": [...],
   "control": {"median": s, "spread": [lo, hi]}}
Per-query [min, max] spreads and raw samples are printed as an
EARLIER detail line and written to BENCH_DETAIL.json alongside.

Noise adjudication (VERDICT r07 #3): `loadavg_*` records external
host load at run boundaries, and `control` times a data-independent
fixed computation (spark.range sum — pure JVM work, no scan, no
shuffle of interest, untouched by any operator change) with the same
rep discipline; a control spread drifting between rounds proves host
wave, not regression, from the artifact alone.

Methodology (BASELINE.md): warm SparkSession, one warmup execution of
EVERY headline query (so one-time JVM JIT / codegen compilation is
excluded — round 3 change; rounds 1-2 warmed only one query, so their
per-query numbers carry ~0.5-3.5 s of first-execution compiler cost),
then $SPARK_GRAFT_BENCH_REPS (default 5) timed cold-cache .collect()
passes per headline query (build + execute + materialize; caches
cleared between queries).  Per-query value = MEDIAN across reps
(round-4 change: single-shot numbers showed ±20-35% run-to-run noise
— the q1/q5 'regressions' flagged in VERDICT r03); per-query
[min, max] spread is reported alongside so noise is visible instead
of argued about.  An import-path throughput probe (COPY text
rendering of lineitem, the reference's core workload) is included as
`import_render_lineitem`.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_to_sql_spark.catalog import load_table  # noqa: E402
from parquet_to_sql_spark.normalize import copy_lines  # noqa: E402
from parquet_to_sql_spark.operators.gif import gif_decode, gif_encode  # noqa: E402
from parquet_to_sql_spark.operators.jpeg import (  # noqa: E402
    jpeg_decode,
    jpeg_encode,
    jpeg_encode_progressive,
)
from parquet_to_sql_spark.operators.png import png_decode, png_encode  # noqa: E402
from parquet_to_sql_spark.operators.vp8l import (  # noqa: E402
    vp8l_encode,
    webp_decode,
    webp_wrap_vp8l,
)
from parquet_to_sql_spark.queries.registry import all_queries  # noqa: E402
from parquet_to_sql_spark.session import get_spark  # noqa: E402


def import_render_lineitem(spark, sf_dir):
    """Import-path stand-in: render every lineitem row to COPY text
    (the reference's whole job, minus the Postgres socket).

    REBALANCE-hinted before rendering: the fixture is a single row
    group, so without it the whole render runs in ONE task.  Round 3
    measured the shuffle as strictly slower; re-measured round 4 with
    7 reps the parallel render wins in isolation (median 1.98 s
    serial vs ~1.4 s) and ties within noise inside the bench loop —
    and a rebalance before a COPY-shaped write is the shape you want
    anyway (bounds per-writer batch size).  The HINT (not an explicit
    repartition(n)) keeps it AQE-managed: coalesced or split to the
    advisory partition size at any input scale instead of pinning a
    local-fixture width."""
    return copy_lines(load_table(spark, sf_dir, "lineitem").hint("rebalance")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("line")).alias("total_bytes"),
    )


def _png(i, w, h):
    k = np.arange(w * h * 3, dtype=np.uint32)
    px = ((k * 7 + i * 31) % 256).astype(np.uint8).tobytes()
    return px, png_encode(w, h, px, 3, filter_type=i % 5)


def _gray(i, w, h):
    k = np.arange(w * h, dtype=np.uint32)
    return ((k // 64 * 11 + i * 31) % 256).astype(np.uint8).tobytes()


def _jpeg(i, w, h):
    px = _gray(i, w, h)
    return px, jpeg_encode(w, h, px, 1, quant=8)


def _jpeg_progressive(i, w, h):
    px = _gray(i, w, h)
    return px, jpeg_encode_progressive(w, h, px, 1, quant=8)


def _gif(i, w, h):
    pal = [bytes(((k * 7 + i) % 256, (k * 11) % 256, k)) for k in range(256)]
    k = np.arange(w * h, dtype=np.uint32)
    idx = ((k // 16 * 7 + (k * 131 + i * 31) % 8) % 256).astype(np.uint8).tobytes()
    return idx, gif_encode(w, h, idx, pal)


def _webp_lossless(i, w, h):
    k = np.arange(w * h * 4, dtype=np.uint32)
    px = ((k * 13 + i * 31) % 256).astype(np.uint8).tobytes()
    return px, webp_wrap_vp8l(vp8l_encode(w, h, px, transforms=("subtract_green",)))


def _exact(out, px, w, h):
    return out == px


def _same_len(out, px, w, h):
    return len(out) == len(px)


def _rgb_len(out, px, w, h):
    return len(out) == w * h * 3


# Decode-throughput probes: the media decoders are the only CPU-bound
# per-byte Python stages in the repo, so an unnoticed 10x regression
# would hide from the query-engine-shaped headliners.  Each row
# encodes + decodes n_img fixed w x h images inside mapInPandas (the
# gate queries' executor-side path) at sizes where codec throughput,
# not per-asset overhead, dominates; the work is independent of sf.
# Row: (n_img, w, h, make(i, w, h) -> (pixels, payload), decode, ok).
CODEC_PROBES = {
    # RGB, the filter type cycles over all five (~25 MB of pixels)
    "multimodal_png_decode_throughput": (512, 128, 128, _png, png_decode, _exact),
    # grayscale baseline; entropy decode is JPEG's ceiling (~2.3 MB)
    "multimodal_jpeg_decode_throughput": (256, 96, 96, _jpeg, jpeg_decode, _same_len),
    # 256-colour, blocky-plus-noise so the LZW table grows and clears
    # realistically (~12.5 MB of decoded RGB)
    "multimodal_gif_decode_throughput": (256, 128, 128, _gif, gif_decode, _rgb_len),
    # RGBA VP8L through the full container: up to four prefix symbols
    # per pixel, so its own (lower) MB/s (~2.1 MB)
    "multimodal_webp_lossless_decode_throughput": (
        128, 64, 64, _webp_lossless, webp_decode, _exact,
    ),
    # SOF2 with the default 6-scan grayscale script: several per-bit
    # passes over the coefficients, so its own (lower) MB/s
    "multimodal_jpeg_progressive_decode_throughput": (
        256, 96, 96, _jpeg_progressive, jpeg_decode, _same_len,
    ),
}


def codec_probe(n_img, w, h, make, decode, ok):
    """A bench builder that encodes + decodes images 0..n_img-1 and
    returns (n_ok, px_bytes)."""

    def enc_dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_ok = px_bytes = 0
            for i in pdf["id"]:
                px, payload = make(int(i), w, h)
                out = decode(payload)[3]
                n_ok += ok(out, px, w, h)
                px_bytes += len(out)
            yield pd.DataFrame({"ok": [n_ok], "px_bytes": [px_bytes]})

    def build(spark, sf_dir):
        return (
            spark.range(0, n_img, 1, 32)
            .mapInPandas(enc_dec, schema="ok long, px_bytes long")
            .agg(F.sum("ok").alias("n_ok"), F.sum("px_bytes").alias("px_bytes"))
        )

    return build


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # External-noise indicator: sampled BEFORE any Spark work, so it
    # reflects the host, not this benchmark's own 32-thread load
    # (sampling after warmup polluted the r8 closing run's value).
    loadavg_start = [round(x, 2) for x in os.getloadavg()]

    spark = get_spark(app_name="bench")
    headline = {n: q.build for n, q in sorted(all_queries().items()) if q.headline}
    headline["import_render_lineitem"] = import_render_lineitem
    headline.update({n: codec_probe(*row) for n, row in CODEC_PROBES.items()})

    # Layout twins: identical logical query over raw parquet vs tables
    # bucketed on the join key. Bucket materialization is load-time
    # work, so it happens here, OUTSIDE the timed loop.
    from parquet_to_sql_spark.plans.bucketing import (
        materialize_bucketed,
        order_revenue_join,
    )

    bucketed = materialize_bucketed(spark, sf_dir)
    headline["join_orderkey_shuffled"] = lambda s, d: order_revenue_join(
        load_table(s, d, "orders"), load_table(s, d, "lineitem")
    )
    headline["join_orderkey_bucketed"] = lambda s, d: order_revenue_join(
        s.table(bucketed["orders"]), s.table(bucketed["lineitem"])
    )

    # warmup: run EVERY headline query once — JVM JIT and whole-stage
    # codegen compilation are one-time session costs (measured ~3.5 s
    # for the higher-order-function-heavy dedup query alone) that a
    # long-lived cluster amortizes to zero; timing them measures the
    # compiler, not the plan.  Caches are cleared after each warmup so
    # the timed pass still pays every scan, shuffle, and fold.
    for build in headline.values():
        build(spark, sf_dir).collect()
        spark.catalog.clearCache()

    # Data-independent noise control: pure JVM range-sum, no table
    # scan, unaffected by any operator/plan change in this repo.
    # Timed with the same rep discipline so host waves show up in the
    # artifact itself.

    def control(s):
        return s.range(0, 1 << 24, 1, 32).agg(F.sum("id").alias("s"))

    control(spark).collect()  # warmup, same as the headliners

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    samples: dict[str, list[float]] = {n: [] for n in headline}
    control_samples: list[float] = []
    for _ in range(reps):
        t0 = time.monotonic()
        control(spark).collect()
        control_samples.append(time.monotonic() - t0)
        for name, build in headline.items():
            t0 = time.monotonic()
            build(spark, sf_dir).collect()
            samples[name].append(time.monotonic() - t0)
            # operators may cache intermediates (e.g. the dedup shingle
            # relation); release between queries so a long bench loop
            # doesn't accumulate executor memory
            spark.catalog.clearCache()
    loadavg_end = [round(x, 2) for x in os.getloadavg()]

    timings = {n: round(statistics.median(xs), 3) for n, xs in samples.items()}
    spread = {n: [round(min(xs), 3), round(max(xs), 3)] for n, xs in samples.items()}

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_queries_detail",
        "spread": spread,
        "samples": {n: [round(x, 3) for x in xs] for n, xs in samples.items()},
        "control_samples": [round(x, 3) for x in control_samples],
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "reps": reps,
        "sf": sf,
    }
    summary = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "sf": sf,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "control": {
            "median": round(statistics.median(control_samples), 3),
            "spread": [
                round(min(control_samples), 3),
                round(max(control_samples), 3),
            ],
        },
    }
    # Sidecar keeps the full detail queryable even if stdout scrolls.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=2)
    print(json.dumps(detail))
    # The summary MUST be the final line and stay well under the
    # driver's ~2 KB tail capture (currently ~1.3 KB at 29 queries).
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

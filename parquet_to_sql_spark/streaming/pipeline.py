"""Structured Streaming pipeline over the `events` table.

The reference has no streaming at all (SURVEY.md §2.B); this module
gives the engine the standard event-time toolkit:

  * file-source stream of events parquet (same ts normalization as
    the batch catalog — any micros-annotated file reads straight into
    a session-UTC TimestampType column)
  * watermarked tumbling / sliding / session window aggregations —
    identical window semantics to the batch queries in
    queries/events.py, which is what their DuckDB oracles pin down
  * dropDuplicatesWithinWatermark for streaming dedup
  * a custom stateful operator (running per-user totals) via
    applyInPandasWithState — the pattern for anything the built-in
    operators can't express
  * foreachBatch sink that reuses the batch Importer sinks, so a
    stream lands in a SQL table through the exact same COPY/INSERT
    path as a batch import

Scale posture: all aggregations are keyed on (window, type) or
user_id — state is bounded by watermark horizon × key cardinality;
file source scales by splitting input files across executors.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from parquet_to_sql_spark.session import apply_runtime_confs
from parquet_to_sql_spark.sources.parquet import read_parquet


def _probe_schema(spark: SparkSession, path: str, conf_text: str):
    """Batch footer-schema probe for a file-source stream (no data
    scan).  Returns None ONLY for the two genuinely-benign 'no input
    yet' conditions — missing path, or a directory with no readable
    files (Spark raises PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA) —
    which are normal for a stream started before its producer.  Every
    other failure (corrupt footer, permissions, ...) propagates, so a
    real error surfaces at declaration time instead of being masked by
    a silently-guessed schema."""
    from pyspark.errors import AnalysisException

    try:
        return read_parquet(spark, path, conf_text).schema
    except AnalysisException as exc:
        cond = exc.getCondition() or ""
        if cond in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def _events_schema(ts_sql_type: str) -> str:
    return (
        f"event_id long, ts {ts_sql_type}, user_id long, "
        "event_type string, value double, props string"
    )


def events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of events parquet files under `path`.

    The events fixture's `ts` has varied across driver rounds:
    TIMESTAMP(NANOS), TIMESTAMP(MICROS, NTZ), and Spark-written
    UTC-adjusted micros.  A streaming source needs a declared schema,
    so probe the footer with a zero-cost batch schema read (no data
    scan) and declare whatever shape is on disk, then normalize to the
    same session-UTC TimestampType as catalog.load_table:
      * nanos (+ nanosAsLong conf) surfaces as bigint -> truncate to
        micros, identical to the batch path;
      * micros NTZ -> cast to timestamp (session tz pinned UTC);
      * adjusted micros -> already TimestampType.
    Batch and streaming therefore agree on event time for every shape.
    """
    probed = _probe_schema(spark, path, apply_runtime_confs(spark))
    if probed is None:
        # no files yet: declare the current fixture shape and let the
        # stream idle until data lands
        ts_type = "timestamp"
    else:
        ts_type = dict((f.name, f.dataType.simpleString()) for f in probed.fields).get(
            "ts", "timestamp"
        )
    stream = spark.readStream.schema(_events_schema(ts_type)).parquet(path)
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def tumbling_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event type (streaming
    twin of the oracle-checked ev_tumbling_hourly)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr("CAST(value AS DECIMAL(12,2))")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(
    stream: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user (streaming twin of
    ev_session_windows)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming dedup: first event per key wins; state is purged once
    the watermark passes (bounded memory, unlike a global distinct)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
_STATE_SCHEMA = "n long, total double"


def _running_totals_fn(key, pdf_iter, state: GroupState):
    (user_id,) = key
    if state.exists:
        n, total = state.get
    else:
        n, total = 0, 0.0
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [total]})


def user_running_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: cumulative per-user event count and
    value, maintained across micro-batches via applyInPandasWithState
    (Arrow-batched; the escape hatch for semantics the built-in
    windowed aggregations can't express)."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=_RUNNING_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_EWMA_OUTPUT = "user_id long, n_events long, ewma_value double"
_EWMA_STATE = "n long, ewma double"
_EWMA_ALPHA = 0.25  # exact binary fraction — fold is IEEE-identical


def _ewma_fn(key, pdf_iter, state: GroupState):
    (user_id,) = key
    if state.exists:
        n, ewma = state.get
    else:
        n, ewma = 0, None
    batches = [pdf for pdf in pdf_iter if len(pdf)]
    if batches:
        rows = pd.concat(batches, ignore_index=True).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        for v in rows["value"]:
            if pd.isna(v):
                # batch-twin parity: a NULL value nulls the accumulator
                # (0.25*NULL + 0.75*acc = NULL in the JVM fold), and the
                # next non-null value reseeds — NOT a sticky NaN
                ewma = None
                continue
            v = float(v)
            ewma = (
                v
                if ewma is None
                else _EWMA_ALPHA * v + (1.0 - _EWMA_ALPHA) * ewma
            )
        n += len(rows)
    state.update((n, ewma))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "ewma_value": [ewma]}
    )


def user_value_ewma(stream: DataFrame) -> DataFrame:
    """Streaming twin of the batch `ev_ewma_user_value` query: per-user
    exponentially-weighted moving average (alpha = 0.25) maintained
    across micro-batches via applyInPandasWithState — the recursive
    per-entity fold that built-in windowed aggregations cannot
    express; state is ONE (count, ewma) pair per user regardless of
    history length.

    Within each micro-batch, rows are sorted by (ts, event_id) before
    folding — the same total order as the batch fold, and Python float
    arithmetic IS IEEE double, so on in-order arrival the streaming
    result is bit-identical to the batch query (equivalence pinned in
    tests).  Cross-batch order is the source's responsibility
    (log-structured / time-partitioned input); out-of-order arrivals
    would need a watermark-delayed buffer, the same caveat as any
    sequence-dependent streaming state."""
    return (
        stream.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_fn,
            outputStructType=_EWMA_OUTPUT,
            stateStructType=_EWMA_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_SPEND_OUTPUT = "user_id long, n_events long, total_value double, max_value double"


def _make_spend_processor():
    """StatefulProcessor for transformWithStateInPandas — the
    Spark-4 arbitrary-stateful API (typed value state, timers, TTL)
    superseding applyInPandasWithState. Tracks per-user count / total
    / max across micro-batches."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserSpendProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n long, total double, max_v double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n, total, max_v = self._agg.get()
            else:
                n, total, max_v = 0, 0.0, float("-inf")
            for pdf in rows:
                vals = pdf["value"].dropna()
                n += len(pdf)
                total += float(vals.sum())
                if len(vals):
                    max_v = max(max_v, float(vals.max()))
            self._agg.update((n, total, max_v))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "max_value": [max_v],
                }
            )

        def close(self) -> None:
            pass

    return UserSpendProcessor()


def user_spend_profile(stream: DataFrame) -> DataFrame:
    """Custom stateful operator on the transformWithStateInPandas API:
    cumulative per-user (count, total, max) maintained in typed value
    state across micro-batches. State is one fixed-width row per user
    — bounded by key cardinality, shuffled once on user_id.

    Requires the RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass) and, in PySpark,
    the google.protobuf package for the state-server protocol — absent
    in this container, so the equivalence test self-skips; the
    applyInPandasWithState twin (user_running_totals) covers the
    stateful semantics in CI."""
    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_make_spend_processor(),
            outputStructType=_SPEND_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> None:
    """Run a streaming DataFrame to completion (availableNow) into an
    in-memory table `name`; returns after all input is processed."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_import(
    stream: DataFrame,
    sink,
    table: str,
    output_mode: str = "append",
    checkpoint: str | None = None,
    exactly_once: bool = False,
) -> None:
    """Land a stream in a SQL table through a batch sink (foreachBatch
    reuses the same COPY/INSERT machinery as Importer).

    ``exactly_once=True`` routes each micro-batch through the sink's
    ``write_idempotent(df, table, batch_id)``: rows plus a batch-id
    ledger row commit atomically, so a batch replayed after a crash
    (same batch_id from the checkpoint) is skipped instead of applied
    twice.  Requires ``checkpoint`` — batch ids are only stable within
    one checkpoint lineage."""
    if exactly_once and not checkpoint:
        raise ValueError("exactly_once requires a checkpoint location")
    if exactly_once and not hasattr(sink, "write_idempotent"):
        # fail fast at call time, not inside the first micro-batch
        # (after checkpoint state already exists)
        raise ValueError(
            f"exactly_once requires a sink with write_idempotent; "
            f"{type(sink).__name__} has none"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if exactly_once:
            sink.write_idempotent(batch_df, table, batch_id)
        else:
            sink.write(batch_df, table, truncate=False)

    writer = (
        stream.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    q.awaitTermination()


def documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of documents parquet files under `path`
    (schema probed from the footer with a zero-cost batch read; falls
    back to the fixture schema ONLY when no files have landed yet —
    other probe failures propagate — so the stream can start before
    its producer without masking real read errors)."""
    schema = _probe_schema(spark, path, apply_runtime_confs(spark))
    if schema is None:
        return spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        ).parquet(path)
    return spark.readStream.schema(schema).parquet(path)


def neardup_screen_stream(
    stream_docs: DataFrame,
    index: DataFrame,
    bits: int = 24,
    radius: int = 1,
) -> DataFrame:
    """Streaming near-dup screen: arriving documents are sketched with
    the row-local simhash expression (stateless projection) and probed
    against a STATIC banded corpus index — a stream-static equi-join
    on (band, bval), so no watermark and no state store.  The batch
    twin is the oracle-checked gate query dedup_simhash_incremental;
    the operator is literally the same function.

    Scale: the static index joins by whatever strategy the optimizer
    picks per micro-batch (broadcast when small, sort-merge when
    corpus-scale); the stream side only ever holds the current batch.
    """
    from parquet_to_sql_spark.operators.dedup import simhash_screen_against_index

    return simhash_screen_against_index(
        stream_docs, index, "doc_id", "text", bits=bits, radius=radius
    )


def purchases_after_signup_join(
    stream: DataFrame,
    max_delay: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: each purchase matched to the same user's
    signup no more than `max_delay` earlier.

    Both sides are watermarked and the join condition carries the
    event-time range, so state for unmatched rows is evicted once the
    watermark passes — the canonical bounded-state stream-stream
    equi+range join.

    ``how="left_outer"`` emits purchases with NO qualifying signup
    (null signup columns) — but only once the watermark has passed
    their match window, because until then a matching signup could
    still arrive. Bounded state either way."""
    # Watermark BEFORE the type filter: the query watermark is the MIN
    # across both sides, and each side must advance from ALL events'
    # time, not only its own type's — otherwise one quiet side (no new
    # signups) stalls the global watermark and outer/unmatched rows
    # never flush.
    wm = stream.withWatermark("ts", watermark)
    signups = wm.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user"),
        F.col("ts").alias("signup_ts"),
        F.col("event_id").alias("signup_event_id"),
    )
    purchases = wm.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_event_id"),
    )
    return purchases.join(
        signups,
        (F.col("p_user") == F.col("s_user"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr(f"INTERVAL {max_delay}")),
        how,
    ).select(
        F.col("p_user").alias("user_id"),
        "purchase_event_id",
        "signup_event_id",
        "purchase_ts",
        "signup_ts",
    )


def contamination_screen_stream(
    stream_docs: DataFrame, bench_index: DataFrame, n: int = 5
) -> DataFrame:
    """Streaming decontamination-at-ingest: arriving documents'
    hashed n-gram shingles (row-local projection) probed against the
    STATIC benchmark shingle index — a stream-static equi-join on the
    hash, so no watermark and no state store; pre-aggregation rows
    (doc, n_shingles, h) append out, and the per-doc overlap rollup
    is the consumer's one groupBy.  Batch twin: the join stage of the
    oracle-checked text_contamination_check (same operator function).
    """
    from parquet_to_sql_spark.operators.text import contamination_screen

    return contamination_screen(stream_docs, bench_index, "doc_id", "text", n=n)


def keyword_screen_stream(
    stream_docs: DataFrame, terms: tuple[str, ...] = ("spark", "join", "window")
) -> DataFrame:
    """Streaming content screen: emit arriving documents that contain
    EVERY watch term, with per-term frequencies and a score — the
    alerting/routing shape of conjunctive retrieval.  Entirely
    stateless (row-local token filters, no watermark, no state store),
    so it appends at ingest rate; the batch twin is the filter stage
    of the oracle-checked text_keyword_search (same operator
    function, operators.text.keyword_hits)."""
    from parquet_to_sql_spark.operators.text import keyword_hits

    return keyword_hits(stream_docs, "doc_id", "text", terms)


def tumbling_distinct_users(stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """EXACT distinct users per tumbling window on a stream — CHAINED
    stateful operators (Spark 4 multi-stateful append mode): a
    watermarked dropDuplicates on (window, user) feeds a windowed
    count, the streaming twin of the batch two-level distinct
    (ev_sliding_distinct_users).  Both operators key their state by
    the window, so the watermark evicts dedup entries and finalizes
    counts together; emission is append-mode (each window's count
    exactly once, when the watermark passes its end).
    """
    dedup = (
        stream.withWatermark("ts", "2 hours")
        .select(F.window("ts", window).alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    return (
        dedup.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
    )


def bm25_screen_stream(
    stream_docs: DataFrame,
    stats: DataFrame,
    terms: tuple[str, ...] = ("spark", "join", "window"),
) -> DataFrame:
    """Streaming BM25 scoring-at-ingest: arriving documents are scored
    against STATIC corpus statistics (one broadcast row of N / L /
    df_t, computed batch-side from the reference corpus) with the same
    exact-integer arithmetic as the oracle-checked gate query
    text_bm25_rational — literally the same operator functions, so
    batch and stream scores are bit-identical.  Entirely stateless
    (row-local feature projection + broadcast join; no watermark, no
    state store): the routing/alerting shape for retrieval-scored
    ingest."""
    from parquet_to_sql_spark.operators.text import (
        bm25_doc_features,
        bm25_rational_scores,
    )

    feats = bm25_doc_features(stream_docs, "doc_id", "text", terms)
    return bm25_rational_scores(feats, terms, stats)


def span_screen_stream(
    stream_docs: DataFrame, index: DataFrame, k: int = 6
) -> DataFrame:
    """Streaming repeated-span contamination screen: arriving
    documents' positional hashed k-grams probed against the STATIC
    reference_span_index — the at-ingest twin of the oracle-checked
    dedup_repeated_spans detector, for the case where the protected
    corpus (benchmarks, eval sets) is fixed and documents arrive
    continuously.  Stateless stream-static equi-join (no watermark,
    no state store); emits (ref_doc, new_doc, ref_pos, d) match rows,
    and the consumer's batch islands pass merges consecutive ref_pos
    at constant offset into maximal spans (same operator arithmetic
    as the batch gate query, so rolled-up spans are value-identical).
    """
    from parquet_to_sql_spark.operators.dedup import repeated_span_matches

    return repeated_span_matches(stream_docs, index, "doc_id", "text", k=k)


_TRANS_OUTPUT = "user_id long, prev_type string, next_type string"
_TRANS_STATE = "last_type string"


def _make_transitions_fn(ttl_us: int | None):
    def _transitions_fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            # idle past the TTL horizon: drop the user's last_type.
            # Nothing to emit — a transition row needs a NEXT event,
            # and a timed-out group has none in this batch.
            state.remove()
            yield pd.DataFrame(
                {"user_id": [], "prev_type": [], "next_type": []}
            )
            return
        last = state.get[0] if state.exists else None
        batches = [pdf for pdf in pdf_iter if len(pdf)]
        prevs: list[str] = []
        nexts: list[str] = []
        if batches:
            rows = pd.concat(batches, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            for t in rows["event_type"]:
                if last is not None:
                    prevs.append(last)
                    nexts.append(t)
                last = t
            state.update((last,))
            if ttl_us is not None:
                # evict when event-time passes last-seen + TTL
                # (ms epoch, same convention as the sessionizer).
                # Clamped to watermark + 1: a within-watermark but
                # LATE batch can put ts_max + ttl behind the already-
                # advanced watermark, and setTimeoutTimestamp throws
                # on that — which would fail the whole streaming
                # query (ADVICE r07).  The clamp defers eviction to
                # the next timeout sweep; pairing semantics unchanged.
                ts_us = (
                    rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
                )
                state.setTimeoutTimestamp(
                    max(
                        int(ts_us.max()) // 1000 + ttl_us // 1000,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(prevs),
                "prev_type": prevs,
                "next_type": nexts,
            }
        )

    return _transitions_fn


def event_transitions_stream(
    stream: DataFrame,
    ttl_minutes: int | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of the batch ev_event_transitions lag: emits one
    (user_id, prev_type, next_type) row per consecutive event pair in
    each user's stream — including the pair that SPANS a micro-batch
    boundary, which is exactly what the state (one last_type string
    per user, O(1) regardless of history) exists to remember and what
    a stateless lag-within-batch would drop.  Emitted pairs are final
    facts, so the operator runs in append mode and composes with any
    downstream aggregation (the transition-matrix count, a bigram
    anomaly screen) as an ordinary chained stateful pipeline.
    In-batch order is (ts, event_id) — the batch query's total order;
    cross-batch order is the source's responsibility, same caveat as
    the EWMA fold.

    State retention: by default one last_type row per user is kept
    FOREVER — exact pairing at the cost of state linear in the number
    of distinct users ever seen, which is fine for bounded key spaces
    but unbounded in a long-running stream of churning users.  Pass
    ``ttl_minutes`` to bound it: the stream must then carry a
    watermark (EventTimeTimeout's requirement), and a user idle past
    the TTL has their last_type evicted — their NEXT event starts a
    fresh chain instead of pairing across the idle gap, i.e. the
    (prev, next) pair spanning a > TTL silence is deliberately not
    emitted.  That is the trade-off, chosen per the sessionizer
    precedent: bounded state via eviction, not unbounded retention.
    ``watermark`` is applied (and only needed) in TTL mode."""
    if ttl_minutes is not None:
        stream = stream.withWatermark("ts", watermark)
    return (
        stream.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_transitions_fn(
                None if ttl_minutes is None else ttl_minutes * 60 * 1_000_000
            ),
            outputStructType=_TRANS_OUTPUT,
            stateStructType=_TRANS_STATE,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if ttl_minutes is None
                else GroupStateTimeout.EventTimeTimeout
            ),
        )
    )


_QUOTA_OUTPUT = "user_id long, event_id long, ts timestamp, admit_rank long"
_QUOTA_STATE = "n_admitted long"


def _make_quota_fn(cap: int):
    def _quota_fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        n = state.get[0] if state.exists else 0
        out_eid: list[int] = []
        out_ts = []
        out_rank: list[int] = []
        batches = [p for p in pdf_iter if len(p)]
        if batches:
            rows = pd.concat(batches, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            for eid, ts in zip(rows["event_id"], rows["ts"]):
                if n >= cap:
                    break  # quota exhausted — nothing later admits
                n += 1
                out_eid.append(int(eid))
                out_ts.append(ts)
                out_rank.append(n)
            state.update((n,))
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out_eid),
                "event_id": out_eid,
                "ts": pd.to_datetime(out_ts),
                "admit_rank": out_rank,
            }
        )

    return _quota_fn


def quota_admit_stream(stream: DataFrame, cap: int = 10) -> DataFrame:
    """At-ingest per-key admission quota — the streaming counterpart
    of cap_per_domain for the case where the cap criterion is ARRIVAL
    order rather than a quality ranking: admit each key's first
    ``cap`` events (in (ts, event_id) order), drop the rest forever.
    The crawl-pipeline use is per-domain fetch budgets enforced at
    ingest instead of in a nightly batch; keyed here by user_id since
    that is the fixture's key column — the operator is key-agnostic.
    State is ONE counter per key (no retained rows, unlike a batch
    window); admitted rows carry their admit_rank and are final facts
    (append mode).  Batch equivalence: row_number() OVER
    (PARTITION BY key ORDER BY ts, event_id) <= cap, pinned by test
    along with the cross-run carry (a key whose quota filled in run 1
    admits nothing in run 2)."""
    return (
        stream.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_quota_fn(cap),
            outputStructType=_QUOTA_OUTPUT,
            stateStructType=_QUOTA_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_ASOF_OUTPUT = (
    "event_id long, ts timestamp, purchase_event_id long, purchase_ts timestamp"
)
_ASOF_STATE = "p_ts_us long, p_id long"


def _asof_enrich_fn(key, pdf_iter, state: GroupState):
    batches = [p for p in pdf_iter if len(p)]
    out_eid: list[int] = []
    out_ts: list[int] = []
    out_pid: list[int] = []
    out_pts: list[int] = []
    if batches:
        rows = pd.concat(batches, ignore_index=True).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        ts_us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        p_ts, p_id = state.get if state.exists else (None, None)
        etypes = rows["event_type"].to_list()
        eids = rows["event_id"].to_list()
        i, n = 0, len(rows)
        while i < n:
            # one timestamp group at a time: ingest EVERY same-ts
            # purchase before enriching any same-ts event, so
            # "at-or-before" includes ties exactly like the batch
            # window's (pts DESC, p_id DESC) pick
            j = i
            while j < n and ts_us[j] == ts_us[i]:
                j += 1
            for k in range(i, j):
                if etypes[k] == "purchase":
                    p_ts, p_id = int(ts_us[k]), int(eids[k])  # id asc: max wins
            if p_ts is not None:
                for k in range(i, j):
                    out_eid.append(int(eids[k]))
                    out_ts.append(int(ts_us[k]))
                    out_pid.append(p_id)
                    out_pts.append(p_ts)
            i = j
        if p_ts is not None:
            state.update((p_ts, p_id))
    yield pd.DataFrame(
        {
            "event_id": out_eid,
            "ts": pd.to_datetime(out_ts, unit="us"),
            "purchase_event_id": out_pid,
            "purchase_ts": pd.to_datetime(out_pts, unit="us"),
        }
    )


def asof_enrich_stream(stream: DataFrame) -> DataFrame:
    """STREAMING as-of join — the at-ingest twin of the batch
    join_asof_purchases: every arriving event is enriched with the
    most recent purchase by the same user at-or-before it (ties at
    equal ts resolved to the highest purchase event_id, exactly the
    batch window's (pts DESC, p_id DESC) pick — the fold ingests all
    same-ts purchases before enriching any same-ts event).  Batch
    as-of needs the union-and-window pattern; at ingest it collapses
    to O(1) state per user — ONE (purchase_ts, purchase_id) pair —
    because "most recent at-or-before" is precisely what a running
    last-value fold maintains.  Events with no prior purchase emit
    nothing (the batch query's inner-join semantics); emitted rows are
    final facts, so append mode composes downstream.  In-batch order
    is (ts, event_id); cross-batch order is the source's
    responsibility, and state is retained per user indefinitely —
    both caveats shared with, and solvable the same way as, the
    transitions fold (see event_transitions_stream's ttl_minutes
    precedent)."""
    return (
        stream.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _asof_enrich_fn,
            outputStructType=_ASOF_OUTPUT,
            stateStructType=_ASOF_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def classifier_screen_stream(
    stream_docs: DataFrame, weights: DataFrame
) -> DataFrame:
    """Streaming model-scoring screen: arriving documents scored by
    the same hashing-trick linear model as the oracle-checked batch
    query text_hash_feature_classify — but in the STATELESS streaming
    formulation: a document's tokens all live in its own row, so the
    batch path's explode + broadcast-join + doc-keyed rollup collapses
    to one row-local fold over the token array with the 256-bucket
    model inlined as a literal map (weights.collect() is bounded by
    the bucket count — a model ship, not a data collect).  No state
    store, no watermark, append at ingest rate; re-deploying a
    retrained model is swapping the weights DataFrame.  The
    equivalence test pins this fold against the batch join+rollup
    formulation row for row — INCLUDING on models that do not cover
    all 256 buckets: the batch inner join silently drops unmatched
    tokens from both n_tokens and score (and drops a doc whose tokens
    ALL miss the model), so the fold filters out the NULL lookups
    element_at returns for absent buckets and keeps only docs with at
    least one matched token, rather than letting one NULL poison the
    whole sum."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.functions.hashing import char_fold_hash
    from parquet_to_sql_spark.operators.text import CLS_BUCKETS, ws_tokens

    wmap = F.create_map(
        *[
            c
            for r in weights.collect()
            for c in (F.lit(int(r.bkt)), F.lit(int(r.w)))
        ]
    )
    # stage the matched-weight array once; n_tokens/score/keep all
    # derive from it (join-consistent: unmatched buckets vanish)
    matched = F.filter(
        F.transform(
            ws_tokens(F.col("text")),
            lambda t: F.element_at(
                wmap, (char_fold_hash(t) % CLS_BUCKETS).cast("int")
            ),
        ),
        lambda x: x.isNotNull(),
    )
    score = F.aggregate(
        F.col("_w"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    # NULL-text docs are ABSENT from the batch formulation (explode of
    # a null token array drops the row), as are docs with zero matched
    # tokens (no group survives the inner join); drop both here too so
    # the row-for-row equivalence holds on dirty inputs, not just
    # fixtures
    return (
        stream_docs.where(F.col("text").isNotNull())
        .withColumn("_w", matched)
        .where(F.size("_w") > 0)
        .select(
            "doc_id",
            F.size("_w").cast("bigint").alias("n_tokens"),
            score.alias("score"),
            (score >= 0).alias("keep"),
        )
    )


_SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, matching ev_session_windows
_SESS_OUTPUT = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
_SESS_STATE = "start_us long, end_us long, n long"


def _session_fn(key, pdf_iter, state: GroupState):
    (user_id,) = key
    closed: list[tuple[int, int, int]] = []
    if state.hasTimedOut:
        # the watermark passed end + gap with no new event: the open
        # session is final — emit it and CLEAR the state (bounded
        # state via eviction, not via unbounded key retention)
        closed.append(state.get)
        state.remove()
    else:
        batches = [p for p in pdf_iter if len(p)]
        if batches:
            rows = pd.concat(batches, ignore_index=True).sort_values(
                ["ts", "event_id"], kind="mergesort"
            )
            ts_us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
            if state.exists:
                s, e, n = state.get
            else:
                s = e = None  # type: ignore[assignment]
                n = 0
            for t in map(int, ts_us):
                if s is None:
                    s, e, n = t, t, 1
                elif t - e < _SESSION_GAP_US:
                    # same close rule as the batch session_window:
                    # a gap >= 30 min STARTS a new session
                    e, n = t, n + 1
                else:
                    closed.append((s, e, n))
                    s, e, n = t, t, 1
            state.update((s, e, n))
            # evict when event-time passes the gap horizon (ms epoch),
            # clamped to watermark + 1 — a late within-watermark batch
            # whose gap horizon is already behind the watermark would
            # otherwise make setTimeoutTimestamp throw and kill the
            # query (same fix as the transitions TTL; ADVICE r07).
            # Deferred eviction only delays the timed-out emit to the
            # next sweep; the session's (start, end, n) are unchanged.
            state.setTimeoutTimestamp(
                max(
                    e // 1000 + _SESSION_GAP_US // 1000,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(closed),
            "session_start": pd.to_datetime([c[0] for c in closed], unit="us"),
            "session_end": pd.to_datetime([c[1] for c in closed], unit="us"),
            "n_events": [c[2] for c in closed],
        }
    )


def user_sessions_stream(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom sessionizer with EVENT-TIME TIMEOUT eviction — the
    applyInPandasWithState capability the built-in session_window
    hides: per-user state is ONE (start, end, count) triple, sessions
    that close INSIDE a micro-batch (next event >= 30 min later) emit
    immediately, and the still-open session emits when the watermark
    passes its gap horizon (``state.hasTimedOut`` -> emit + remove —
    state is evicted, not retained forever).  Same session semantics
    as the oracle-checked ev_session_windows batch query, so the
    equivalence test compares (user, session_start, n_events) exactly.
    Cross-batch in-order arrival is the source's responsibility, the
    standing caveat of every sequence-stateful operator here."""
    return (
        stream.withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            outputStructType=_SESS_OUTPUT,
            stateStructType=_SESS_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def countmin_stream(
    stream_docs: DataFrame, depth: int = 4, width: int = 1024
) -> DataFrame:
    """Streaming Count-Min sketch maintenance — the at-ingest twin of
    the oracle-checked agg_countmin_words: arriving documents' word
    stream updates the depth x width counter table incrementally (a
    COMPLETE-mode running aggregate; the sketch IS the state, bounded
    at depth*width rows forever — the memory-safe way to track
    frequencies over an unbounded stream).  Cell emission is the
    shared functions.hashing.countmin_cells, so after any prefix of
    the input the streamed sketch equals the batch sketch over the
    same rows EXACTLY (pinned by test), and a sketch snapshot can be
    probed with the batch query's min-over-rows estimate at any time.
    No watermark: a frequency sketch wants all history; callers who
    need decay should window the input first."""
    from parquet_to_sql_spark.functions.hashing import (
        char_fold_hash,
        countmin_cells,
    )
    from parquet_to_sql_spark.operators.text import ws_tokens

    words = stream_docs.select(F.explode(ws_tokens(F.col("text"))).alias("word"))
    cells = words.select(
        F.explode(
            countmin_cells(char_fold_hash(F.col("word")), depth, width)
        ).alias("cell")
    ).select("cell.i", "cell.bucket")
    return cells.groupBy("i", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )


def minhash_screen_stream(
    stream_docs: DataFrame,
    index: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Streaming FUZZY-dedup screen: arriving documents are MinHash-
    sketched ROW-LOCALLY (minhash_signatures_rowlocal — array
    higher-order functions, value-identical to the batch sketch, no
    grouped aggregation so no watermark/state store) and their band
    rows probed against a STORED band index (minhash_band_index) —
    the at-ingest twin of the oracle-checked gate query
    dedup_minhash_incremental_screen.

    Emits per-band match rows (new_id, corpus_id, band, bucket); a
    pair colliding in multiple bands emits one row per band, and the
    consumer's batch-side DISTINCT (or the downstream exact-verify
    join, which is idempotent per pair) collapses them — keeping the
    stream side fully stateless, like span_screen_stream's match
    rows.  Scale: stream-static equi-join on (band, bucket); with the
    index bucketed on (band, bucket) only the arriving micro-batch
    shuffles."""
    from parquet_to_sql_spark.operators.dedup import minhash_band_rows_rowlocal

    new_idx = minhash_band_rows_rowlocal(
        stream_docs, "doc_id", "text", k=k, bands=bands, n=n
    )
    return (
        new_idx.select(F.col("doc").alias("new_id"), "band", "bucket")
        .join(
            index.select(F.col("doc").alias("corpus_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("new_id", "corpus_id", "band", "bucket")
    )


_FRONTIER_OUTPUT = "host string, doc_id long, slot long, fetch_at_ms long"
_FRONTIER_STATE = "next_slot long"


def _frontier_fn(key, pdf_iter, state: GroupState):
    (host,) = key
    slot = state.get[0] if state.exists else 0
    out_doc: list[int] = []
    out_slot: list[int] = []
    out_at: list[int] = []
    batches = [p for p in pdf_iter if len(p)]
    if batches:
        rows = pd.concat(batches, ignore_index=True).sort_values(
            "doc_id", kind="mergesort"
        )
        for did, delay in zip(rows["doc_id"], rows["delay_ms"]):
            slot += 1
            out_doc.append(int(did))
            out_slot.append(slot)
            out_at.append((slot - 1) * int(delay))
        state.update((slot,))
    yield pd.DataFrame(
        {
            "host": [host] * len(out_doc),
            "doc_id": out_doc,
            "slot": out_slot,
            "fetch_at_ms": out_at,
        }
    )


def frontier_schedule_stream(stream: DataFrame) -> DataFrame:
    """At-ingest crawl-frontier POLITENESS scheduling — the stateful
    streaming twin of pipeline_crawl_frontier for the case where URLs
    arrive continuously: every host keeps ONE counter of slots handed
    out so far (no retained rows), each arriving URL takes the next
    per-host FIFO slot (doc-id order within a micro-batch, the gate
    query's priority order) and a deterministic fetch time
    (slot x the row's crawl delay).  Admissions are final facts
    (append mode) and the counter carries across micro-batches AND
    restarts, so a recurring crawl never double-books a politeness
    slot — the streaming analogue of the band-index/ledger state
    pattern, with state one long per host.

    Expects columns (host, doc_id, delay_ms); batch equivalence
    (streamed slots == row_number over the same rows) and the
    cross-run slot carry are pinned in tests/test_streaming.py."""
    return (
        stream.select("host", "doc_id", "delay_ms")
        .groupBy("host")
        .applyInPandasWithState(
            _frontier_fn,
            outputStructType=_FRONTIER_OUTPUT,
            stateStructType=_FRONTIER_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def crawl_ingest_stream(stream_docs: DataFrame, min_words: int = 8) -> DataFrame:
    """Streaming crawl ingest-at-arrival: WARC parse -> HTML extract
    -> word-count admission screen on arriving documents — literally
    the operator the oracle-checked batch gate query
    pipeline_crawl_ingest_e2e runs (operators/crawl.ingest_warc_docs),
    so batch and stream verdicts are bit-identical.  Entirely
    stateless (one Arrow-batched mapInPandas; no watermark, no state
    store): the shape of a fetch pipeline that screens pages the
    moment they land, before anything is persisted."""
    from parquet_to_sql_spark.operators.crawl import ingest_warc_docs

    return ingest_warc_docs(stream_docs, min_words=min_words)


def robots_screen_stream(stream_urls: DataFrame, host_rules: DataFrame) -> DataFrame:
    """Streaming robots admission: arriving (host, path) URLs decided
    against a STATIC per-host parsed-rules relation (robots_star_rules
    output collected as an array per host) — stream-static broadcast
    join + the row-local RFC 9309 longest-match fold
    (operators/urls.robots_decide).  Entirely stateless: the same
    operator the oracle-checked pipeline_robots_screen runs, so batch
    and stream verdicts are bit-identical.  ``host_rules``:
    (h, rules array<struct<allow, prefix>>)."""
    import pyspark.sql.functions as F

    from parquet_to_sql_spark.operators.urls import robots_decide

    decision = robots_decide(F.col("path"), F.col("rules"))
    return stream_urls.join(F.broadcast(host_rules), "h").select(
        "h",
        "path",
        decision.getField("allowed").alias("allowed"),
        decision.getField("winning_prefix").alias("winning_prefix"),
    )


def pii_scrub_stream(stream_docs: DataFrame) -> DataFrame:
    """Streaming PII scrub-at-ingest: the SAME pure projection the
    oracle-checked batch gate query runs
    (queries.pipelines.pii_scrub_projection — three JVM
    regexp_replace passes, sha-pinned output), applied to arriving
    documents.  Stateless, zero Python: the redaction pass belongs at
    ingest, before any byte is persisted.  ``stream_docs`` must carry
    (doc_id, t)."""
    from parquet_to_sql_spark.queries.pipelines import pii_scrub_projection

    return pii_scrub_projection(stream_docs)


def crawl_files_stream(spark: SparkSession, shard_dir: str) -> DataFrame:
    """STREAMING file-level crawl ingest: Structured Streaming's
    binaryFile FILE SOURCE watches a ``.warc.gz`` shard directory and
    every newly-landed shard flows through the SAME shared parse
    chain the oracle-checked batch gate query runs
    (operators/crawl.ingest_warc_shard_files: WARC members -> raw
    HTTP/1.1 -> HTML -> screen) — stateless, so batch and stream
    outputs are bit-identical per shard, and the file-source
    checkpoint gives exactly-once per FILE across restarts (the
    incremental test proves a second availableNow run emits only the
    newly-arrived shard).  This is the production ingest shape:
    point it at the directory your fetchers write shards into."""
    from parquet_to_sql_spark.operators.crawl import ingest_warc_shard_files

    files = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("pathGlobFilter", "*.warc.gz")
        .load(shard_dir)
    )
    return ingest_warc_shard_files(files)

"""Structured Streaming equivalents of the reference's Kafka surface
(SURVEY.md §2.9).

The reference's "streaming" is batch-over-log: producers append JSON to
topics (`stockDataProducer.py:45-53`), queries re-scan the topic and
dedup (`DISTINCT` + keep-last). Correctness parity only needs batch
semantics (parity.py `stream_*`); this module provides the
streaming-native upgrades the SURVEY calls for:

- incremental read (`readStream`) with the same declared schema,
- watermark + dropDuplicates for late/replayed messages,
- windowed aggregations over event time,
- `Trigger.AvailableNow` scheduled-batch runs mirroring the CronJob
  ingestion (`vanilla_k8s_trino_demo_installation.txt:482-533`),
- a custom stateful keep-latest operator (applyInPandasWithState):
  last-revision-wins per key with watermark-bounded state, SURVEY §2.9.

Tested against file streams over the testdata parquet (no broker in the
container); the Kafka wiring reuses sources.kafka option builders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..genutil import milli_units

# Physical schema of the events parquet (ts is TIMESTAMP(NANOS), read as
# long via nanosAsLong — same normalization as registry._normalize_events).
def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental scan of the events table as a file stream with the
    declared schema — the readStream twin of registry.load_table('events').
    One file here; on a real landing zone this tails new files exactly like
    the topic tail.

    readStream needs an upfront schema, so the physical ``ts`` encoding
    (int64 nanos vs native micros — see registry._normalize_events) is
    sniffed from the parquet footer with a one-off batch read, then the
    matching normalization is applied."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import os

    phys = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    ts_phys = phys["ts"].dataType.simpleString()
    raw_schema = (
        f"event_id BIGINT, ts {ts_phys}, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    # File-stream sources need a directory; select just the events file
    # from the shared sf_dir via the glob filter.
    raw = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    from trino_demo_spark.registry import event_ts_columns

    ts, ts_ns = event_ts_columns(ts_phys == "bigint")
    return raw.select("event_id", ts, ts_ns, "user_id", "event_type", "value", "props")


def _timeline(stream: DataFrame, watermark: str) -> DataFrame:
    """Pinned timeline-ingest policy (the hostile-corpus program's
    batch rule, applied to the streaming twins): un-timestamped rows
    are dropped BEFORE the watermark. A NULL event time has no place
    on a timeline, and — measured on the hostile events corpus — one
    such poison message CRASHED the stateful folds permanently
    (``int(None)`` in applyInPandasWithState) while the expression ops
    silently disagreed with their batch twins about keeping it."""
    return stream.filter(F.col("ts").isNotNull()).withWatermark(
        "ts", watermark
    )


def dedup_late(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming replay/duplicate collapse: watermark +
    dropDuplicatesWithinWatermark on the message key (SURVEY §2.9
    stream_dedup_late's native form). Plain dropDuplicates(subset) only
    evicts state when the event-time column is part of the subset — on a
    bare message key the state map would grow unboundedly;
    dropDuplicatesWithinWatermark evicts each key once the watermark
    passes its event time, so state stays bounded and the query can run
    forever. Replays of the same event_id arriving within the watermark
    delay (the only replays a watermarked pipeline admits) collapse to
    one row."""
    return _timeline(stream, watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def windowed_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling-window aggregate with late-data tolerance.
    (The _timeline gate is explicit policy here, not a behavior change:
    time-window grouping already drops NULL event times.)"""
    return (
        _timeline(stream, watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def run_available_now(
    stream: DataFrame, sink_table: str, output_mode: str = "append"
) -> StreamingQuery:
    """Scheduled-batch execution (`Trigger.AvailableNow`): process all
    available input then stop — the CronJob-ingestion equivalent
    (vanilla_k8s...txt:482-533) with exactly-once file-source tracking."""
    return (
        stream.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def keep_latest_stateful(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator: latest revision per (user_id, day) wins —
    the streaming-native form of parity.stream_dedup_late (forecast
    revisions supersede older messages, SURVEY.md §2.9 stream_dedup_late;
    ref KubeflowStockPricePrediction.ipynb:547-549).

    applyInPandasWithState keeps one row of state per key and emits the
    current winner on every update. Keys include the day, so without
    eviction state would grow by one entry per (user, day) forever;
    EventTimeTimeout bounds it: each key arms a timeout at its day's end
    (no event with ts inside day D can arrive once the watermark passes
    D's end — later arrivals are beyond the watermark and dropped), and
    the timeout branch removes the state. Live state = O(keys within the
    watermark horizon), the property that lets this run indefinitely."""
    import datetime as _dt

    import pandas as pd  # local import: only the stateful path needs it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id BIGINT, day DATE, event_id BIGINT, value DOUBLE"
    state_schema = "ts_ns BIGINT, event_id BIGINT, value DOUBLE"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            # Watermark passed this day's end: no more revisions possible.
            state.remove()
            return
        best = state.get if state.exists else None  # (ts_ns, event_id, value)
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                cand = (int(row.ts_ns), int(row.event_id), float(row.value))
                if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                    best = cand
        state.update(best)
        # Evict once the watermark passes the end of this key's day. The
        # timestamp must stay ahead of the current watermark (Spark rejects
        # timeouts at/behind it — possible when a batch advances the
        # watermark past an old key's day within the same trigger).
        day = key[1]  # datetime.date
        day_end = _dt.datetime(
            day.year, day.month, day.day, tzinfo=_dt.timezone.utc
        ) + _dt.timedelta(days=1)
        timeout_ms = max(
            int(day_end.timestamp() * 1000), state.getCurrentWatermarkMs() + 1
        )
        state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "day": [key[1]],
                "event_id": [best[1]],
                "value": [best[2]],
            }
        )

    keyed = _timeline(stream, watermark).withColumn("day", F.to_date("ts"))
    return keyed.groupBy("user_id", "day").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def session_windows(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session-window aggregation: activity sessions per user closed after
    `gap` of inactivity — the stateful windowing the reference's fixed
    daily batching can't express. State per open session, bounded by the
    watermark."""
    return (
        _timeline(stream, watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def foreach_batch_sink(
    stream: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Micro-batch sink via foreachBatch with checkpointed progress and an
    idempotent write: foreachBatch alone is only at-least-once — a crash
    after the write but before the checkpoint commit re-runs the batch —
    so each batch OVERWRITES its own `batch_id=N` partition directory
    instead of appending; a replayed batch rewrites identical data in
    place and the output stays exactly-once end-to-end (checkpoint dedups
    re-reads across restarts, the per-batch overwrite dedups the
    write-retry window). The reference approximates this with
    DISTINCT-on-read (SURVEY §2.9). Readers load `out_path` as ordinary
    partitioned parquet (batch_id becomes a partition column). Restart
    behavior asserted in tests/test_streaming.py."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_path}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to same-user
    clicks in the preceding `within` window (attribution). Both sides are
    watermarked so the join state is bounded: a click can be dropped from
    state once no purchase within `within` can still arrive — the
    mechanics Trino's batch-over-log model cannot express."""
    return _attribution_join(clicks, purchases, within, outer=False)


def stream_stream_left_join(
    clicks: DataFrame, purchases: DataFrame, within: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark-expired
    null emission — the one streaming join shape this module lacked
    (VERDICT r6 §next-round-6a; stream_stream_join is inner-only).

    Every purchase emits AT LEAST its own row: matched purchases emit as
    their qualifying clicks arrive; an unmatched purchase emits with
    NULL click columns only once the JOINT watermark (min of both
    sides') proves no click in its preceding `within` window can still
    arrive — Spark holds the outer row in join state until then, so
    null-emission latency equals the watermark delay, and state stays
    bounded to one interval per user exactly as in the inner variant.
    On batch frames the identical code path degrades to a plain
    left-outer join (watermarks are no-ops), which is what the
    stream_join_attrib_outer parity oracle checks; the streaming
    null-emission behavior itself is pinned in tests/test_streaming.py
    with a multi-batch file source whose final batch advances the
    watermark past every real event."""
    return _attribution_join(clicks, purchases, within, outer=True)


def _attribution_join(
    clicks: DataFrame, purchases: DataFrame, within: str, outer: bool
) -> DataFrame:
    """Shared core of the two attribution joins: both sides watermarked
    by `within`, a same-user click in the `within` before the purchase,
    one output row shape. Inner joins clicks to purchases; `outer`
    makes purchases the LEFT (outer, state-held) side."""
    c = clicks.withWatermark("ts", within).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", within).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") < F.col("purchase_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}"))
    )
    joined = p.join(c, cond, "leftOuter") if outer else c.join(p, cond)
    return joined.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_value",
    )


def static_enrich(stream: DataFrame, dim: DataFrame, key: str = "user_id") -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream is
    joined against a STATIC dimension (profile / feature table) on the
    key — the standard "attach user attributes to the event firehose"
    pattern. Stateless: unlike a stream-stream join, the static side
    carries no watermark and no join state; Spark re-plans the static
    side per micro-batch (so a refreshed snapshot is picked up on the
    next trigger). The dim is explicitly broadcast — at 100 TB of
    stream, the join must never shuffle the firehose; if the dim
    outgrows broadcast, pre-bucket BOTH sides on the key instead.
    Left join keeps events with no profile (nulls, not drops)."""
    return stream.join(F.broadcast(dim), key, "left")


def streaming_rollup_sink(
    stream: DataFrame, snapshot_dir: str, checkpoint: str
) -> StreamingQuery:
    """Streaming materialized rollup: every micro-batch is aggregated to
    a per-user delta and merged into a VERSIONED persisted snapshot via
    operators.relational.merge_rollup — the streaming half of
    sink_incremental_rollup (the batch parity twin proves merge ==
    full-recompute bit-for-bit; this wires the same merge into
    foreachBatch). Each batch writes snapshot version v=batch_id from
    version v=batch_id-1 — an idempotent, replay-safe pattern: a
    re-run batch rewrites ITS OWN version directory from the same
    predecessor, so at-least-once foreachBatch still yields an
    exactly-once snapshot chain. Readers take the max-version dir.

    At 100 TB: the raw firehose is aggregated ONCE per batch
    (delta-sized shuffle), the merge joins only O(keys) rows, and the
    snapshot should be written bucketed by the key to delete even that
    shuffle."""
    import os as _os

    from ..operators.relational import merge_rollup

    def upd(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(milli_units("value")).alias("v_milli"),
        )
        versions = []
        if _os.path.isdir(snapshot_dir):
            versions = sorted(
                int(d.split("=")[1])
                for d in _os.listdir(snapshot_dir)
                if d.startswith("v=") and int(d.split("=")[1]) < batch_id
            )
        if versions:
            prev = spark.read.parquet(f"{snapshot_dir}/v={versions[-1]}")
            merged = merge_rollup(
                prev, delta, ["user_id"], ["n_events", "v_milli"]
            )
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{snapshot_dir}/v={batch_id}")

    return (
        stream.writeStream.foreachBatch(upd)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def ewma_stateful(
    stream: DataFrame,
    alpha: float = 0.2,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful operator: per-user streaming EWMA of `value` —
    the online form of operators/windows.py::ewma (y_0 = x_0,
    y_t = (1-α)y_{t-1} + α·x_t), carried across micro-batches in one
    scalar of state per key.

    applyInPandasWithState folds each batch's events in event-time
    order into the carried (last_ts_ns, y, n) state and emits the
    key's current smoothed value every update. State is O(keys) and
    constant per key — the recurrence needs nothing but its last
    value, which is what makes EWMA the streaming-friendly smoother
    (contrast a rolling median, which must retain its whole frame).
    Within-batch ordering is by event time; ACROSS batches the fold
    applies arriving batches in arrival order, the standard
    online-smoother semantics (an event older than the carried
    last_ts_ns still updates the smoother — flagged via out_of_order
    count rather than reordered, since reordering across triggers
    would need unbounded buffering)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")

    out_schema = (
        "user_id BIGINT, ewma DOUBLE, n_events BIGINT, out_of_order BIGINT"
    )
    state_schema = "last_ts_ns BIGINT, y DOUBLE, n BIGINT, ooo BIGINT"

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        last_ts, y, n, ooo = (
            state.get if state.exists else (None, None, 0, 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows):
            rows = rows.sort_values(["ts_ns", "event_id"])
            for r in rows.itertuples(index=False):
                ts_ns, v = int(r.ts_ns), float(r.value)
                if last_ts is not None and ts_ns < last_ts:
                    ooo += 1
                y = v if y is None else alpha * v + (1.0 - alpha) * y
                last_ts = ts_ns if last_ts is None else max(last_ts, ts_ns)
                n += 1
        state.update((last_ts, y, n, ooo))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "ewma": [y],
                "n_events": [n],
                "out_of_order": [ooo],
            }
        )

    # Timeline gate plus a finite-measure gate: a NULL value arrives as
    # NaN across the Arrow bridge (indistinguishable), and NULL, NaN and
    # ±Inf would each poison the recursive smoother's carried y FOREVER
    # (y_t inherits them for every later t) — non-finite measures are
    # dropped at ingest, the quarantine stance. x−x==0 is the same
    # finite predicate the geometric family uses.
    keyed = _timeline(stream, watermark).filter(
        (F.col("value") - F.col("value")) == F.lit(0.0)
    )
    return keyed.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental scan of the documents corpus as a file stream — the
    landing-zone tail of a crawl/ingest pipeline (new parquet drops
    appear as new micro-batches; schema declared upfront as file
    streams require)."""
    raw = (
        spark.readStream.schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, "
            "n_chars BIGINT"
        )
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    return raw


def corpus_clean_stream(stream: DataFrame) -> DataFrame:
    """The corpus-cleaning cascade as an INCREMENTAL pipeline: quality
    score + language ID (stateless map-side expressions, identical to
    the batch e2e_llm_data_pipeline stages) then exact-dedup via
    dropDuplicates on the content hash — streaming state is one
    32-byte digest per distinct kept document, the incremental twin of
    the batch min(doc_id)-per-text rule. Late/duplicate re-crawls of
    already-kept content are dropped across micro-batches; the first
    arrival wins (arrival order replaces the batch min-doc_id
    tiebreak — the standard incremental-dedup semantics, same contract
    as llm_dedup_incremental's Bloom variant)."""
    from ..llm.text import lang_pred_expr, quality_exprs

    _, _, _, quality = quality_exprs("text")
    pred, _ = lang_pred_expr("text")
    scored = stream.select(
        "doc_id",
        "text",
        F.sha2("text", 256).alias("content_hash"),
        quality.alias("quality"),
        pred.alias("pred_lang"),
    )
    kept = scored.filter(
        (F.col("quality") >= 0.5) & F.col("pred_lang").isin("en", "de")
    )
    return kept.dropDuplicates(["content_hash"])

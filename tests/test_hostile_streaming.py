"""Hostile-corpus gate for the STREAMING twins: the adversarial events
table (NULL ts / NULL user / NaN & ±Inf values / duplicate timestamps /
epoch extremes / unicode types) flows through every kafka_shape operator
as a real file stream, and each result must match its batch twin on the
same data under the pinned timeline policy (un-timestamped rows dropped
at ingest).

What this caught at birth (round 5): one NULL-ts message permanently
CRASHED both applyInPandasWithState operators (``int(None)`` in the
fold) — the worst possible streaming failure mode, a poison message
killing a forever-running query — while dedup_late silently KEPT
NULL-ts rows its batch twin drops.

Fresh-stream lateness (pinned Spark 4.x semantics, measured here): a
new query's initial watermark is epoch 0, so pre-epoch events are LATE
BY DEFINITION, with each operator applying its own late rule —
dropDuplicatesWithinWatermark drops event time <= watermark (epoch-0
row included), window/session aggregates drop windows ENDING at/before
the watermark (epoch-0 row survives: its window end is past 0), the
event-time-timeout stateful op drops event time < watermark, and a
NoTimeout applyInPandasWithState performs no input late-filtering at
all. The batch twins below mirror the applicable rule per operator.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from trino_demo_spark.registry import load_table
from trino_demo_spark.streaming import kafka_shape as ks

from .hostile_corpora import build_hostile_events


@pytest.fixture(scope="module")
def hostile_dir(tmp_path_factory):
    # own directory: the file-stream source lists the whole dir tree, so
    # it must stay free of scratch sinks other suites drop next to the
    # shared corpora
    return build_hostile_events(
        str(tmp_path_factory.mktemp("hostile_stream") / "events_src")
    )


@pytest.fixture()
def hstream(spark, hostile_dir):
    return ks.stream_events(spark, hostile_dir)


@pytest.fixture()
def hbatch(spark, hostile_dir):
    return load_table(spark, "events", hostile_dir)


def _drain(df, name, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def _rows(spark, name):
    return {
        tuple(str(v) for v in r)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }


def test_dedup_late_drops_null_ts_like_batch(spark, hstream, hbatch):
    name = _drain(ks.dedup_late(hstream), "h_dedup")
    out = spark.sql(f"SELECT * FROM {name}")
    assert out.filter(F.col("ts").isNull()).count() == 0
    # dedup late rule: event time <= initial watermark (epoch 0) is late
    valid = hbatch.filter(F.col("ts").isNotNull()).filter(F.col("ts_ns") > 0)
    expected = valid.select("event_id").distinct().count()
    assert out.count() == expected
    got_ids = {r.event_id for r in out.select("event_id").collect()}
    want_ids = {r.event_id for r in valid.select("event_id").distinct().collect()}
    assert got_ids == want_ids


def test_windowed_counts_match_batch_on_hostile(spark, hstream, hbatch):
    name = _drain(ks.windowed_counts(hstream, "1 hour", "2 hours"),
                  "h_win", mode="complete")
    got = _rows(spark, name)
    batch = (
        hbatch.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("cnt"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("win_start"),
                "event_type", "cnt", "sum_value")
    )
    want = {tuple(str(v) for v in r) for r in batch.collect()}
    assert got == want and len(got) > 10


def test_session_windows_match_batch_on_hostile(spark, hstream, hbatch):
    name = _drain(ks.session_windows(hstream, "30 minutes", "2 hours"),
                  "h_sess", mode="complete")
    got = _rows(spark, name)
    batch = (
        # session late rule: windows ENDING at/before the initial
        # watermark (epoch 0) are dropped; gap = 30 min
        hbatch.filter(F.col("ts").isNotNull())
        .filter(F.col("ts_ns") + F.lit(1_800_000_000_000) > 0)
        .groupBy(F.session_window("ts", "30 minutes").alias("win"),
                 F.col("user_id"))
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("win.start").alias("session_start"),
                F.col("win.end").alias("session_end"),
                "user_id", "n_events", "sum_value")
    )
    want = {tuple(str(v) for v in r) for r in batch.collect()}
    assert got == want and len(got) > 10


def test_ewma_stateful_survives_and_matches_model(spark, hstream, hbatch):
    """One availableNow batch: the smoother must not crash on poison
    rows, and each key's final state must equal the Python fold over
    the gated rows (finite value, non-NULL ts) in (ts_ns, event_id)
    order — the exact semantics the operator documents."""
    alpha = 0.2
    name = _drain(ks.ewma_stateful(hstream, alpha=alpha), "h_ewma",
                  mode="update")
    got = {
        r.user_id: (round(r.ewma, 9), r.n_events)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    rows = (
        hbatch.filter(F.col("ts").isNotNull())
        .filter((F.col("value") - F.col("value")) == F.lit(0.0))
        .select("user_id", "ts_ns", "event_id", "value")
        .collect()
    )
    model: dict = {}
    for r in sorted(rows, key=lambda r: (r.ts_ns, r.event_id)):
        y, n = model.get(r.user_id, (None, 0))
        y = r.value if y is None else alpha * r.value + (1 - alpha) * y
        model[r.user_id] = (y, n + 1)
    want = {u: (round(y, 9), n) for u, (y, n) in model.items()}
    assert got == want
    assert all(math.isfinite(y) for y, _ in got.values())


def test_keep_latest_stateful_survives_and_matches_batch(spark, hstream, hbatch):
    """The keep-latest winner per (user, day) must match the batch
    argmax by (ts_ns, event_id) over timestamped rows — and the query
    must survive the poison rows that crashed it at this test's birth."""
    name = _drain(ks.keep_latest_stateful(hstream), "h_keep", mode="update")
    got = {
        (r.user_id, str(r.day)): r.event_id
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    from pyspark.sql import Window as W

    # event-time-timeout late rule: event time < initial watermark
    # (epoch 0) is dropped before the stateful fold
    valid = (
        hbatch.filter(F.col("ts").isNotNull())
        .filter(F.col("ts_ns") >= 0)
        .withColumn("day", F.to_date("ts"))
    )
    w = W.partitionBy("user_id", "day").orderBy(
        F.col("ts_ns").desc(), F.col("event_id").desc()
    )
    batch = (
        valid.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    want = {
        (r.user_id, str(r.day)): r.event_id for r in batch.collect()
    }
    assert got == want and len(want) > 10


def test_corpus_clean_stream_matches_batch_on_hostile(spark, tmp_path_factory):
    """The incremental corpus cleaner must keep exactly the batch e2e
    pipeline's keep set ON THE HOSTILE TEXT CORPUS (NULL text, control
    characters, huge tokens, unicode edge cases) — content-identified,
    so a divergence in either pipeline's NULL/quality policy breaks
    this test."""
    import trino_demo_spark.parity_llm  # noqa: F401  (registers entries)
    from trino_demo_spark.parity import PARITY
    from trino_demo_spark.streaming.kafka_shape import (
        corpus_clean_stream,
        stream_documents,
    )

    from .hostile_corpora import build_hostile_docs

    base = build_hostile_docs(str(tmp_path_factory.mktemp("hostile_docs_stream")))
    q = (
        corpus_clean_stream(stream_documents(spark, base))
        .writeStream.format("memory")
        .queryName("h_corpus_clean")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["content_hash"]
        for r in spark.sql("SELECT * FROM h_corpus_clean").collect()
    }
    e2e = PARITY["e2e_llm_data_pipeline"].fn(spark, base)
    docs = load_table(spark, "documents", base)
    batch = (
        e2e.select("doc_id")
        .join(docs, "doc_id")
        .select(F.sha2("text", 256).alias("content_hash"))
        .distinct()
    )
    want = {r["content_hash"] for r in batch.collect()}
    assert got == want


def test_streaming_rollup_sink_on_hostile(spark, hostile_dir, tmp_path):
    """The versioned-rollup foreachBatch sink, fed the hostile events as
    THREE micro-batches (maxFilesPerTrigger=1), must survive the poison
    rows (NULL/NaN/Inf values, NULL users/ts) and its final snapshot
    must equal the one-shot batch rollup of the same data — the
    incremental == full-recompute guarantee under hostility."""
    import os

    from trino_demo_spark.genutil import milli_units

    hb = load_table(spark, "events", hostile_dir)
    land = str(tmp_path / "land")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    hb.repartition(3).write.parquet(land)
    stream = (
        spark.readStream.schema(spark.read.parquet(land).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(land)
    )
    q = ks.streaming_rollup_sink(stream, snap, ckpt)
    q.awaitTermination(180)
    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(snap) if d.startswith("v=")
    )
    assert len(versions) >= 2  # really ran as multiple micro-batches
    final = spark.read.parquet(f"{snap}/v={versions[-1]}")
    full = hb.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(milli_units("value")).alias("v_milli"),
    )
    got = {tuple(str(v) for v in r) for r in final.collect()}
    want = {tuple(str(v) for v in r) for r in full.collect()}
    assert got == want and len(want) > 10


def test_dedup_state_survives_restart(spark, tmp_path):
    """dropDuplicatesWithinWatermark state must persist across a query
    RESTART (checkpointed state store): replays of already-seen event
    ids landing in a second run — within the watermark — must still be
    dropped, while genuinely new ids flow through. This is the
    cross-restart half of exactly-once that the foreachBatch test
    (source offsets) doesn't cover."""
    import datetime as dt
    import os

    land = str(tmp_path / "land")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [
                (eid, t0 + dt.timedelta(minutes=m),
                 int((t0 + dt.timedelta(minutes=m)).timestamp() * 1e9),
                 7, "click", 1.0, "{}")
                for eid, m in rows
            ],
            "event_id long, ts timestamp, ts_ns long, user_id long, "
            "event_type string, value double, props string",
        )

    def run_once():
        schema = spark.read.parquet(land).schema
        stream = spark.readStream.schema(schema).parquet(land)
        q = (
            ks.dedup_late(stream, watermark="1 hour")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    mk([(1, 0), (2, 5), (3, 10)]).coalesce(1).write.mode("append").parquet(land)
    run_once()
    first = {r.event_id for r in spark.read.parquet(sink).collect()}
    assert first == {1, 2, 3}

    # second landing: replays of 1 and 3 (same event time, within the
    # watermark) plus new ids 4 and 5
    mk([(1, 0), (3, 10), (4, 20), (5, 25)]).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    run_once()
    second = sorted(r.event_id for r in spark.read.parquet(sink).collect())
    assert second == [1, 2, 3, 4, 5], (
        f"replayed ids crossed the restart boundary: {second}"
    )


def test_ewma_state_survives_restart(spark, tmp_path):
    """applyInPandasWithState state must round-trip the checkpointed
    state store across a query RESTART: the smoother's carried
    (last_ts, y, n) picks up where run 1 left off, so the final y
    equals the one-pass fold over BOTH landings in event order (batch 2
    arrives later in arrival order AND later in event time here, so
    arrival-order fold == event-order fold)."""
    import datetime as dt
    import os

    land = str(tmp_path / "land")
    sink_ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    alpha = 0.2

    def mk(rows):
        return spark.createDataFrame(
            [
                (eid, t0 + dt.timedelta(minutes=m),
                 int((t0 + dt.timedelta(minutes=m)).timestamp() * 1e9),
                 9, "tick", v, "{}")
                for eid, m, v in rows
            ],
            "event_id long, ts timestamp, ts_ns long, user_id long, "
            "event_type string, value double, props string",
        )

    out_dir = str(tmp_path / "out")

    def run_once(run_tag):
        # memory sink refuses checkpoint recovery — emit each update
        # batch to parquet via foreachBatch (run-tagged) instead
        schema = spark.read.parquet(land).schema
        stream = spark.readStream.schema(schema).parquet(land)

        def emit(batch_df, batch_id):
            batch_df.withColumn("run", F.lit(run_tag)).write.mode(
                "append"
            ).parquet(out_dir)

        q = (
            ks.ewma_stateful(stream, alpha=alpha)
            .writeStream.foreachBatch(emit)
            .option("checkpointLocation", sink_ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch1 = [(1, 0, 10.0), (2, 5, 20.0)]
    batch2 = [(3, 10, 30.0), (4, 15, 40.0)]
    mk(batch1).coalesce(1).write.mode("append").parquet(land)
    run_once("r1")
    mk(batch2).coalesce(1).write.mode("append").parquet(land)
    run_once("r2")

    rows = spark.read.parquet(out_dir).filter(F.col("run") == "r2").collect()
    assert len(rows) == 1  # run 2 saw only the new file's single key batch
    got = rows[0]
    y = None
    for _, _, v in batch1 + batch2:
        y = v if y is None else alpha * v + (1 - alpha) * y
    assert got.user_id == 9
    assert got.n_events == 4  # state count carried across the restart
    assert abs(got.ewma - y) < 1e-12


def test_stream_stream_join_matches_batch_on_hostile(spark, hstream, hbatch):
    """The watermarked interval join on the hostile corpus (NULL
    ts/users, NaN values, epoch extremes) must equal the batch run of
    the IDENTICAL lib function — the same-code-path guarantee
    stream_join_attrib's oracle proves on clean data, held under
    hostility. NULL-ts rows fail the interval predicates on both paths;
    NULL users never equi-join."""
    s_clicks = hstream.filter(F.col("event_type") == "signup")
    s_purch = hstream.filter(F.col("event_type") == "purchase")
    name = _drain(
        ks.stream_stream_join(s_clicks, s_purch, "1 hour"), "h_ssj"
    )
    got = _rows(spark, name)
    # fresh-stream late rule for join state: event time <= the initial
    # watermark (epoch 0) never enters the state store
    live = hbatch.filter(F.col("ts_ns") > 0)
    b_clicks = live.filter(F.col("event_type") == "signup")
    b_purch = live.filter(F.col("event_type") == "purchase")
    batch = ks.stream_stream_join(b_clicks, b_purch, "1 hour")
    want = {tuple(str(v) for v in r) for r in batch.collect()}
    assert got == want and len(want) > 5


def test_stream_stream_left_join_matches_batch_on_hostile(spark, hstream, hbatch):
    """The LEFT OUTER interval join (r7) on the hostile corpus. Pinned
    semantics, measured here:

    - MATCHED rows equal the batch run of the identical lib function
      exactly (same-code-path guarantee, as for the inner join).
    - UNMATCHED (NULL-click) purchases are emitted iff the final JOINT
      watermark — min of both streams' (max event time − delay) — has
      reached their event time: ``purchase_ts <= joint_wm``. Purchases
      above it are still live in the state store when the availableNow
      drain ends, so they are WITHHELD, not lost (a restart with more
      data would emit them); the hostile corpus pins this with exactly
      one purchase sitting 1h above the joint watermark.
    - The late rule for join state matches the inner join: event time
      <= the fresh-stream initial watermark (epoch 0) never enters
      state (mirrored with ts_ns > 0).
    - NULL-ts rows and NULL users never match on either path.
    """
    s_clicks = hstream.filter(F.col("event_type") == "signup")
    s_purch = hstream.filter(F.col("event_type") == "purchase")
    name = _drain(
        ks.stream_stream_left_join(s_clicks, s_purch, "1 hour"), "h_loj"
    )
    got = _rows(spark, name)

    live = hbatch.filter(F.col("ts_ns") > 0)
    b_clicks = live.filter(F.col("event_type") == "signup")
    b_purch = live.filter(F.col("event_type") == "purchase")
    batch = ks.stream_stream_left_join(b_clicks, b_purch, "1 hour")
    want_all = {tuple(str(v) for v in r) for r in batch.collect()}
    want_matched = {t for t in want_all if t[2] != "None"}

    import datetime as dt

    wm = min(
        b_clicks.agg(F.max("ts")).collect()[0][0],
        b_purch.agg(F.max("ts")).collect()[0][0],
    ) - dt.timedelta(hours=1)
    # unmatched purchases the joint watermark has expired -> must emit
    expired_unmatched = {
        tuple(str(v) for v in r)
        for r in batch.filter(
            F.col("click_id").isNull() & (F.col("purchase_id").isNotNull())
        )
        .join(
            b_purch.select(
                F.col("event_id").alias("purchase_id"), F.col("ts")
            ),
            "purchase_id",
        )
        .filter(F.col("ts") <= F.lit(wm))
        .select("user_id", "purchase_id", "click_id", "purchase_value")
        .collect()
    }
    assert got == want_matched | expired_unmatched
    # the withheld tail is real on this corpus (the boundary is pinned,
    # not vacuous): at least one unmatched purchase sits above the wm
    assert len(want_all - got) >= 1
    assert len(got) > 40


def test_static_enrich_matches_batch_on_hostile(spark, hstream, hbatch):
    """Stream-static broadcast enrichment on the hostile firehose: NULL
    user keys keep their events (left join), enriched rows match the
    batch left join exactly."""
    dim = spark.createDataFrame(
        [(u, f"tier{u % 3}") for u in range(0, 8)] + [(None, "ghost")],
        "user_id long, tier string",
    )
    name = _drain(
        ks.static_enrich(hstream.select("event_id", "user_id", "value"), dim),
        "h_enrich",
    )
    got = _rows(spark, name)
    want = {
        tuple(str(v) for v in r)
        for r in hbatch.select("event_id", "user_id", "value")
        .join(F.broadcast(dim), "user_id", "left")
        .collect()
    }
    assert got == want
    # every hostile event survives, including NULL-user rows
    assert len(got) == hbatch.count()

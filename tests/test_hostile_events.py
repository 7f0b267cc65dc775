"""Hostile-events differential gate: time/window/session/sketch
operators must survive and match the DuckDB oracle on an adversarial
events table — exact session-gap boundaries, duplicate (user, ts)
pairs, NULL ts/user_id/event_type/value, NaN/±Inf/1e308 values,
epoch-0 / pre-1970 / far-future timestamps, malformed props JSON,
unordered file layout (corpus in
tests/hostile_corpora.py::build_hostile_events).

The round-4 sweep over all 51 events-only oracle queries found 25
defects: 6 crashes (applyInPandas int(NaN) on a NULL-user group,
parse_json MALFORMED_RECORD, NULL map keys in the ALS item state,
clamped-FLOOR long-SUM overflows on ±Inf milli-units — Spark's
FLOOR(DOUBLE) returns a CLAMPED BIGINT, so try_cast can't save the
downstream sum) and 19 engine/oracle divergences (NULL-ts rows gluing
sessions together differently per engine NULL ordering, NaN treated
as missing by Spark's na.drop/na.fill but not by IS NOT NULL /
COALESCE, one NaN dragging Spark's percentile to NaN while DuckDB
clips it down to p99, nullable int64 keys flipping pandas dtypes,
recursive-CTE oracles stalling on NULL keys).

Policies pinned here (mirrored in the oracles):
- timeline ops (windows, sessions, per-day/week rollups, sequences):
  an un-timestamped event has no position on the time axis — drop at
  ingest (`ts IS NOT NULL`);
- sketch-keyed ops (CMS, rating matrix): NULL key components carry no
  hashable identity — drop at ingest;
- integer-unit accumulators: values with no exact int64 representation
  (NaN/Inf/1e308-scaled) contribute NULL-skipped cells
  (genutil.milli_units ↔ TRY_CAST(FLOOR(...)));
- measure stats (winsorize bands): non-finite values are excluded from
  the fit and map to NULL (missing);
- per-row scalar ops propagate, with NaN counted as missing exactly
  where pandas semantics say so (na.drop / na.fill);
- NULL user_id stays a legitimate group key everywhere else.

The full 51-query sweep (scripts/hostile_sweep.py) is re-run
out-of-band per round; this gate pins the defect set.
"""

from __future__ import annotations

import pytest

from trino_demo_spark import parity_llm  # noqa: F401  (registers entries)
from trino_demo_spark import parity_ml  # noqa: F401  (registers entries)
from trino_demo_spark.parity import PARITY

from .hostile_corpora import build_hostile_events
from .oracle import duck_views, oracle_mismatch

# every query the round-4 sweep found defective, now pinned green
# (stream_rollup_mv runs a real multi-batch streaming query — covered
# by the out-of-band sweep to keep the CI gate fast)
HOSTILE_GATED = [
    "scan_kafka_json",
    "filter_notnull",
    "null_fill",
    "parse_date",
    "f_date_strptime",
    "stream_dedup_late",
    "stream_window_agg",
    "stream_sliding_window",
    "agg_pivot",
    "agg_bitmap_distinct",
    "agg_approx_distinct",
    "agg_hll_rollup",
    "agg_cms_heavy_hitters",
    "agg_winsorize",
    "agg_ks_test",
    "analytics_markov_transitions",
    "win_session_native",
    "win_sessionize",
    "win_cusum_alarm",
    "win_holt_linear",
    "grouped_map_gaps",
    "f_variant_semistructured",
    "sink_incremental_rollup",
    "ml_als_recommend",
]


@pytest.fixture(scope="module")
def hostile_ev_sf(tmp_path_factory):
    return build_hostile_events(str(tmp_path_factory.mktemp("hostile_ev")))


@pytest.fixture(scope="module")
def hostile_ev_duck(hostile_ev_sf):
    with duck_views(hostile_ev_sf) as con:
        yield con


@pytest.mark.parametrize("name", HOSTILE_GATED)
def test_hostile_events_parity(name, spark, hostile_ev_sf, hostile_ev_duck):
    p = PARITY[name]
    spdf = p.fn(spark, hostile_ev_sf).toPandas()
    miss = oracle_mismatch(spdf, hostile_ev_duck.sql(p.sql).df())
    assert miss is None, f"{name} on hostile events: {miss}"


def test_session_gap_boundary_semantics(spark):
    """Pin the empirically-verified session_window boundary: an event
    EXACTLY gap after the previous one MERGES into its session
    (gap-inclusive); only a strictly larger gap splits. The lag-based
    oracle's strict `>` encodes the same rule — this is the pair the
    hostile corpus plants for users 100 (exact 1800s, one session) and
    101 (1800s + 1µs, two sessions)."""
    import datetime

    from pyspark.sql import functions as F

    rows = [
        (1, datetime.datetime(2024, 1, 1, 0, 0, 0), 1.0),
        (1, datetime.datetime(2024, 1, 1, 0, 30, 0), 2.0),
        (2, datetime.datetime(2024, 1, 1, 0, 0, 0), 1.0),
        (2, datetime.datetime(2024, 1, 1, 0, 30, 0, 1), 2.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
        .groupBy("user_id")
        .count()
        .collect()
    )
    sessions = {r["user_id"]: r["count"] for r in out}
    assert sessions == {1: 1, 2: 2}

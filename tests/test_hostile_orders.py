"""Hostile-orders differential gate: the TPC-H-shaped star-schema
family must survive and match the DuckDB oracle on adversarial
orders/lineitem tables — NULL join keys / dates / measures,
NaN/±Inf/1e308 money, negative and 1e12 quantities, orphan and
childless keys, epoch-extreme dates, pathological status strings
(corpus in tests/hostile_corpora.py::build_hostile_orders).

The round-4 sweep over all 98 orders/lineitem-only oracle queries
found 34 defects: engine crashes (u2's FLOOR(DOUBLE) returning a
CLAMPED Long.MAX that overflows the downstream ANSI SUM, NaN→BIGINT
casts in the UDAF feed, BIGINT→INT bin casts on 1e12 quantities),
oracle crashes (DuckDB's checked CAST/VARPOP/STDDEV raising on values
Spark silently turns into ±Inf), and divergences (pandas NaT vs None
on nullable dates, NaN sorting GREATEST into Spark percentiles while
DuckDB quantiles skip it, NULL keys inflating the PageRank node count,
CSV round-trips conflating NULL with '', presence-by-key-nullability
in the CDC oracle, NULL measures ranking NULLS-FIRST vs NULLS-LAST).

Policies pinned here (mirrored in the oracles):
- u2()/U2(): a money value whose ×100 scaling has no int64
  representation converts to a NULL-skipped accumulator cell
  (TRY_CAST mirror) — never a clamped Long.MAX;
- exact-moment stats (regression / covariance / quantiles / corr /
  stddev / error metrics / OLS fits / weighted mean): measures enter
  only with finite integer units < 2^31 (unit products must fit
  int64; DuckDB's second-moment aggregates RAISE on what Spark turns
  into Inf) — out-of-band rows are invalid for exact stats;
- forecast series: days enter the AR/scaling family only when finite
  and variance-representable (|v| < 1e150);
- timeline ops (daily series, chronological split): undated rows are
  dropped at ingest;
- graph ops: a NULL endpoint is not a node;
- distribution windows: NULL measures have no percentile position;
  NaN/±Inf order consistently (both engines sort NaN greatest);
- per-row casts mirror IEEE demotion (double→float32 overflow → ±Inf)
  and nullable dates surface as VARCHAR;
- CSV sinks write an explicit NULL marker so '' and NULL survive the
  text boundary distinctly.

The full 98-query sweep (scripts/hostile_sweep.py
--tables orders) re-runs out-of-band per round; this gate pins the
defect set.
"""

from __future__ import annotations

import pytest

from trino_demo_spark import parity_llm  # noqa: F401  (registers entries)
from trino_demo_spark import parity_ml  # noqa: F401  (registers entries)
from trino_demo_spark.parity import PARITY

from .hostile_corpora import build_hostile_orders
from .oracle import duck_views, oracle_mismatch

HOSTILE_GATED = [
    "scan_csv_typed_header",
    "sink_csv",
    "project_cols",
    "bday_period",
    "join_left_outer",
    "join_asof",
    "f_date_arith",
    "win_moving_avg",
    "win_running_total",
    "win_split_chrono",
    "sort_global_asc",
    "cast_f32",
    "agg_quantiles",
    "agg_corr",
    "agg_error_metrics",
    "f_agg_stats",
    "f_argminmax",
    "agg_histogram",
    "win_frame_values",
    "win_distribution",
    "agg_regression",
    "agg_covariance_matrix",
    "udaf_weighted_mean",
    "scan_schema_evolution",
    "cdc_snapshot_diff",
    "sink_jsonl_roundtrip",
    "agg_gini",
    "ml_linreg_fit",
    "ml_linreg_predict",
    "ml_pandas_udf_infer",
    "ml_ar_forecast",
    "e2e_forecast_pipeline",
    "ml_pagerank",
    "ml_residual_bins",
    "profile_quarantine",
]


@pytest.fixture(scope="module")
def hostile_ord_sf(tmp_path_factory):
    return build_hostile_orders(str(tmp_path_factory.mktemp("hostile_ord")))


@pytest.fixture(scope="module")
def hostile_ord_duck(hostile_ord_sf):
    with duck_views(hostile_ord_sf) as con:
        yield con


@pytest.mark.parametrize("name", HOSTILE_GATED)
def test_hostile_orders_parity(name, spark, hostile_ord_sf, hostile_ord_duck):
    p = PARITY[name]
    spdf = p.fn(spark, hostile_ord_sf).toPandas()
    miss = oracle_mismatch(spdf, hostile_ord_duck.sql(p.sql).df())
    assert miss is None, f"{name} on hostile orders: {miss}"


def test_quarantine_contract_catches_hostile_rows(spark, hostile_ord_sf):
    """The declared orders contract must quarantine every hostile row a
    downstream operator family would otherwise have to drop itself:
    the valid side carries no NULL keys/dates and only unit-
    representable money, and the split is lossless (valid + rejected
    = input, reasons machine-parseable)."""
    from pyspark.sql import functions as F

    from trino_demo_spark.operators import quality as Q
    from trino_demo_spark.registry import load_table

    o = load_table(spark, "orders", hostile_ord_sf)
    contract = [
        ("o_orderkey", Q.not_null()),
        ("o_orderdate", Q.not_null()),
        ("o_totalprice", Q.unit_band()),
    ]
    valid, rejected = Q.quarantine(o, contract)
    n_in, n_ok, n_bad = o.count(), valid.count(), rejected.count()
    assert n_ok + n_bad == n_in and n_bad > 0
    assert valid.filter(F.col("o_orderkey").isNull()).count() == 0
    assert valid.filter(F.col("o_orderdate").isNull()).count() == 0
    u = F.col("o_totalprice") * 100
    assert (
        valid.filter(
            F.col("o_totalprice").isNull()
            | ~((u - u) == F.lit(0.0))
            | (F.abs(u) >= F.lit(9223372036854775808.0))
        ).count()
        == 0
    )
    reasons = {
        r["__quarantine_reason"]
        for r in rejected.select("__quarantine_reason").distinct().collect()
    }
    valid_atoms = {
        "o_orderkey:not_null",
        "o_orderdate:not_null",
        "o_totalprice:unit_band_100",
    }
    for reason in reasons:
        assert set(reason.split(",")) <= valid_atoms, reason


def test_uband_boundary_matches_oracle(spark):
    """Differential pin of the exact unit-band boundary semantics,
    including the value whose x100 scaling is exactly int64 min — the
    edge where an ABS()-based guard raises ARITHMETIC_OVERFLOW on both
    engines instead of banding the row out."""
    import duckdb

    from trino_demo_spark.parity import UBAND, uband

    edge = [
        -92233720368547758.08,   # *100 == int64 min exactly
        92233720368547758.08,    # *100 == 2^63 (not representable)
        -21474836.48,            # *100 == -2^31 (just outside the band)
        21474836.48,             # *100 == 2^31 (just outside)
        -21474836.47,            # just inside
        21474836.47,             # just inside
        0.0, -0.0, 5e-324, 1e308, -1e308,
        float("nan"), float("inf"), float("-inf"), None,
        123.45,
    ]
    sdf = spark.createDataFrame([(i, v) for i, v in enumerate(edge)], "i long, v double")
    got = sorted(
        r["i"] for r in sdf.filter(uband("v")).select("i").collect()
    )
    con = duckdb.connect()
    con.sql("CREATE TABLE t (i BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(edge)])
    exp = sorted(
        r[0] for r in con.sql(f"SELECT i FROM t WHERE {UBAND('v')}").fetchall()
    )
    assert got == exp
    # the in-band set is exactly the two just-inside values and the
    # small finite ones
    assert got == [4, 5, 6, 7, 8, 15]

"""Aggregate operator library: scaler fits, error metrics, correlation.

The reference fits sklearn scalers and computes error metrics client-side
(localTrinoTest.ipynb cells 11/25, KubeflowStockPricePrediction.ipynb
cell-11); here the *fit* is a Spark global aggregate (partial + final,
map-side combined by HashAggregateExec) and the *transform* is pure column
arithmetic parameterized by the fit row — joined back via a broadcast
cross join so nothing ever collects more than one row to the driver.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tie-safe rounding epsilon for cross-engine parity of avg/quantile/corr
# outputs (see trino_demo_spark.parity.EPS for the rationale).
EPS = 1e-9


def minmax_fit(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column min/max (MinMaxScaler.fit, localTrinoTest.ipynb:467-472).
    One row out; single partial+final aggregate pass."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}_min"), F.max(c).alias(f"{c}_max")]
    return df.agg(*aggs)


def minmax_transform(df: DataFrame, fit: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Affine (x-min)/(max-min) per column. `fit` is a 1-row frame —
    broadcast cross join keeps the transform shuffle-free. try_divide:
    a constant column has max == min; NULL (DuckDB's x/0 result too)
    beats an ANSI DIVIDE_BY_ZERO crash."""
    out = df.crossJoin(F.broadcast(fit))
    for c in cols:
        out = out.withColumn(
            f"{c}_scaled",
            F.try_divide(
                F.col(c) - F.col(f"{c}_min"),
                F.col(f"{c}_max") - F.col(f"{c}_min"),
            ),
        )
    return out.drop(*[f"{c}_min" for c in cols], *[f"{c}_max" for c in cols])


def robust_fit(df: DataFrame, cols: Sequence[str], exact: bool = True) -> DataFrame:
    """Per-column q25/q50/q75 (RobustScaler.fit,
    KubeflowStockPricePrediction.ipynb:272-311). exact=False switches to
    approx_percentile — the 100 TB path (mergeable sketch, no sort)."""
    fn = "percentile" if exact else "approx_percentile"
    aggs = []
    for c in cols:
        aggs += [
            F.expr(f"{fn}({c}, 0.25)").alias(f"{c}_q25"),
            F.expr(f"{fn}({c}, 0.5)").alias(f"{c}_q50"),
            F.expr(f"{fn}({c}, 0.75)").alias(f"{c}_q75"),
        ]
    return df.agg(*aggs)


def error_metrics(
    df: DataFrame, y_col: str, pred_col: str, round_to: int | None = 4
) -> DataFrame:
    """MAE / MAPE / MDAPE between truth and prediction
    (localTrinoTest.ipynb:903-919). Single global aggregate."""
    y, p = F.col(y_col), F.col(pred_col)
    ape = F.abs((y - p) / y)
    out = df.agg(
        F.avg(F.abs(y - p)).alias("mae"),
        (F.avg(ape) * 100).alias("mape"),
        (F.expr(f"percentile(abs(({y_col} - {pred_col}) / {y_col}), 0.5)") * 100).alias(
            "mdape"
        ),
    )
    if round_to is not None:
        out = out.select(
            *[F.round(F.col(c) + F.lit(EPS), round_to).alias(c) for c in out.columns]
        )
    return out


def corr_pairs(
    df: DataFrame, pairs: Sequence[tuple[str, str]], round_to: int = 6
) -> DataFrame:
    """Pearson correlations for the given column pairs in ONE aggregate
    pass (the reference computes an 8×8 matrix client-side,
    localTrinoTest.ipynb:438-440). Rounded for cross-engine determinism."""
    return df.agg(
        *[
            F.round(F.corr(a, b) + F.lit(EPS), round_to).alias(f"corr_{a}_{b}")
            for a, b in pairs
        ]
    )


def last_scalar(df: DataFrame, order_by: Sequence, value_col: str) -> DataFrame:
    """Last value of a column in the given ordering
    (`df1.iloc[-1,0]`, KubeflowStockPricePrediction.ipynb:570-571).
    orderBy(desc).limit(1) → TakeOrderedAndProject, no global sort."""
    desc_cols = [F.col(c).desc() if isinstance(c, str) else c.desc() for c in order_by]
    return df.orderBy(*desc_cols).limit(1).select(value_col)


def weighted_mean_udaf():
    """Pandas GROUPED_AGG UDAF (the custom-aggregate surface from
    SURVEY.md §2.10): exact weighted mean over integer units.

    The whole group's Arrow batch arrives as pandas Series; sums run in
    int64 (numpy, exact, order-independent) and only the final ratio is
    a double — so the result is bit-identical across engines and
    partitionings.

    Scale honesty (verified via .explain): Spark runs pandas grouped-agg
    UDAFs as ArrowAggregatePython with NO map-side partial aggregation —
    the full (key, cols) rows shuffle to the reducer, unlike built-in
    aggregates' partial+final split. That makes this the custom-logic
    surface, not the hot path: at 100 TB, express the same thing as
    built-ins where possible (usum(p*q)/usum(q), which partial-aggs),
    and reserve the UDAF for aggregation logic built-ins can't express.
    Envelope: int64-exact while sum(price_units*qty) < 2^63 (~9e18 —
    per-row ~5e8 at TPC-H magnitudes, so ~1.8e10 rows/group)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def wmean_units(price_units: pd.Series, qty: pd.Series) -> float:
        # NULLs arrive as NaN in a float series; astype('int64') raises
        # on non-finite values, which aborted the whole query on the
        # first NULL price/qty. Built-in aggregates skip NULL rows —
        # match that.
        ok = price_units.notna() & qty.notna()
        pw = int(price_units[ok].astype("int64").mul(qty[ok].astype("int64")).sum())
        wq = int(qty[ok].astype("int64").sum())
        if wq == 0:
            return float("nan")
        return (pw / wq) / 100.0

    return wmean_units


def approx_distinct_by_key(
    df: DataFrame, key, value_col: str, rsd: float = 0.05
) -> DataFrame:
    """Per-key approximate distinct count (HyperLogLog++, Spark's
    approx_count_distinct). The 100 TB cardinality path: fixed-size
    sketch per group regardless of value cardinality, commutative
    partial merges (partition-order-independent, so the estimate is
    deterministic for a given dataset), no exact-distinct's
    one-row-per-distinct-value shuffle. Estimate error is bounded by
    rsd; tests/test_sketches.py measures it against the exact count."""
    return df.groupBy(key).agg(
        F.approx_count_distinct(value_col, rsd).alias("approx_distinct")
    )


def hll_rollup(
    df: DataFrame,
    fine_key,
    coarse_key,
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Two-level distinct-count rollup via Datasketches HLL: build one
    sketch per fine group (hll_sketch_agg), then UNION the persisted
    sketches up to the coarse group (hll_union_agg) and estimate — the
    pre-aggregated-cube pattern at 100 TB, where daily sketches are
    stored once and any coarser rollup (week / month / all-time) merges
    them WITHOUT rescanning the raw data. Distinct counts are not
    summable across groups; sketches are."""
    daily = df.groupBy(fine_key).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sk")
    )
    # hll_union_agg's 2nd arg is allowDifferentLgConfigK, not lg_k —
    # all sketches here share lg_k, so the default (false) is right.
    return daily.groupBy(coarse_key).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_distinct")
    )


def clip_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    exact: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization: clamp `value_col` to its group's
    [p_lo, p_hi] percentile band (outlier clipping before training /
    feature scaling). NULL values stay NULL.

    The percentile frame is one row per group — broadcast back to the
    fact rows, so the fact side never shuffles. `exact=True` uses
    percentile() (full value buffer per group — right for bounded-size
    groups and oracle parity); `exact=False` uses approx_percentile's
    fixed-size sketch, the 100 TB path for unbounded groups.

    Finite-measures policy: NULL and non-finite values have no place on
    the clipping axis — NaN would poison the percentile (it sorts
    GREATEST on Spark, so one NaN drags p99 to NaN and every clipped
    value with it; DuckDB's quantile instead clips NaN down to p99 —
    silent cross-engine divergence), and ±Inf skews the band. Both are
    excluded from the band fit and clip to NULL (missing), mirroring
    `WHERE isfinite(value)` in the oracles."""
    fn = "percentile" if exact else "approx_percentile"
    finite = (F.col(value_col) - F.col(value_col)) == F.lit(0.0)
    base = df.withColumn("__fv", F.when(finite, F.col(value_col)))
    q = base.groupBy(*group_cols).agg(
        F.expr(f"{fn}(__fv, {p_lo})").alias("__lo"),
        F.expr(f"{fn}(__fv, {p_hi})").alias("__hi"),
    )
    out = out_col or f"{value_col}_clipped"
    return (
        base.join(F.broadcast(q), list(group_cols))
        .withColumn(
            out,
            F.when(
                F.col("__fv").isNotNull(),
                F.least(F.greatest(F.col("__fv"), F.col("__lo")), F.col("__hi")),
            ),
        )
        .drop("__lo", "__hi", "__fv")
    )


def cms_estimates(
    df: DataFrame,
    group_col: str,
    value_col: str,
    probes: DataFrame,
    depth: int = 4,
    width: int = 2048,
) -> DataFrame:
    """Count-Min sketch built entirely as DataFrame aggregates, then
    probed for the given (group, value) keys: per (group, seed d,
    bucket xxhash64(value, d) % width) a partial count; an estimate is
    the MIN over the depth rows its key hashes into. Fixed
    depth·width·|groups| state regardless of value cardinality,
    mergeable by addition — the heavy-hitter / frequency-probe path
    when exact per-value counts would shuffle one row per distinct
    value at 100 TB. Deterministic: CMS estimates are exact functions
    of the data (no RNG), and est >= true count always holds by
    construction.

    `probes` must carry (group_col, value_col) keys to estimate —
    typically a small exact top-k frame; it is broadcast into the
    bucket lookup."""
    def bucketed(frame, keep):
        return (
            frame.select(
                *keep,
                *[
                    (F.xxhash64(F.col(value_col), F.lit(d)) % width)
                    .alias(f"b_{d}")
                    for d in range(depth)
                ],
            )
            .unpivot(keep, [f"b_{d}" for d in range(depth)], "d", "bucket")
            .withColumn("d", F.regexp_replace("d", "b_", "").cast("int"))
        )

    sketch = (
        bucketed(df, [group_col])
        .groupBy(group_col, "d", "bucket")
        .agg(F.count("*").alias("c"))
    )
    pr = F.broadcast(bucketed(probes, [group_col, value_col]))
    return (
        pr.join(sketch, [group_col, "d", "bucket"], "left")
        .groupBy(group_col, value_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_est"))
    )

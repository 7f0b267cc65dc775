"""Empty-input robustness: every query must degrade gracefully on
zero-row tables.

At 100 TB an empty input is routine — an aggressive predicate, a
just-created partition, a replayed stream with nothing new. A full
sweep of all queries against zero-row mirrors of the testdata
(scripts in PERF.md round-4 notes) found 15 that crashed on the
driver: numpy AxisErrors in the ANN quantizer fits, ZeroDivision in
pagerank, None-subscript on collected fit params, untypable
``create_map()``/``F.array()`` over empty literal sets, read-back of
partitioned sinks that wrote zero directories, and runtime layout
asserts that demanded pruning/fragmentation on tables too small to
exhibit either. This test pins the fixed behavior for exactly that
set (the rest of the inventory is swept out-of-band — it is two
orders of magnitude slower than the value it adds per CI run).
"""

from __future__ import annotations

import os

import pytest

from trino_demo_spark import parity_llm  # noqa: F401  (registers entries)
from trino_demo_spark import parity_ml  # noqa: F401  (registers entries)
from trino_demo_spark.parity import PARITY
from trino_demo_spark.registry import TABLE_NAMES

# The 15 queries the round-4 empty-input sweep crashed, each now
# expected to return a zero-row frame with its normal-path schema
# (stream_rollup_mv/ml_als_recommend legitimately return 1 verdict/
# empty-snapshot row; see their wrappers).
EMPTY_HARDENED = [
    "llm_similarity_ivf",
    "llm_similarity_pq",
    "llm_similarity_ivfpq",
    "ml_pagerank",
    "ml_kmeans_profile",
    "ml_ar_forecast",
    "ml_pandas_udf_infer",
    "llm_embed_pca",
    "ml_logreg",
    "scan_zonemap_pruned",
    "ml_als_recommend",
    "scan_zorder_2d",
    "sink_compact_files",
    "stream_rollup_mv",
    "sink_parquet_partitioned",
]

@pytest.fixture(scope="module")
def empty_sf(spark, tmp_path_factory):
    """Zero-row parquet mirrors of every testdata table (schema kept)."""
    base = tmp_path_factory.mktemp("emptydata")
    src = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    for t in TABLE_NAMES:
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).coalesce(
            1
        ).write.mode("overwrite").parquet(str(base / f"{t}.parquet"))
    return str(base)


# Verdict-style queries aggregate over the (empty) query set, so like
# their oracles they emit exactly ONE row even on empty input.
VERDICT_ONE_ROW = {
    "ml_als_recommend",
    "llm_similarity_ivf",
    "llm_similarity_pq",
    "llm_similarity_ivfpq",
    "ml_kmeans_profile",  # verdict-row surface since the oracle upgrade
}


@pytest.mark.parametrize("name", EMPTY_HARDENED)
def test_empty_input_graceful(name, spark, empty_sf):
    df = PARITY[name].fn(spark, empty_sf)
    n = df.count()
    assert n == (1 if name in VERDICT_ONE_ROW else 0)
    assert len(df.columns) > 0

"""Hostile-embeddings differential gate: vector operators must survive
and match the DuckDB oracle on adversarial vectors — NULL cells, all/
partial NaN, ±Inf components, zero vectors, 1e30 magnitudes, float32
denormals, negative zero, exact/near duplicates (corpus in
tests/hostile_corpora.py::build_hostile_emb).

At corpus scale these are routine (failed embedding calls, overflowed
upstream math, padding rows). The round-4 sweep found 11 defects: the
Arrow matmul paths hard-crashed on NULL cells (inhomogeneous vstack),
quantize hit ANSI CAST_OVERFLOW on NaN, the k-means argmin fold's
strict < never fires on NaN distances (sentinel index → element_at
crash), and a NaN cosine ranks ABOVE every real neighbor in a
descending sort on BOTH engines (NaN compares greatest) — silently
corrupting top-k. Policy: geometric operators (similarity / ANN /
near-dup / clusters / k-means / PCA) drop invalid vectors at ingest
via similarity.finite_vectors (NULL, wrong dim, non-finite component;
oracle mirror: isfinite list_filter); per-vector scalar operators
(normalize, quantize, explode) PROPAGATE — NaN/Inf components become
NaN outputs or NULL codes (try_cast), never a crash.
"""

from __future__ import annotations

import pytest

from trino_demo_spark import parity_llm  # noqa: F401  (registers entries)
from trino_demo_spark import parity_ml  # noqa: F401  (registers entries)
from trino_demo_spark.parity import PARITY

from .hostile_corpora import build_hostile_emb
from .oracle import duck_views, oracle_mismatch

HOSTILE_GATED = [
    "llm_similarity_topk",
    "llm_similarity_topk_arrow",
    "llm_embed_neardup",
    "llm_embed_neardup_arrow",
    "llm_embed_neardup_lsh",
    "llm_embed_normalize",
    "llm_embed_quantize",
    "llm_dedup_semantic",
    "llm_dedup_semantic_lsh",
    "llm_similarity_lsh",
    "llm_similarity_ivf",
    "llm_similarity_pq",
    "llm_similarity_ivfpq",
    "llm_search_hybrid",
    "f_array_funcs",
    "project_lateral_explode",
    # verdict/invariant surfaces since the oracle upgrade — full
    # engine-vs-oracle compare, including exact finite-row membership
    "llm_embed_pca",
    "ml_kmeans_profile",
    "ml_logreg",
]


@pytest.fixture(scope="module")
def hostile_emb_sf(tmp_path_factory):
    return build_hostile_emb(str(tmp_path_factory.mktemp("hostile_emb")))


@pytest.fixture(scope="module")
def hostile_emb_duck(hostile_emb_sf):
    with duck_views(hostile_emb_sf) as con:
        yield con


@pytest.mark.parametrize("name", HOSTILE_GATED)
def test_hostile_embeddings_parity(name, spark, hostile_emb_sf, hostile_emb_duck):
    p = PARITY[name]
    spdf = p.fn(spark, hostile_emb_sf).toPandas()
    miss = oracle_mismatch(spdf, hostile_emb_duck.sql(p.sql).df())
    assert miss is None, f"{name} on hostile embeddings: {miss}"

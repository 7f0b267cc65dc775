"""Hostile-dims differential gate: string/collation and text-boundary
semantics over adversarial dimension tables joined to clean facts —
unicode case-folding traps (ß, Turkish İ/ı, combining diacritics),
embedded newlines/tabs/quotes/backslashes, padded and 500-char names,
NULL keys/names/balances (corpus in
tests/hostile_corpora.py::build_hostile_dims).

The round-4 sweep over all 135 relational queries found 2 defects,
both at the CSV text boundary and the NULL-string seam:

- scan_csv_header: a name with an embedded newline silently became two
  half-rows (the writer quotes record separators but the default
  reader still splits on every newline — multiLine=true required), the
  writer's DEFAULT ignoreLeading/TrailingWhiteSpace=true silently
  TRIMMED padded names, and the default ''/NULL rendering conflated
  empty strings with NULLs on read-back (explicit nullValue marker).
- f_str_funcs: concat_ws silently SKIPS NULL operands, turning a
  nameless customer's name/segment concat into just the segment, where
  `x || '/' || y` propagates NULL on both engines — swapped to F.concat.

Everything else — case-insensitive joins, levenshtein over non-ASCII,
hash functions, set ops, recursive CTE, every broadcast dim-join chain
including the full TPC-H suite — was bit-exact without changes.

The full sweep re-runs via scripts/hostile_sweep.py
--tables dims; this gate pins the defect set plus the string-heaviest
surfaces.
"""

from __future__ import annotations

import pytest

from trino_demo_spark import parity_llm  # noqa: F401  (registers entries)
from trino_demo_spark import parity_ml  # noqa: F401  (registers entries)
from trino_demo_spark.parity import PARITY

from .hostile_corpora import build_hostile_dims
from .oracle import duck_views, oracle_mismatch

HOSTILE_GATED = [
    # ADVICE r5 (round-6 fix): q10 ranks top-20 BEFORE touching customer,
    # so its pre-top-k guard must mirror BOTH of the oracle's pre-ranking
    # inner joins — custkey IN customer AND c_nationkey IN nation. This
    # corpus has customers with dangling nationkeys 14-24 (nation stops
    # at 13) holding real smoke-fact revenue: without the nation probe a
    # dangling-dim customer keeps a top-20 slot the oracle gives to rank
    # 21. q18 gated alongside (same top-k-before-dim-join shape).
    "tpch_q10",
    "tpch_q18",
    "scan_csv_header",
    "f_str_funcs",
    "f_str_levenshtein",
    "f_hash_funcs",
    "filter_str_eq",
    "join_ci_keys",
    "join_full",
    "setop_intersect",
    "sql_recursive_cte",
    "sink_kafka_json",
]


@pytest.fixture(scope="module")
def hostile_dim_sf(tmp_path_factory):
    return build_hostile_dims(str(tmp_path_factory.mktemp("hostile_dim")))


@pytest.fixture(scope="module")
def hostile_dim_duck(hostile_dim_sf):
    with duck_views(hostile_dim_sf) as con:
        yield con


@pytest.mark.parametrize("name", HOSTILE_GATED)
def test_hostile_dims_parity(name, spark, hostile_dim_sf, hostile_dim_duck):
    p = PARITY[name]
    spdf = p.fn(spark, hostile_dim_sf).toPandas()
    miss = oracle_mismatch(spdf, hostile_dim_duck.sql(p.sql).df())
    assert miss is None, f"{name} on hostile dims: {miss}"

"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The inventory itself lives in ``trino_demo_spark.parity`` (one entry per
operator ID from SURVEY.md §2, each a PySpark callable paired with its
DuckDB oracle SQL); this module just re-exports it in driver shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver may import this file by path (importlib spec) with an
# arbitrary CWD — make the package resolvable regardless.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from trino_demo_spark import parity_llm as _parity_llm  # noqa: F401  (registers entries)
from trino_demo_spark import parity_ml as _parity_ml  # noqa: F401  (registers entries)
from trino_demo_spark.parity import PARITY
from trino_demo_spark.session import apply_runtime_confs


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §2.3 J1 analog — join_inner_eq) on
    /root/testdata/sf0.001: two per-day pre-aggregations joined on the
    date key, filtered and globally sorted."""
    apply_runtime_confs(spark)
    return PARITY["join_inner_eq"].fn(spark, "/root/testdata/sf0.001")


def _driver_history() -> dict[str, tuple[str, int]]:
    """Latest driver verdict per query from committed CORRECTNESS_r*.json.

    Returns ``{name: (verdict, round)}`` where ``round`` is the round of
    the latest row for ``name`` and ``verdict`` is ``green`` only when
    that row has no error and rows, schema AND value-hash all matched
    (a rows-only match is not proof), else ``fail``. Names the driver
    never tested are absent. This is the one reader of the history:
    ``queries()`` and ``scripts/regen_coverage.py`` both use it."""
    import glob
    import json
    import re

    rounds = []
    for p in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if m:
            rounds.append((int(m.group(1)), p))
    history: dict[str, tuple[str, int]] = {}
    for rnd, p in sorted(rounds):
        try:
            with open(p) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            green = row.get("err") is None and all(
                row.get(k) for k in ("rows_match", "schema_match", "hash_match")
            )
            history[name] = ("green" if green else "fail", rnd)
    return history


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver runs entries in dict order and caps how many it checks
    per round, so the order decides what gets (re-)proven: entries whose
    latest driver row failed first, then never-tested entries, then
    green entries by OLDEST green round, so each round refreshes the
    stalest proof. Ties keep registry order."""

    def wrap(name):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_runtime_confs(spark)
            return PARITY[name].fn(spark, sf_dir)

        run.__doc__ = PARITY[name].doc
        return run

    history = _driver_history()

    def rank(name: str) -> tuple[int, int]:
        if name not in history:
            return (1, 0)
        verdict, rnd = history[name]
        return (0, 0) if verdict == "fail" else (2, rnd)

    return {name: wrap(name) for name in sorted(PARITY, key=rank)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query (omitted for engine-hash-based
    ops → driver records rows-only checks)."""
    return {name: p.sql for name, p in PARITY.items() if p.sql is not None}

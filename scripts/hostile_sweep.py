"""Hostile differential sweep: run every oracle query whose tables all
lie in the chosen hostile family (tests/hostile_corpora.py) on that
corpus and compare engine vs DuckDB oracle with the shared harness
(tests/oracle.py). The CI gates (tests/test_hostile_*.py) pin
representative subsets; this sweep covers every such query and is
re-run out-of-band per round.

Usage: python scripts/hostile_sweep.py [--tables MODE] [--only name,name,...]
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from tests.hostile_corpora import (  # noqa: E402
    build_hostile_dims,
    build_hostile_docs,
    build_hostile_emb,
    build_hostile_events,
    build_hostile_orders,
)
from tests.oracle import duck_views, oracle_mismatch  # noqa: E402
from trino_demo_spark.registry import TABLE_NAMES  # noqa: E402

_STAR = set(TABLE_NAMES) - {"events", "documents", "embeddings"}

# mode -> (corpus builders, tables a swept query may read)
MODES = {
    "events": ((build_hostile_events,), {"events"}),
    "orders": ((build_hostile_orders,), {"orders", "lineitem"}),
    # hostile facts + clean dims: exercises NULL/extreme fact keys and
    # measures through every dim-join chain
    "star": ((build_hostile_orders,), _STAR),
    # hostile dims + clean facts: string/collation traps and NULL dim
    # keys through every broadcast-join and string-function path
    "dims": ((build_hostile_dims,), _STAR),
    "docs": ((build_hostile_docs,), {"documents"}),
    "emb": ((build_hostile_emb,), {"embeddings"}),
    # every table adversarial at once — closes the cross-family
    # interaction gap (multi-table queries swept one family at a time)
    "all": (
        (build_hostile_events, build_hostile_orders, build_hostile_dims,
         build_hostile_docs, build_hostile_emb),
        set(TABLE_NAMES),
    ),
}


def build_corpus(mode: str, scratch: str) -> str:
    """Build the mode's corpora under `scratch` and return the testdata
    directory to sweep; for several builders, a directory linking each
    builder's own (non-symlinked) tables."""
    builders, _ = MODES[mode]
    outs = [b(os.path.join(scratch, b.__name__[len("build_"):])) for b in builders]
    if len(outs) == 1:
        return outs[0]
    base = os.path.join(scratch, "hostile_all")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    for out in outs:
        for t in TABLE_NAMES:
            src = os.path.join(out, f"{t}.parquet")
            if not os.path.islink(src):
                os.symlink(src, os.path.join(base, f"{t}.parquet"))
    return base


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--tables", default="events", choices=list(MODES))
    args = ap.parse_args()

    base = build_corpus(args.tables, os.path.join(_ROOT, ".scratch"))
    target = MODES[args.tables][1]

    from pyspark.sql import SparkSession

    from trino_demo_spark import parity_llm, parity_ml  # noqa: F401
    from trino_demo_spark.parity import PARITY
    from trino_demo_spark.session import apply_runtime_confs

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_runtime_confs(spark)
    con = duck_views(base)

    table_re = re.compile(r"\b(" + "|".join(TABLE_NAMES) + r")\b")
    names = []
    for n, p in PARITY.items():
        if p.sql is None:
            continue
        tables = set(table_re.findall(p.sql))
        if tables and tables <= target:
            names.append(n)
    if args.only:
        keep = set(args.only.split(","))
        names = [n for n in names if n in keep]

    summary = {"OK": 0, "ROWS": 0, "VALUES": 0, "ERROR": 0}
    for n in names:
        p = PARITY[n]
        try:
            spdf = p.fn(spark, base).toPandas()
        except Exception as e:
            print(f"{n:28s} ERROR(engine): {str(e).splitlines()[0][:140]}")
            summary["ERROR"] += 1
            continue
        try:
            dpdf = con.sql(p.sql).df()
        except Exception as e:
            print(f"{n:28s} ERROR(oracle): {str(e).splitlines()[0][:140]}")
            summary["ERROR"] += 1
            continue
        miss = oracle_mismatch(spdf, dpdf)
        if miss is None:
            verdict, detail = "OK", f"({len(spdf)} rows)"
        else:
            # a column or row-count mismatch is a ROWS verdict
            verdict = "VALUES" if miss.startswith("VALUES") else "ROWS"
            detail = miss
        print(f"{n:28s} {verdict:6s} {detail}")
        summary[verdict] += 1
    print("SUMMARY:", summary)


if __name__ == "__main__":
    main()

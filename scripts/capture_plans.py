"""Capture .explain("formatted") for bench queries → plans/<round>/.

Usage: python scripts/capture_plans.py --tag before --out plans/<round>
                                       [--only a,b] [--sf DIR]

Writes <out>/<query>_<tag>.txt for each query. --out has no default, so
a capture never overwrites the committed plans of an earlier round by
accident. Uses the same
session shape as bench.py (local[$SPARK_GRAFT_CPUS], engine confs) so
the captured plan is the one the bench times. AQE plans print
isFinalPlan=false (pre-execution); the shape claims we make (Exchange
count, join strategy, PushedFilters, Python-eval nodes) are all
visible at this stage.
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from trino_demo_spark.parity import PARITY  # noqa: E402
import trino_demo_spark.parity_llm  # noqa: E402,F401
import trino_demo_spark.parity_ml  # noqa: E402,F401
from trino_demo_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True)
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    import bench

    names = args.only.split(",") if args.only else list(bench.BENCH_QUERIES)
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(app_name="capture_plans")

    # bench.py measures two entries through workload overrides (the
    # PARITY surface is a verdict wrapper); capture the benched workload.
    from trino_demo_spark.llm import dedup as _dedup
    from trino_demo_spark.registry import load_table as _lt

    overrides = {
        "llm_dedup_minhash": lambda spark, d: _dedup.minhash_lsh_pairs(
            _lt(spark, "documents", d), num_perm=32, bands=8, threshold=0.5
        ),
        "llm_dedup_minhash_pr": lambda spark, d: _dedup.minhash_verified_pairs(
            _lt(spark, "documents", d), threshold=0.5, candidate_threshold=0.35
        ),
    }

    for name in names:
        fn = overrides.get(name) or PARITY[name].fn
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        try:
            df = fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print(f"captured {name} -> {path}", file=sys.stderr)
        except Exception as exc:  # iterative entries run jobs at build time
            with open(path, "w") as fh:
                fh.write(f"PLAN CAPTURE FAILED: {exc}\n")
            print(f"FAILED {name}: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()

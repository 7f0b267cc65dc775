"""Generate a k×-scaled copy of a testdata scale-factor directory.

Key-offset replication: each table is unioned k times with every key
column shifted by replica_index * stride (stride = max(key)+1 computed
from the source), so ALL foreign-key joins remain valid and join
selectivities match the source. Non-key columns are left untouched,
which makes the scaled corpus realistic for the LLM-pipeline ops too:

- `documents.text` repeats across replicas → exact/near-dup clusters
  grow k×, so dedup ops do k× the *real* matching work (not k× noise);
- `events.ts` keeps the source time range at k× density (scale-up of a
  fixed retention window, the realistic cluster shape);
- `region`/`nation` stay fixed (TPC-H dims that do not scale with SF).

Used for the PERF.md scaling study (sf0.01 → sf0.1 → sf1-equivalent =
100× span): build with

    python scripts/make_scaled_sf.py --src /root/testdata/sf0.1 \
        --dst .scratch/sf1 --factor 10

then `SPARK_GRAFT_SF_DIR=$PWD/.scratch/sf1 python bench.py`.

DuckDB does the replication (single COPY per table, constant memory);
output parquet uses micros timestamps, same as the driver testdata.
"""

from __future__ import annotations

import argparse
import os

import duckdb

# table -> {column: stride-domain}, one entry per testdata table;
# columns sharing a domain shift by the same stride so FK joins stay
# aligned across replicas.
KEY_DOMAINS: dict[str, dict[str, str]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": "custkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {
        "l_orderkey": "orderkey",
        "l_partkey": "partkey",
        "l_suppkey": "suppkey",
    },
    "events": {"event_id": "eventid", "user_id": "userid"},
    "documents": {"doc_id": "docid"},
    "embeddings": {"vec_id": "vecid"},
}

# domain -> (table, column) to measure the stride from.
DOMAIN_SOURCE = {
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "eventid": ("events", "event_id"),
    "userid": ("events", "user_id"),
    "docid": ("documents", "doc_id"),
    "vecid": ("embeddings", "vec_id"),
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", required=True)
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)

    con = duckdb.connect()
    strides: dict[str, int] = {}
    for dom, (tab, col) in DOMAIN_SOURCE.items():
        (mx,) = con.sql(
            f"SELECT max({col}) FROM read_parquet('{args.src}/{tab}.parquet')"
        ).fetchone()
        strides[dom] = int(mx) + 1

    for tab, keyed in KEY_DOMAINS.items():
        src = f"{args.src}/{tab}.parquet"
        dst = f"{args.dst}/{tab}.parquet"
        if not keyed:  # fixed dims: plain copy
            con.sql(f"COPY (SELECT * FROM read_parquet('{src}')) TO '{dst}' (FORMAT PARQUET)")
            continue
        cols = [
            r[0]
            for r in con.sql(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
        ]
        sel = ", ".join(
            f"{c} + i * {strides[keyed[c]]} AS {c}" if c in keyed else c
            for c in cols
        )
        con.sql(
            f"COPY (SELECT {sel} FROM read_parquet('{src}') "
            f"CROSS JOIN range({args.factor}) t(i)) TO '{dst}' (FORMAT PARQUET)"
        )
        (n,) = con.sql(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()
        print(f"{tab}: {n} rows -> {dst}")


if __name__ == "__main__":
    main()

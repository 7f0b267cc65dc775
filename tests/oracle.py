"""The one oracle-compare harness behind every parity gate: DuckDB views
over a testdata directory, and the driver-faithful canonical compare of
an engine result frame against its oracle result frame.

The driver canonicalizes both result frames at the pandas level — sort
columns by name, stringify every cell (astype(str)-style), sort rows,
hash. That makes the gate sensitive to dtype *representation*, not
just value: Decimal('297175.00') vs float 297175.0 and int64 66 vs
float64 66.0 are MISMATCHES even though they compare numerically equal
(exactly what cost 5 green rows in CORRECTNESS_r02). `canon`
reproduces that discipline so representation skew is caught locally
before the driver sees it.

Callers: tests/test_parity.py, the five tests/test_hostile_*.py
differential gates, scripts/preflight.py and scripts/hostile_sweep.py.
tests/test_oracle_compare.py is its mutation battery.
"""

from __future__ import annotations

import duckdb
import numpy as np

from trino_demo_spark.registry import TABLE_NAMES


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A fresh DuckDB connection with one view per registry table over
    `{sf_dir}/{table}.parquet`."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(pdf):
    """Driver-faithful canonical frame: columns sorted by name, every
    cell stringified via pandas astype(str) semantics, rows sorted.
    Returns (sorted_columns, list-of-string-tuples)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    str_cols = []
    for c in cols:
        s = pdf[c]
        if s.dtype == object and len(s) and isinstance(
            s.dropna().iloc[0] if s.dropna().size else None, np.ndarray
        ):
            # array cell: stringify elementwise (list-style, engine-neutral)
            str_cols.append(s.map(lambda a: str(list(a)) if a is not None else "None"))
        else:
            str_cols.append(s.astype(str))
    rows = sorted(zip(*str_cols)) if str_cols else []
    return cols, rows


def oracle_mismatch(spdf, dpdf) -> str | None:
    """None when the engine frame `spdf` equals the oracle frame `dpdf`
    under `canon`; otherwise a message whose first word names the
    failed check: COLS (column names), ROWS (row counts) or VALUES
    (canonical rows, with the first mismatched pairs)."""
    cs, rs = canon(spdf)
    cd, rd = canon(dpdf)
    if cs != cd:
        return f"COLS spark={list(spdf.columns)} duck={list(dpdf.columns)}"
    if len(rs) != len(rd):
        return f"ROWS spark={len(rs)} duck={len(rd)}"
    bad = [(a, b) for a, b in zip(rs, rd) if a != b]
    if bad:
        return f"VALUES {len(bad)} canonical-row mismatches; first: {bad[:2]}"
    return None

"""Mutation battery for the shared string-mode oracle compare
(tests/oracle.py::oracle_mismatch), on small pandas frames and without
Spark: every harmless difference must match, and every mutation the
driver's canonical hash would see must be reported, naming the failed
check. The string-mode twin of tests/test_fingerprint_compare.py."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from .oracle import oracle_mismatch


def _frame(**overrides):
    cols = {
        "k": pd.Series([1, 2, 3], dtype="int64"),
        "name": pd.Series(["a", "b", "c"], dtype=object),
        "score": pd.Series([0.5, 1.25, -2.0], dtype="float64"),
    }
    cols.update(overrides)
    return pd.DataFrame(cols)


def _vectors(second):
    return _frame(
        vec=pd.Series(
            [np.array([1.0, 2.0]), np.array([second, 2.0]), np.array([3.0, 4.0])],
            dtype=object,
        )
    )


BASE = _frame()


@pytest.mark.parametrize(
    "other",
    [
        pytest.param(_frame(), id="identical"),
        pytest.param(BASE.iloc[[2, 0, 1]].reset_index(drop=True), id="rows_reordered"),
        pytest.param(BASE[["score", "k", "name"]], id="columns_reordered"),
    ],
)
def test_compare_matches(other):
    assert oracle_mismatch(BASE, other) is None


@pytest.mark.parametrize(
    "spdf,dpdf,kind",
    [
        pytest.param(BASE, BASE.rename(columns={"score": "scor"}), "COLS", id="renamed_column"),
        pytest.param(BASE, BASE.iloc[:2], "ROWS", id="dropped_row"),
        pytest.param(
            BASE, _frame(score=pd.Series([0.5, 1.25, -2.5])), "VALUES", id="changed_value"
        ),
        pytest.param(
            _frame(k=pd.Series([1, 2, 66], dtype="int64")),
            _frame(k=pd.Series([1.0, 2.0, 66.0], dtype="float64")),
            "VALUES",
            id="int64_vs_float64",
        ),
        pytest.param(
            BASE, _frame(name=pd.Series(["a", None, "c"], dtype=object)), "VALUES", id="null_vs_value"
        ),
        pytest.param(
            _vectors(0.1234567891), _vectors(0.1234567899), "VALUES", id="array_10th_digit"
        ),
    ],
)
def test_compare_reports_mismatch(spdf, dpdf, kind):
    miss = oracle_mismatch(spdf, dpdf)
    assert miss is not None and miss.split()[0] == kind, miss


def test_array_rule_is_load_bearing():
    """Plain astype(str) prints numpy arrays at 8 significant digits, so
    without the array-cell rule the 10th-digit pair above would match."""
    a, b = _vectors(0.1234567891)["vec"], _vectors(0.1234567899)["vec"]
    assert list(a.astype(str)) == list(b.astype(str))

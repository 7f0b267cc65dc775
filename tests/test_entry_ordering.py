"""Pins for __spark_entry__'s driver-queue rule — the exact spot where
round 3 lost verification coverage (a rows_match-only green test parked
two hash-failing queries in the 'proven' tail forever)."""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry_under_test", os.path.join(_ROOT, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_hash_fail_is_not_proven():
    """A CORRECTNESS row with rows_match=True but hash_match=False must
    classify as 'fail' (→ re-verified first), never 'green' — the
    round-3 regression."""
    E = _load_entry()
    history = E._driver_history()
    # every green entry must have come from a fully matching row
    import glob
    import json

    latest: dict[str, dict] = {}
    for p in sorted(glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json"))):
        with open(p) as fh:
            for name, row in json.load(fh).items():
                if isinstance(row, dict):
                    latest[name] = row
    for name, (verdict, _rnd) in history.items():
        row = latest[name]
        if verdict == "green":
            assert row.get("rows_match") and row.get("schema_match") and row.get(
                "hash_match"
            ), (name, row)
        if (
            row.get("err") is None
            and row.get("rows_match")
            and not row.get("hash_match")
        ):
            assert verdict == "fail", (name, row)


def test_unproven_entries_ordered_before_proven():
    """queries() must list every non-green entry before every green one
    so a driver cap always extends the proven set."""
    E = _load_entry()
    history = E._driver_history()
    seen_green = False
    for n in E.queries():
        if n in history and history[n][0] == "green":
            seen_green = True
        else:
            assert not seen_green, (
                f"unproven entry {n} ordered after a proven one"
            )


def test_proven_tail_rotates_stalest_green_first():
    """Green-row rotation (r8): within the proven tail, entries must be
    ordered by OLDEST green round first so the driver's per-round cap
    refreshes stale rows instead of re-proving the same head forever."""
    E = _load_entry()
    history = E._driver_history()
    greens = [
        (n, history[n][1])
        for n in E.queries()
        if n in history and history[n][0] == "green"
    ]
    rounds = [r for _n, r in greens]
    assert rounds == sorted(rounds), (
        "proven tail not ordered stalest-green-first: " + str(greens[:10])
    )


def test_queue_is_total_and_deterministic_in_backlog_zero_state():
    """Regression for the r7 red (test harness, not engine): synthesize
    the all-green state — every registry entry green, mixed rounds —
    and require queries() to (a) return the full registry exactly once
    each, (b) order it stalest-green-first."""
    E = _load_entry()
    names = list(E.PARITY)
    # deterministic mixed rounds: cycle 1..7 over registry order
    synth = {n: ("green", 1 + (i % 7)) for i, n in enumerate(names)}
    orig = E._driver_history
    E._driver_history = lambda: synth
    try:
        ordered = list(E.queries())
    finally:
        E._driver_history = orig
    assert sorted(ordered) == sorted(names)
    assert len(ordered) == len(set(ordered))
    rounds = [synth[n][1] for n in ordered]
    assert rounds == sorted(rounds), "backlog-zero queue not rotated"


def test_queue_order_rule_on_synthetic_history(tmp_path, monkeypatch):
    """The whole rule, end to end from CORRECTNESS files: the failed
    entry first, then never-tested entries in registry order, then
    greens by latest round (ties in registry order). The latest row
    wins: join_inner_eq was green in r01 and hash-failed in r09, and
    scan_jdbc's r10 green supersedes its r05 one."""
    import json

    E = _load_entry()
    names = list(E.PARITY)
    failed, untested = "join_inner_eq", ["llm_dedup_exact", "scan_warc_gz"]
    assert names.index(untested[0]) < names.index(untested[1])
    green = {"err": None, "rows_match": True, "schema_match": True,
             "hash_match": True}
    tested = [n for n in names if n not in untested]
    even = {n for i, n in enumerate(names) if i % 2 == 0}
    rows = {
        1: {n: green for n in tested},
        5: {n: green for n in tested if n in even and n != failed},
        9: {failed: dict(green, hash_match=False)},
        10: {"scan_jdbc": green},
    }
    for rnd, data in rows.items():
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(data))
    monkeypatch.setattr(E, "_REPO_ROOT", str(tmp_path))

    rest = [n for n in tested if n != failed and n != "scan_jdbc"]
    expected = (
        [failed]
        + untested
        + [n for n in rest if n not in even]
        + [n for n in rest if n in even]
        + ["scan_jdbc"]
    )
    assert list(E.queries()) == expected


def test_oracle_keys_subset_of_queries():
    """Every oracle_sql key must be a queries() key (the driver joins
    on the name), and column-name contracts require non-empty SQL."""
    E = _load_entry()
    qs = set(E.queries())
    for name, sql in E.oracle_sql().items():
        assert name in qs
        assert sql and sql.strip()


def test_coverage_doc_lists_every_query():
    """COVERAGE.md is the judge-facing operator map — every registered
    queries() key must have a row there (backticked), so a new entry
    without documentation fails CI instead of silently hiding."""
    import trino_demo_spark.parity_llm  # noqa: F401
    import trino_demo_spark.parity_ml  # noqa: F401
    from trino_demo_spark.parity import PARITY

    cov = open(os.path.join(_ROOT, "COVERAGE.md")).read()
    missing = [n for n in PARITY if f"`{n}`" not in cov]
    assert not missing, f"undocumented queries: {missing}"

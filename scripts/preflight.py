"""Whole-inventory plain-session pre-flight: drive EVERY registered
query through the driver contract (`__spark_entry__.queries()` /
`oracle_sql()`) in a fresh PLAIN SparkSession — no engine confs, the
exact runtime the round driver uses — and compare against DuckDB with
the shared driver-faithful compare (tests/oracle.py::oracle_mismatch).

This is the configuration-regression check pytest cannot provide (the
local gate's session carries engine confs; round 3 lost a day to
exactly such a conf-only divergence), run over the full inventory
rather than the driver's ~50-query sample.

Round 9 extends it into the big-SF differential sweep driver
(VERDICT r8 item 1):

- `--json OUT` writes a per-query record (status/seconds/rows) so
  chunked background runs produce a committable sweep artifact
  (`scripts/merge_sweep.py` folds chunk files into one record);
- `--timeout-sec N` cancels a runaway query (Spark cancelAllJobs +
  DuckDB interrupt) and records TIMEOUT instead of hanging the chunk;
- `--skip-file F` reads {name: reason} exclusions (the bounded-corpus
  oracle twins whose BY-CONTRACT-quadratic oracles are intractable at
  sf1) and records them as excluded-with-reason, not silently dropped;
- `--cpus/--driver-mem` size the local JVM like the cluster it stands
  in for (PERF.md r4: Spark's 1g driver default OOMs on sf1 broadcasts
  in local mode because driver + all executor threads share one JVM).
  The sf0.01 driver-parity run keeps the plain default.

Round 11 adds the FINGERPRINT compare mode (VERDICT r10 item 1): for
full-table-projection entries (60M output rows at sf10) the plain
compare's cost is the HARNESS — toPandas + stringify + sort on both
sides — not engine work, which is why 24 entries were never attempted
at sf10. `--fingerprint-file F` ({name: reason} JSON) routes named
entries through an exact order-independent compare instead: the Spark
result is written to parquet (distributed write, zero driver collect),
then BOTH relations are fingerprinted INSIDE DuckDB — per row
`hash(...)` over the name-sorted columns cast to VARCHAR (the oracle's
columns first cast to the parquet side's types, so HUGEINT-vs-DOUBLE
render differences the pandas canon absorbed can't false-positive) and
reduced to one row per side: COUNT(*) + BIT_XOR(h) + SUM(h::HUGEINT).
Because both renders run in the same DuckDB process, the string form
is identical by construction; equality of the (count, xor, sum) triple
is exact multiset equality up to 64-bit hash collisions (~n²/2⁶⁴ ≈
10⁻⁴ at 60M rows, and a collision must ALSO cancel in the 128-bit
sum). Same trick as sink_manifest_integrity / scripts/spill_study.py,
now cross-engine. The record carries compare_mode + the named reason.

Usage:
    python scripts/preflight.py [--sf /root/testdata/sf0.01] [--only a,b]
    python scripts/preflight.py --start 56 --count 60   # queue slice
    python scripts/preflight.py --sf .scratch/sf1 --cpus 10 \
        --driver-mem 14g --timeout-sec 1200 --json .scratch/sweep_a.json \
        --skip-file scripts/sf1_exclusions.json --start 0 --count 100
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# Order-independent exact multiset fingerprint: COUNT + BIT_XOR +
# 128-bit SUM of a per-row 64-bit hash over the name-sorted columns in
# VARCHAR form. XOR alone is cancellable (any value appearing an even
# number of times vanishes); the HUGEINT SUM breaks exactly that class,
# and COUNT pins the multiset size. tests/test_fingerprint_compare.py
# is the mutation battery proving each component is load-bearing.
FP_SQL = (
    "SELECT COUNT(*)::HUGEINT AS c, COALESCE(BIT_XOR(h), 0)::HUGEINT AS x,"
    " COALESCE(SUM(h::HUGEINT), 0) AS s"
    " FROM (SELECT hash({exprs}) AS h FROM {src})"
)


def fingerprint_compare(con, parquet_src: str, oracle_sql: str):
    """Compare a parquet relation against an oracle query inside ONE
    DuckDB connection via the exact order-independent fingerprint.

    Returns (spark_triple, oracle_triple, tag) where tag is "OK(fp)" /
    "COLS" / "VALUES". The oracle's columns are first CAST to the
    parquet side's types (DESCRIBE-derived) so engine-specific numeric
    widths (DuckDB HUGEINT sums vs Spark DOUBLE) render identically
    before hashing — both renders run in the same DuckDB process, so
    the string form is shared by construction.
    """
    sp_types = {
        r[0]: r[1]
        for r in con.sql(f"DESCRIBE SELECT * FROM {parquet_src}").fetchall()
    }
    or_names = [r[0] for r in con.sql(f"DESCRIBE ({oracle_sql})").fetchall()]
    if sorted(sp_types) != sorted(or_names):
        return None, None, "COLS"
    cols = sorted(sp_types)
    sp_exprs = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    or_exprs = ", ".join(
        f'CAST(CAST("{c}" AS {sp_types[c]}) AS VARCHAR)' for c in cols
    )
    s_row = con.sql(FP_SQL.format(exprs=sp_exprs, src=parquet_src)).fetchone()
    o_row = con.sql(
        f"WITH __oracle_result AS ({oracle_sql}) "
        + FP_SQL.format(exprs=or_exprs, src="__oracle_result")
    ).fetchone()
    return s_row, o_row, ("OK(fp)" if s_row == o_row else "VALUES")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--count", type=int, default=None)
    ap.add_argument("--json", dest="json_out", default=None)
    ap.add_argument("--timeout-sec", type=float, default=None)
    ap.add_argument("--skip-file", default=None)
    ap.add_argument("--fingerprint-file", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    ap.add_argument("--duck-mem", default="24GB")
    ap.add_argument("--driver-mem", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from tests.oracle import duck_views, oracle_mismatch

    builder = SparkSession.builder.master(f"local[{args.cpus}]")
    if args.driver_mem:
        builder = builder.config("spark.driver.memory", args.driver_mem)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs, osql = E.queries(), E.oracle_sql()
    def fresh_con():
        # Parallel chunk runs share the host: bound DuckDB to the same
        # core budget as the Spark session instead of its all-cores
        # default, and bound memory so a pathological plan (the r9
        # sweep hit a 103GB RSS on an all-pairs oracle at sf1 and took
        # the whole process down) surfaces as a recorded ERROR, not an
        # OOM-kill that loses the chunk's record.
        c = duck_views(args.sf)
        c.sql(f"SET threads={args.cpus}")
        c.sql(f"SET memory_limit='{args.duck_mem}'")
        # PER-PROCESS temp dir (r11): DuckDB names its offload files
        # duckdb_temp_storage-N.tmp, so two concurrent preflight chunks
        # sharing one temp_directory silently clobber each other's
        # spill — the r11 sf1 sweep lost llm_dedup_semantic to an
        # "IO Error: could not read enough bytes" reading a temp block
        # another chunk's DuckDB had truncated.
        duck_root = os.path.join(_ROOT, ".scratch", "duck_tmp")
        tmp_dir = os.path.join(duck_root, str(os.getpid()))
        c.sql(f"SET temp_directory='{tmp_dir}'")
        # DuckDB removes its temp FILES but not the per-PID dir; an
        # OOM-killed or os._exit-aborted chunk leaves even the files
        # (atexit never fires on SIGKILL or os._exit — exactly the
        # exits with the largest spill). Two-layer cleanup: atexit for
        # the clean-exit case, plus a STARTUP sweep of sibling dirs
        # whose owning PID is no longer alive (covers every crash
        # class, and concurrent live chunks are left untouched).
        import atexit
        import shutil as _shutil

        atexit.register(_shutil.rmtree, tmp_dir, ignore_errors=True)
        if os.path.isdir(duck_root):
            for entry in os.listdir(duck_root):
                if not entry.isdigit() or entry == str(os.getpid()):
                    continue
                try:
                    os.kill(int(entry), 0)
                except ProcessLookupError:
                    _shutil.rmtree(
                        os.path.join(duck_root, entry), ignore_errors=True
                    )
                except PermissionError:
                    pass  # alive, different user — leave it
        return c

    con = fresh_con()

    skip: dict[str, str] = {}
    if args.skip_file:
        skip = json.load(open(args.skip_file))
    fingerprint: dict[str, str] = {}
    if args.fingerprint_file:
        fingerprint = json.load(open(args.fingerprint_file))

    names = list(qs)
    if args.only:
        names = [n for n in args.only.split(",") if n in qs]
    else:
        end = len(names) if args.count is None else args.start + args.count
        names = names[args.start : end]

    record: dict[str, dict] = {}
    bad: list[str] = []

    def run_fingerprint(name: str, out: dict) -> None:
        """Exact order-independent compare with zero driver collect:
        Spark result → parquet; both relations fingerprinted inside
        DuckDB (same renderer both sides) and compared as one row."""
        import shutil

        tmp = os.path.join(_ROOT, ".scratch", "fp_tmp", name)
        try:
            # inside the try: a failed/killed write must still sweep
            # its partial output (it would otherwise sit on disk until
            # a rerun overwrites it)
            qs[name](spark, args.sf).write.mode("overwrite").parquet(tmp)
            src = f"read_parquet('{tmp}/*.parquet')"
            out["compare_mode"] = "fingerprint_oracle_disk"
            out["fingerprint_rule"] = fingerprint[name]
            s_row, o_row, tag = fingerprint_compare(con, src, osql[name])
            out["tag"] = tag
            if tag == "COLS":
                out["spark_rows"] = int(
                    con.sql(f"SELECT COUNT(*) FROM {src}").fetchone()[0]
                )
                out["ok"] = False
                return
            out["spark_rows"] = int(s_row[0])
            out["fingerprint"] = {
                "spark": [str(v) for v in s_row],
                "oracle": [str(v) for v in o_row],
            }
            out["ok"] = s_row == o_row
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def run_one(name: str, out: dict) -> None:
        if name in fingerprint:
            # A fingerprint-routed entry with no oracle is an operator
            # error (typo, or a rows_only entry listed by mistake) —
            # fail loudly rather than silently falling back to the
            # full toPandas collect the fingerprint mode exists to
            # avoid (at sf10 that fallback IS the 60M-row harness OOM).
            if name not in osql:
                raise ValueError(
                    f"--fingerprint-file lists {name!r} but it has no "
                    "oracle_sql() entry"
                )
            run_fingerprint(name, out)
            return
        spdf = qs[name](spark, args.sf).toPandas()
        out["spark_rows"] = len(spdf)
        if name in osql:
            miss = oracle_mismatch(spdf, con.sql(osql[name]).df())
            out["ok"] = miss is None
            # a row-count mismatch is a VALUES verdict here
            out["tag"] = (
                "OK" if miss is None
                else "COLS" if miss.startswith("COLS") else "VALUES"
            )
        else:
            out["ok"], out["tag"] = True, f"rows_only({len(spdf)})"

    for name in names:
        if name in skip:
            record[name] = {"status": "excluded", "reason": skip[name]}
            print(f"{name:38s} EXCLUDED       ({skip[name][:80]})", flush=True)
            continue
        t0 = time.time()
        out: dict = {}
        worker = threading.Thread(target=_trap(run_one, out), args=(name, out))
        worker.start()
        worker.join(args.timeout_sec)
        if worker.is_alive():
            # Runaway query: cancel both engines, record, keep sweeping.
            spark.sparkContext.cancelAllJobs()
            con.interrupt()
            worker.join(120)
            bad.append(name)
            record[name] = {
                "status": "timeout",
                "seconds": round(time.time() - t0, 1),
            }
            print(f"{name:38s} TIMEOUT        {time.time() - t0:6.1f}s", flush=True)
            _flush_json(args.json_out, record)
            if worker.is_alive():
                # The worker survived cancel+interrupt: it still holds
                # the shared DuckDB connection, so every later oracle
                # would deadlock behind it (r9: chunk 0 hung exactly
                # this way and lost its record). Write what we have
                # and exit nonzero — the merge step treats missing
                # names as "not yet swept".
                record["__aborted__"] = {"status": "chunk_aborted_on", "name": name}
                _flush_json(args.json_out, record)
                print(f"PREFLIGHT ABORT: worker for {name} unkillable; "
                      f"record flushed", flush=True)
                os._exit(3)
            continue
        dt = time.time() - t0
        if "error" in out:
            bad.append(name)
            record[name] = {
                "status": "error",
                "seconds": round(dt, 1),
                "err": out["error"][:200],
            }
            print(f"{name:38s} ERROR {out['error'][:160]}", flush=True)
            _flush_json(args.json_out, record)
            # A DuckDB failure (e.g. hitting the memory cap) can leave
            # the shared connection exhausted — the r9 sf10 sweep saw
            # two collateral '8 bytes' allocation errors right after a
            # real one. Rebuild it so later oracles get a clean slate.
            # An OOM'd instance may not release memory immediately, so
            # the rebuild itself can fail once (observed r9: the fresh
            # connection's own SET raised OutOfMemory and killed the
            # chunk) — gc, wait, retry, and if it still fails, abort
            # WITH the record instead of dying recordless.
            try:
                con.close()
            except Exception:  # noqa: BLE001
                pass
            import gc as _gc

            con = None
            for attempt in range(3):
                _gc.collect()
                time.sleep(5 * attempt)
                try:
                    con = fresh_con()
                    break
                except Exception as ex2:  # noqa: BLE001
                    print(f"reconnect attempt {attempt} failed: {ex2}", flush=True)
            if con is None:
                record["__aborted__"] = {
                    "status": "chunk_aborted_on",
                    "name": name,
                    "why": "duckdb reconnect failed after error",
                }
                _flush_json(args.json_out, record)
                print("PREFLIGHT ABORT: duckdb reconnect failed; record flushed", flush=True)
                os._exit(4)
            continue
        ok, tag = out["ok"], out["tag"]
        if not ok:
            bad.append(name)
        record[name] = {
            "status": "green" if ok else tag.lower().replace("(fp)", ""),
            "seconds": round(dt, 1),
            "spark_rows": out.get("spark_rows"),
        }
        for extra in ("compare_mode", "fingerprint_rule", "fingerprint"):
            if extra in out:
                record[name][extra] = out[extra]
        print(f"{name:38s} {tag:14s} {dt:6.1f}s", flush=True)
        _flush_json(args.json_out, record)

    _flush_json(args.json_out, record)
    n_run = len([n for n in names if n not in skip])
    print(
        f"PREFLIGHT SUMMARY: {n_run - len(bad)}/{n_run} green"
        f" ({len(names) - n_run} excluded); bad={bad}"
    )
    sys.exit(1 if bad else 0)


def _flush_json(path, record) -> None:
    if not path:
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _trap(fn, out: dict):
    """Wrap the worker so exceptions land in `out` instead of the
    thread's stderr (the main thread owns reporting)."""

    def inner(name: str, o: dict) -> None:
        try:
            fn(name, o)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            out["error"] = str(ex)

    return inner


if __name__ == "__main__":
    main()

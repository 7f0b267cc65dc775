"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload sql_star --seed 1 --seconds 10 --trace 0

A single closed-loop client on ``local[$(nproc)]`` runs the workload's ops
one after another, in a seeded order within each pass. An op is one
public library call plus the action that materializes its output.

1. Inputs for the seed are generated (or reused from the per-seed cache)
   outside every timed region.
2. Set-up, twice: ``get_spark`` plus one untimed warm-up pass. The
   first writes each op's output, which is checked against an oracle on
   the same inputs; a wrong output fails every sample of that op.
3. Whole passes run for ``--seconds``: at least two (a traced run: whole
   cycles of four), and none that the mean pass so far says would end
   later. With ``--trace 0`` nothing is traced;
   with ``--trace 1`` untraced and traced passes alternate, the per-layer
   metrics come from the traced ones and the pass-time difference is the
   tracing overhead.

The last line of stdout is the result JSON; the line before it holds the
details (pass times, per-op medians, set-up times, input sizes, errors).
"""

from __future__ import annotations

import argparse
import concurrent.futures as cf
import contextlib
import ctypes
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import inputs
import probes
from workloads import WORKLOADS, Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
OP_TIMEOUT_S = 60.0
SETUPS = 2
MIN_PASSES = 2
MB = 1 << 20
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>

# metric name -> unit, as declared in BENCHMARK.json
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END_UNITS = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_environment(run_dir: str) -> None:
    """Keep every file Spark, the JVMs and Python write inside the checkout
    (without perf data, a JVM writes nothing to the system temp dir)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    tempfile.tempdir = tmp


def adopt_orphans() -> None:
    """Become the reaper of orphaned descendants: the Python workers and
    helpers the JVM leaves behind when it exits are re-parented to this
    process, so it can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_processes(kill: bool = False, grace_s: float = 30.0) -> None:
    """Stop the JVM and every process under it, and wait until each has
    ended. The JVM exits at end of file on its stdin (or is killed); its
    orphans are asked to stop, then killed once ``grace_s`` is over."""
    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None and jvm.poll() is None:
        if kill:
            jvm.kill()
        elif jvm.stdin is not None:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # no child is left
        if pid:
            continue
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in probes.descendants(os.getpid()):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        time.sleep(0.1)


def load_inputs(kind: str, seed: int) -> tuple[str, dict, float]:
    """Per-seed input cache: build once, reuse on later runs."""
    out = os.path.join(WORK, "inputs", f"{kind}-{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    t0 = time.perf_counter()
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        inputs.validate(kind, out, manifest)
    else:
        staging = f"{out}.building-{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        manifest = inputs.build(kind, seed, staging)
        with open(os.path.join(staging, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        try:
            os.rename(staging, out)
        except OSError:  # another run cached the same seed first
            shutil.rmtree(staging, ignore_errors=True)
    return out, manifest, time.perf_counter() - t0


class Runner:
    """Runs ops with a bounded wait, cleans up after each, and records
    per-op latencies (and, when tracing, per-layer numbers)."""

    def __init__(self, spark, data: str, run_dir: str, manifest: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.data = data
        self.run_dir = run_dir
        self.rows = {t: v["rows"] for t, v in manifest["tables"].items()}
        self.input_bytes = sum(v["bytes"] for v in manifest["tables"].values())
        # what the streams drain: the files of the landing zone
        self.landed_bytes = sum(v["bytes"] for v in manifest["tables"].values() if "files" in v)
        self.pool = cf.ThreadPoolExecutor(max_workers=1, thread_name_prefix="op")
        self.seq = 0
        self.broken = False
        self.reader = None
        self.heap = None
        self.timer = None

    def op_rows(self, op) -> int:
        return sum(self.rows[t] for t in op.tables)

    # -- one op ---------------------------------------------------------------

    def _execute(self, op, ctx, group: str) -> tuple[float, float]:
        self.sc.setJobGroup(group, f"perfbench {op.name}", interruptOnCancel=True)
        t0 = time.perf_counter()
        result = op.start(ctx)
        t1 = time.perf_counter()
        op.finish(ctx, result)
        return time.perf_counter() - t0, t1 - t0

    def run_op(self, op, check: bool, traced: bool) -> dict:
        self.seq += 1
        op_dir = os.path.join(self.run_dir, f"op-{self.seq}")
        os.makedirs(op_dir)
        ctx = Ctx(self.spark, self.data, op_dir, check, [])
        group = f"perfbench-{self.seq}"
        rec = {"op": op.name, "ok": True, "error": None}
        if traced:
            self.sampler.reset_workers_peak()
        cpu0 = probes.tree_cpu_s(os.getpid())
        fut = self.pool.submit(self._execute, op, ctx, group)
        try:
            rec["latency_s"], rec["call_s"] = fut.result(timeout=OP_TIMEOUT_S)
            rec["cpu_s"] = probes.tree_cpu_s(os.getpid()) - cpu0
        except cf.TimeoutError:
            rec.update(ok=False, error=f"timeout after {OP_TIMEOUT_S}s")
            self.sc.cancelJobGroup(group)
            self._stop_streams()
            try:
                fut.result(timeout=30)
            except Exception:  # the cancelled op's own error
                pass
            if not fut.done():
                self.broken = True  # the op thread is stuck: stop the run
        except Exception as exc:  # an op failure is a measured outcome
            rec.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
        if check and rec["ok"]:
            t0 = time.perf_counter()
            try:
                problem = op.check(ctx)
            except Exception as exc:  # an unreadable output is a wrong one
                problem = f"check failed: {type(exc).__name__}: {exc}"[:500]
            rec["check_s"] = time.perf_counter() - t0
            if problem:
                rec.update(ok=False, error=f"wrong output: {problem}")
        if traced:
            rec["layers"] = self._layers(ctx, rec)
        self._hygiene(ctx)
        return rec

    def _stop_streams(self) -> None:
        for q in self.spark.streams.active:
            q.stop()

    def _hygiene(self, ctx) -> None:
        """No op may reuse another op's cache, query or files."""
        self._stop_streams()
        self.spark.catalog.clearCache()
        shutil.rmtree(ctx.op_dir, ignore_errors=True)

    # -- tracing -------------------------------------------------------------

    def enable_tracing(self, sampler) -> None:
        import trino_demo_spark
        from trino_demo_spark import iterutil, registry

        self.sampler = sampler
        self.reader = probes.StatusReader(self.spark)
        self.heap = probes.HeapPeak(self.spark)
        self.timer = probes.CallTimer(
            {
                "registry.load_table": (registry, "load_table"),
                "iterutil.materialize": (iterutil, "materialize"),
            },
            job_cursor=self.reader.job_cursor,
        )
        self._modules = [
            m for n, m in sys.modules.items() if n.startswith(trino_demo_spark.__name__) and m
        ]

    def _layers(self, ctx, rec) -> dict:
        self.reader.settle()
        jobs = self.reader.jobs()
        plans = self.reader.sql_plans()
        busy = probes.interval_union(jobs.pop("intervals"))
        wall = rec.get("latency_s", 0.0)
        cores = self.sc.defaultParallelism
        out = {f"spark.{k}": v for k, v in jobs.items()}
        out.update({f"sql.{k}": v for k, v in plans.items()})
        out["spark.busy_s"] = busy
        out["driver.idle_s"] = max(wall - busy, 0.0)
        out["spark.core_capacity_s"] = busy * cores
        out["spark.offcpu_s"] = max(jobs["executor_run_s"] - jobs["executor_cpu_s"], 0.0)
        out["query.call_s"] = rec.get("call_s", 0.0)
        out["python.workers_rss_peak_mb"] = self.sampler.peak_workers / MB
        state = self.reader.session_state()
        out["session.cached_plans_after_op"] = state["cached_plans"]
        out["session.persisted_rdds_after_op"] = state["persisted_rdds"]
        out.update(
            {f"streaming.{k}": v for k, v in probes.streaming_progress(ctx.queries).items()}
        )
        out["sink.bytes_written"], out["sink.files_written"] = probes.tree_size(
            os.path.join(ctx.op_dir, "sink")
        )
        out["checkpoint.bytes_written"], out["checkpoint.files"] = probes.tree_size(
            os.path.join(ctx.op_dir, "checkpoint")
        )
        return out

    # -- passes ----------------------------------------------------------------

    def run_pass(self, order, check: bool = False, traced: bool = False) -> tuple[float, list]:
        if traced:
            self.reader.skip()  # the jobs of the untraced pass before
            self.timer.reset()
            self.timer.install(self._modules)
            self.heap.reset()
        t0 = time.perf_counter()
        recs = []
        try:
            for op in order:
                if self.broken:
                    recs.append({"op": op.name, "ok": False, "error": "run aborted"})
                    continue
                recs.append(self.run_op(op, check, traced))
        finally:
            if traced:
                self.timer.uninstall()
        wall = time.perf_counter() - t0
        if traced:
            recs.append(
                {
                    "pass": {
                        "registry.load_table_s": self.timer.seconds["registry.load_table"],
                        "registry.load_table_jobs": self.timer.jobs["registry.load_table"],
                        "iterutil.materialize_calls": self.timer.calls["iterutil.materialize"],
                        "iterutil.materialize_s": self.timer.seconds["iterutil.materialize"],
                        "jvm.heap_used_peak_mb": self.heap.peak_bytes() / MB,
                    }
                }
            )
        return wall, recs


def per_layer(
    traced_passes: list[tuple[float, list]],
    untraced_walls: list[float],
    landed_bytes: int,
    get_spark_s: float,
    failed_ratio: float,
    peak_rss_mb: float,
) -> dict:
    """Per-layer metrics per traced pass (sums over the pass's ops,
    averaged over traced passes; peaks are maxima)."""
    n = len(traced_passes)
    sums: dict[str, float] = {}
    peaks = {"python.workers_rss_peak_mb": 0.0, "jvm.heap_used_peak_mb": 0.0}
    for _wall, recs in traced_passes:
        for rec in recs:
            layers = rec.get("layers") or rec.get("pass") or {}
            for k, v in layers.items():
                if k in peaks:
                    peaks[k] = max(peaks[k], v)
                else:
                    sums[k] = sums.get(k, 0.0) + v
    m = {k: v / n for k, v in sums.items()} if n else {}
    m.update(peaks)
    capacity = m.pop("spark.core_capacity_s", 0.0)
    m["spark.core_util"] = m.get("spark.executor_run_s", 0.0) / capacity if capacity else 0.0
    m["session.get_spark_s"] = get_spark_s
    written = m.get("sink.bytes_written", 0.0) + m.get("checkpoint.bytes_written", 0.0)
    m["write_amp"] = written / landed_bytes if landed_bytes else 0.0
    m["failed_ratio"] = failed_ratio
    m["process.peak_rss_mb"] = peak_rss_mb
    if n and untraced_walls:
        traced_mean = sum(w for w, _ in traced_passes) / n
        m["trace.overhead_ratio"] = traced_mean / statistics.mean(untraced_walls) - 1.0
    return {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in PER_LAYER_UNITS.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import trino_demo_spark  # noqa: F401  (the library under test)
    except ImportError as exc:
        print(f"the library is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    isolate_environment(run_dir)
    adopt_orphans()
    try:
        return measure(args, workload, run_dir)
    finally:
        end_processes()
        shutil.rmtree(run_dir, ignore_errors=True)


def set_up(workload, data: str, run_dir: str, manifest: dict, rng, check: bool):
    """One set-up: ``get_spark`` plus one untimed warm-up pass over every
    op. Returns the runner, the ``get_spark`` time, the set-up time and
    the warm-up records."""
    from trino_demo_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{workload.name}",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")},
    )
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    runner = Runner(spark, data, run_dir, manifest)
    order = list(workload.ops)
    rng.shuffle(order)
    _, warm = runner.run_pass(order, check=check)
    return runner, get_spark_s, get_spark_s + sum(r.get("latency_s", 0.0) for r in warm), warm


def measure(args, workload, run_dir: str) -> int:
    data, manifest, inputs_s = load_inputs(workload.inputs, args.seed)
    rng = random.Random(args.seed)
    runner = None
    reported = False
    try:
        setups = []  # (get_spark_s, setup_s, warm-up records) per set-up
        # The first set-up launches the JVM and checks every op's output;
        # the second stops the session and builds a new one in the same JVM,
        # as a long-lived process would. setup_s is their median, and the
        # second warm-up pass brings the JIT closer to steady state before
        # anything is timed.
        for i in range(SETUPS):
            if runner is not None:
                runner.pool.shutdown(wait=True)
                runner.spark.stop()
            runner, *setup = set_up(workload, data, run_dir, manifest, rng, check=i == 0)
            setups.append(setup)
            if runner.broken:
                break
        passes: list[tuple[float, list, bool]] = []
        jvm_pid = runner.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        # memory is a per-layer metric: untraced passes run without the poller
        with probes.RssSampler(jvm_pid) if args.trace else contextlib.nullcontext() as sampler:
            if args.trace:
                runner.enable_tracing(sampler)
            ticks = probes.cpu_ticks()
            t_start = time.perf_counter()
            while not runner.broken:
                order = list(workload.ops)
                rng.shuffle(order)
                # Traced runs alternate untraced and traced passes in ABBA
                # order and end on a whole ABBA cycle, so a steady speed-up
                # over the run cancels out of the overhead.
                traced = bool(args.trace) and len(passes) % 4 in (1, 2)
                wall, recs = runner.run_pass(order, traced=traced)
                passes.append((wall, recs, traced))
                elapsed = time.perf_counter() - t_start
                if (
                    len(passes) >= MIN_PASSES
                    and elapsed * (len(passes) + 1) / len(passes) > args.seconds
                    and (not args.trace or len(passes) % 4 == 0)
                ):
                    break
        stolen, total = (b - a for a, b in zip(ticks, probes.cpu_ticks()))
        if not runner.broken:
            runner.pool.shutdown(wait=True)
        steal = stolen / total if total else 0.0
        print(json.dumps(report(args, workload, runner, manifest, inputs_s, setups, passes, sampler, steal)))
        reported = True
    finally:
        if runner is not None and runner.broken:
            # an op thread is stuck inside a call that cannot be cancelled,
            # and the interpreter would wait for it at exit: kill the JVM,
            # wait for it and its Python workers to end, and leave at once
            sys.stdout.flush()
            end_processes(kill=True)
            shutil.rmtree(run_dir, ignore_errors=True)
            os._exit(0 if reported else 1)
        if runner is not None:
            runner.spark.stop()
    return 0


def report(args, workload, runner, manifest, inputs_s, setups, passes, sampler, steal) -> dict:
    """Print the details line and return the result object."""
    warm = setups[0][2]
    wrong = {r["op"] for r in warm if not r["ok"]}
    samples = [r for _, recs, _ in passes for r in recs if "op" in r]
    if not samples:  # an op got stuck in set-up: nothing was measured
        samples = [r for _, _, recs in setups for r in recs]
    failed = [r for r in samples if not r["ok"] or r["op"] in wrong]
    attempted = len(samples)
    failed_ratio = len(failed) / attempted
    latencies: dict[str, list[float]] = {op.name: [] for op in workload.ops}
    cpu: dict[str, list[float]] = {op.name: [] for op in workload.ops}
    for _, recs, _ in passes:
        for r in recs:
            if "op" in r and r["ok"] and r["op"] not in wrong:
                latencies[r["op"]].append(r["latency_s"])
                cpu[r["op"]].append(r["cpu_s"])
    # Each op's median over the run: whole passes give every op the same
    # weight, and a sample stalled by a collection or a busy host moves
    # neither its own op's median nor any other op's.
    op_medians = {k: statistics.median(v) for k, v in latencies.items() if v}
    op_cpu_medians = {k: statistics.median(v) for k, v in cpu.items() if v}
    rows = sum(runner.op_rows(op) for op in workload.ops if op.name in op_medians)
    details = {
        "workload": workload.name,
        "seed": args.seed,
        "passes": len(passes),
        "pass_s": [w for w, _, _ in passes],
        "samples": sum(len(v) for v in latencies.values()),
        "failed_ratio": failed_ratio,
        # share of the host's CPU time stolen by other guests while the
        # passes ran: the first suspect when runs of one commit disagree
        "host_steal_share": steal,
        "inputs_s": inputs_s,
        "get_spark_s": [g for g, _, _ in setups],
        "setup_s": [s for _, s, _ in setups],
        "setup_op_s": [{r["op"]: r.get("latency_s") for r in recs} for _, _, recs in setups],
        "check_s": sum(r.get("check_s", 0.0) for r in warm),
        "input_rows_per_pass": sum(runner.op_rows(op) for op in workload.ops),
        "input_bytes": runner.input_bytes,
        "tables": manifest["tables"],
        "op_median_s": op_medians,
        "op_cpu_median_s": op_cpu_medians,
        "errors": sorted({r["error"] for r in [*warm, *samples] if r.get("error")}),
    }
    if args.trace:
        traced = [(w, recs) for w, recs, t in passes if t]
        metrics = per_layer(
            traced,
            [w for w, _, t in passes if not t],
            runner.landed_bytes,
            setups[0][0],
            failed_ratio,
            sampler.peak_total / MB,
        )
        details["per_op"] = [
            {"op": r["op"], "latency_s": r.get("latency_s"), **r.get("layers", {})}
            for _, recs in traced
            for r in recs
            if "op" in r
        ]
    else:
        medians = list(op_medians.values())
        cpu_medians = list(op_cpu_medians.values())
        values = {
            # input rows per second of a pass made of every op's median
            "rows_per_s": rows / sum(medians) if medians else 0.0,
            "op_p50_s": statistics.median(medians) if medians else 0.0,
            # the same in CPU seconds of the JVM, its Python workers and this
            # client, which time stolen by other guests of the host leaves out
            "rows_per_cpu_s": rows / sum(cpu_medians) if cpu_medians else 0.0,
            # every op weighs the same: halving any one op's CPU time moves it
            "op_cpu_geomean_s": statistics.geometric_mean(cpu_medians) if cpu_medians else 0.0,
            "setup_s": statistics.median([s for _, s, _ in setups]),
        }
        details.update({k: v for k, v in values.items() if k not in END_TO_END_UNITS})
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps(details, default=str))
    return {
        "correct": not failed and not wrong,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())

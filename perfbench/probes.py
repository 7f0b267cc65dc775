"""Measurement helpers: job-interval union, process memory sampling, and
per-op readers of Spark's own status stores.

Everything here observes the library from outside: job groups set around
each op, the application status store (jobs, stages), the SQL status
store (plan nodes and their metrics), ``StreamingQuery.recentProgress``,
and timing wrappers around public library functions.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections.abc import Iterable

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def interval_union(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end < start:
            raise ValueError(f"interval ends before it starts: {(start, end)}")
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# ---------------------------------------------------------------------------
# process memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by a process and all its
    descendants, counting the reaped children of each. The kernel leaves
    time stolen by the hypervisor out of these counters."""
    total = 0
    for p in (pid, *descendants(pid)):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # it ended since the scan
            continue
        # utime stime cutime cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot, from /proc/stat.
    On a shared virtual machine, the stolen share over a window says how
    much of it the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is in user)
    return fields[7], sum(fields[:8])


class RssSampler:
    """Polls the resident set of one process (the JVM) and of all its
    descendants (the Python workers) and keeps the peaks of their sum."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.peak_total = 0
        self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        workers = sum(_rss(p) for p in descendants(self.pid))
        self.peak_workers = max(self.peak_workers, workers)
        self.peak_total = max(self.peak_total, workers + _rss(self.pid))

    def reset_workers_peak(self) -> None:
        self.peak_workers = 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([0-9][0-9,.]*)\s*(B|KiB|MiB|GiB|TiB)\b")

EXCHANGE = "Exchange"
SORT_MERGE_JOIN = "SortMergeJoin"
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
PYTHON_NODE = re.compile(r"Python|InArrow|InPandas|ArrowEval")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: a plain count ("1,234") or the
    total of a size metric ("total (min, med, max ...)\\n1.5 MiB (...)")."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _SIZE_RE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    m = re.search(r"-?[0-9][0-9,]*(\.[0-9]+)?", text)
    return float(m.group(0).replace(",", "")) if m else 0.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    """Reads what one op did from Spark's status stores. Ops run one at a
    time, so the op owns every job and SQL execution whose id was issued
    while it ran, including those of streaming queries and foreachBatch
    callbacks, which run outside the op's job group."""

    GAP = 5  # consecutive unknown ids that end a scan

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.settle()
        jobs = self.store.jobsList(None)  # a Scala Seq, newest first
        n = jobs.size()
        self.next_job = max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) + 1 if n else 0
        n = self.sql_store.executionsCount()
        last = self.sql_store.executionsList(n - 1, 1) if n else None
        self.next_execution = last.apply(0).executionId() + 1 if n else 0

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def _scan_jobs(self, start: int) -> list[int]:
        tracker = self.sc.statusTracker()
        found, jid, misses = [], start, 0
        while misses < self.GAP:
            if tracker.getJobInfo(jid) is None:
                misses += 1
            else:
                found.append(jid)
                misses = 0
            jid += 1
        return found

    def skip(self) -> None:
        """Forget the jobs and SQL executions issued so far (untraced
        passes), so the next op is charged only with its own."""
        self.settle()
        self.jobs()
        self.sql_plans()

    def job_cursor(self) -> int:
        """The id the next job will get (after settling the listener bus)."""
        self.settle()
        found = self._scan_jobs(self.next_job)
        return found[-1] + 1 if found else self.next_job

    def jobs(self) -> dict:
        """Counts and times of the jobs and stages since the last call."""
        out = {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "intervals": [],
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "input_bytes": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "gc_s": 0.0,
        }
        job_ids = self._scan_jobs(self.next_job)
        if job_ids:
            self.next_job = job_ids[-1] + 1
        stage_ids: set[int] = set()
        for jid in job_ids:
            job = self.store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids.update(_seq(job.stageIds()))
        for sid in stage_ids:
            st = self.store.lastStageAttempt(sid)
            done_tasks = st.numCompleteTasks()
            if done_tasks == 0:
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += done_tasks
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["gc_s"] += st.jvmGcTime() / 1000.0
        return out

    def sql_plans(self) -> dict:
        """Plan-node counts and Python-boundary metrics of every SQL
        execution that started since the previous call."""
        out = {
            "executions": 0,
            "exchanges": 0,
            "sort_merge_joins": 0,
            "broadcast_joins": 0,
            "python_rows": 0.0,
            "python_bytes": 0.0,
        }
        eid, misses = self.next_execution, 0
        while misses < self.GAP:
            if not self.sql_store.execution(eid).isDefined():
                eid, misses = eid + 1, misses + 1
                continue
            misses = 0
            self.next_execution = eid + 1
            out["executions"] += 1
            values = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                if name == EXCHANGE:
                    out["exchanges"] += 1
                elif name == SORT_MERGE_JOIN:
                    out["sort_merge_joins"] += 1
                elif name in BROADCAST_JOINS:
                    out["broadcast_joins"] += 1
                elif PYTHON_NODE.search(name):
                    for metric in _seq(node.metrics()):
                        mname = metric.name()
                        if mname == "number of output rows":
                            key = "python_rows"
                        elif mname.startswith("data sent to Python") or mname.startswith(
                            "data returned from Python"
                        ):
                            key = "python_bytes"
                        else:
                            continue
                        val = values.get(metric.accumulatorId())  # a Scala Option
                        if val.isDefined():
                            out[key] += parse_metric(val.get())
            eid += 1
        return out

    def session_state(self) -> dict:
        """Cache hygiene: is anything left in the cache manager, and how
        many RDDs are still persisted."""
        cache = self.spark._jsparkSession.sharedState().cacheManager()
        return {
            "cached_plans": 0 if cache.isEmpty() else 1,
            "persisted_rdds": self.sc._jsc.getPersistentRDDs().size(),
        }


class HeapPeak:
    """Peak used heap of the JVM, summed over its heap memory pools."""

    def __init__(self, spark):
        mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.pools = [
            p for p in mgmt.getMemoryPoolMXBeans() if p.getType().toString() == "Heap memory"
        ]

    def reset(self) -> None:
        for p in self.pools:
            p.resetPeakUsage()

    def peak_bytes(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self.pools)


def streaming_progress(queries) -> dict:
    """Sums over the ``recentProgress`` of finished streaming queries."""
    out = {
        "batches": 0,
        "trigger_s": 0.0,
        "add_batch_s": 0.0,
        "planning_s": 0.0,
        "commit_s": 0.0,
        "state_rows": 0,
        "state_bytes": 0,
    }
    for q in queries:
        progress = q.recentProgress
        for p in progress:
            d = p.durationMs or {}
            if p.numInputRows:
                out["batches"] += 1
            out["trigger_s"] += d.get("triggerExecution", 0) / 1000.0
            out["add_batch_s"] += d.get("addBatch", 0) / 1000.0
            out["planning_s"] += d.get("queryPlanning", 0) / 1000.0
            out["commit_s"] += (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1000.0
        if progress:
            for s in progress[-1].stateOperators:
                out["state_rows"] += s.numRowsTotal
                out["state_bytes"] += s.memoryUsedBytes
    return out


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


class CallTimer:
    """Counts calls of public library functions, the time spent in them
    and the Spark jobs they started, by rebinding the function in every
    module that imported it."""

    def __init__(self, targets: dict[str, tuple[object, str]], job_cursor=None):
        # metric name -> (module that defines the function, attribute name)
        self.targets = targets
        self.job_cursor = job_cursor
        self._saved: list[tuple[object, str, object]] = []
        self.reset()

    def reset(self) -> None:
        self.calls = {k: 0 for k in self.targets}
        self.seconds = {k: 0.0 for k in self.targets}
        self.jobs = {k: 0 for k in self.targets}

    def _wrap(self, key, fn):
        def timed(*args, **kwargs):
            before = self.job_cursor() if self.job_cursor else 0
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.seconds[key] += time.perf_counter() - t0
                self.calls[key] += 1
                if self.job_cursor:
                    self.jobs[key] += self.job_cursor() - before

        timed.__wrapped__ = fn
        return timed

    def install(self, modules: Iterable[object]) -> None:
        modules = list(modules)
        for key, (home, attr) in self.targets.items():
            original = getattr(home, attr)
            wrapped = self._wrap(key, original)
            for mod in modules:
                if getattr(mod, attr, None) is original:
                    self._saved.append((mod, attr, original))
                    setattr(mod, attr, wrapped)

    def uninstall(self) -> None:
        for mod, attr, original in reversed(self._saved):
            setattr(mod, attr, original)
        self._saved.clear()

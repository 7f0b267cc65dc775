"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
configuration is designed to hold on a multi-executor cluster: AQE handles
runtime re-planning / skew joins / partition coalescing, Arrow accelerates
any pandas-UDF boundary, and the UTC session timezone pins date⋈timestamp
coercion semantics (SURVEY.md §7 "hard parts").
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Runtime-settable confs every entry point re-asserts (the driver may hand
# us a session we didn't build). nanosAsLong is required because the
# testdata `events` table stores TIMESTAMP(NANOS), which Spark's parquet
# reader otherwise rejects (PARQUET_TYPE_ILLEGAL).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Respect the advisory partition size when coalescing instead of
    # stopping at default parallelism (the documented production
    # recommendation): a multi-stage iterative plan otherwise schedules
    # cores×stages near-empty tasks — measured 10-15% off the CC dedup
    # queries at sf0.1, and at 100 TB size-based coalescing is what
    # keeps reducers near the 64 MB advisory target rather than pinned
    # to the cluster's core count.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


# SparkContext application ids that already had the package zip shipped.
_PYFILES_ADDED: set[str] = set()

# One package zip per PROCESS, removed at interpreter exit (ADVICE r5: the
# r4 mkstemp fix leaked one zip per SparkSession for the life of the host).
# The zip must outlive the session — in local mode executors fetch the
# file: URL lazily at FIRST TASK, not at addPyFile time (unlinking right
# after addPyFile made every task die with "does not match contents of
# file:" under the 32-way concurrent first fetch) — so cleanup is atexit,
# and caching one path per process bounds the live footprint to one file.
_PKG_ZIP: str | None = None


def _reset_pkg_zip_in_child() -> None:
    # ADVICE r6: the owner-pid guard below is one-directional — it stops a
    # forked CHILD's atexit from deleting the PARENT's zip, but a child
    # that calls _pkg_zip_path() would still reuse the parent's cached
    # path, and once the parent exits (unlinking it) the child's executors
    # owe a lazy first-task fetch of a deleted file. Drop the inherited
    # cache in the child so it builds and owns its own zip.
    global _PKG_ZIP
    _PKG_ZIP = None


if hasattr(os, "register_at_fork"):  # POSIX; absent on Windows
    os.register_at_fork(after_in_child=_reset_pkg_zip_in_child)


def _pkg_zip_path() -> str:
    """Build (once per process) the shippable package zip."""
    global _PKG_ZIP
    if _PKG_ZIP is not None and os.path.exists(_PKG_ZIP):
        return _PKG_ZIP
    import atexit
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # mkstemp, not a pid-keyed fixed name: a predictable path in the
    # shared temp dir could be pre-created by another user (or left by a
    # reused pid) and shipped verbatim to every executor (ADVICE r4).
    # Always written fresh; O_EXCL-created so the content is ours.
    fd, zpath = tempfile.mkstemp(
        prefix="trino_demo_spark_pkg_", suffix=".zip"
    )
    with os.fdopen(fd, "wb") as fh:
        with zipfile.ZipFile(fh, "w") as z:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)

    owner_pid = os.getpid()

    def _cleanup(path: str = zpath) -> None:
        # Only the process that created the zip may remove it: a forked
        # child inherits this atexit hook, and firing it there would
        # delete the file while the PARENT's executors still owe their
        # lazy first-task fetch (the exact failure documented above).
        if os.getpid() != owner_pid:
            return
        try:
            os.unlink(path)
        except OSError:
            pass

    atexit.register(_cleanup)
    _PKG_ZIP = zpath
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make ``trino_demo_spark`` importable on Python WORKERS regardless
    of the driver process's CWD (the driver contract imports this repo
    by file path and may run from any directory; the codec kernels run
    through llm.multimodal.map_doc_kernel and the Python DataSource —
    sources.pyjsonl — unpickle BY MODULE REFERENCE on the worker, so the
    worker must be able to import the package itself). addPyFile
    distributes a zip of the package and prepends it to every worker's
    sys.path. A failed ship is logged as a warning with its cause, since
    it otherwise surfaces later as an opaque worker ImportError."""
    try:
        sc = spark.sparkContext
        key = sc.applicationId
    except Exception as exc:
        _log.warning(
            "could not read the SparkContext application id (%r); "
            "trino_demo_spark is not shipped to Python workers",
            exc,
        )
        return
    if key in _PYFILES_ADDED:
        return
    try:
        sc.addPyFile(_pkg_zip_path())
    except Exception as exc:
        _log.warning(
            "could not ship trino_demo_spark to Python workers (%r); "
            "worker-side imports of the package may fail",
            exc,
        )
    _PYFILES_ADDED.add(key)


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Assert engine-required confs on an externally built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:
            # Static conf on this build — leave whatever the session has.
            _log.warning(
                "could not set %s=%s on this session (%r); keeping the "
                "session's value",
                k,
                v,
                exc,
            )
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "trino_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Shuffle partitions default to the local core count: at 100 TB on a real
    cluster this should instead be ~2-3× total executor cores, but AQE
    coalescing makes the initial number far less critical than in static
    planning.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    # Local mode packs the driver AND all executor threads into one JVM;
    # Spark's 1g default heap is the cluster-driver default, not an
    # executor budget, and it broke first at the sf1-equivalent scale
    # study (BroadcastExchange: "Not enough memory to build and
    # broadcast" — a 150k-row dim that any real executor would hold
    # trivially). Size the JVM like the N-executor cluster it stands in
    # for (~1g/core, capped); static conf, so it only applies when this
    # call actually launches the JVM.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(cpus, 48)}g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # iterutil.materialize takes reliable checkpoint() when a
        # checkpoint dir is set; without this conf Spark NEVER deletes
        # those files (default false), so per-round materialize would
        # accumulate one frame-sized dir per iteration forever. No-op
        # when no checkpoint dir is set. Static conf: applies when this
        # call launches the JVM.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)

"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is a 100-TB lever, not a test convenience:

* AQE on (+ skew-join splitting + partition coalescing) — runtime re-plan
  replaces hand-tuned shuffle partition counts at scale (SURVEY §4).
* Arrow execution on — every pandas UDF moves columnar batches, never rows.
* ``spark.sql.session.timeZone=UTC`` — timestamp semantics independent of
  host zone, required for oracle parity.
* shuffle partitions default to 2× parallelism locally; on a real cluster
  AQE coalescing makes the initial number mostly irrelevant.

Python workers also get one process-level fix, installed when the package
is imported inside a task (:func:`guard_zip_reloads`). PySpark calls
``importlib.invalidate_caches()`` at the start of every Python task, and on
CPython 3.11 that makes every ``zipimporter`` in ``sys.path_importer_cache``
parse its archive's whole directory again. An Arrow UDF worker holds about
a dozen importers over ``pyspark.zip`` and two over the spark-core jar, so
each task re-read ~27k directory entries before touching a row: 0.16-0.36 s
of CPU per task on a 4-vCPU Xeon VM. The guard re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed.

Reading the ``time to initialize Python workers`` SQL metric
(``pythonInitTime``): it runs from the start of the worker's ``main()`` to
the moment the UDF is ready. A reused worker re-enters ``main()`` as soon as
its previous task ends, so the metric also counts the idle wait for the
next task, plus per-task set-up (file/broadcast set-up and the archive
re-read above). It is not a measure of process start-up. On the same VM an
empty ``mapInArrow`` pass over a 55k-row, 8-partition frame takes 0.29 s
with the guard and took 0.85 s without it; the same scan with no Python
stage takes 0.07 s (medians of 7, README "Measured results").
"""

from __future__ import annotations

import logging
import os
import shutil
import tempfile
import threading
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_PKG_ZIP: str | None = None


def package_zip() -> str:
    """Zip this package for shipping to executors (``--py-files`` analog).

    On a real cluster the same artifact goes to ``spark-submit --py-files``;
    locally ``get_spark`` attaches it via ``sc.addPyFile`` so worker
    processes can unpickle our UDFs regardless of the driver's cwd.
    """
    global _PKG_ZIP
    if _PKG_ZIP is None or not os.path.exists(_PKG_ZIP):
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        # pid-suffixed: concurrent drivers must not race on one zip path
        base = os.path.join(
            tempfile.gettempdir(), f"cdrc_semantic_search_spark_pkg_{os.getpid()}"
        )
        _PKG_ZIP = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                       os.path.basename(pkg_dir))
    return _PKG_ZIP


def get_spark(
    app_name: str = "cdrc-kg-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE re-plan (and in particular COALESCE the partitions of)
        # cached plans: off by default, which pins every persisted frame
        # to the raw pre-AQE shuffle partition count — each downstream
        # stage of a cached frame then launches one task per cached
        # partition regardless of size. The iterative kernels (LPA's
        # persisted symmetric edge list, the dedup posting/signature
        # caches) read their cache once per round/branch, so the task
        # fan multiplies; byte-sized coalescing is exactly AQE's job
        # (guide §2.2 "fewer, larger reduce partitions"). Measured:
        # graph_label_prop warm 2.30→1.50 s, cc 1.34→1.21,
        # dedup_ngram 0.65→0.57 at sf0.1; partition counts stay
        # byte-derived, nothing is tuned to the local core count.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # join strategy (guide §3.1/§9): allow shuffled-hash join where
        # its size conditions hold instead of always sort-merge — no
        # sort of either side; and let AQE rewrite a planned sort-merge
        # to shuffled-hash at runtime when every post-shuffle partition
        # is under 64 MB (bounded build-side memory per task — a BYTE
        # threshold, not a local-core tune; sort-merge remains the
        # planner's fallback for anything larger, so 100-TB joins keep
        # their spill-graceful path). Measured at sf0.1: q3 0.53→0.43,
        # q5 0.52→0.45, sketch_count_min 0.44→0.36 warm.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # broadcast threshold: entity catalogues / dimension tables are small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(package_zip())
    app_id = spark.sparkContext.applicationId
    if app_id not in _WARMING:
        # in the background: the warm-up (~2.7 s on a 4-vCPU VM, most of
        # it the session's first SQL query and the worker forks) then
        # overlaps the caller's own start — reading inputs, building a
        # KGPipeline — and a first job queues behind it. Time from process
        # start to the first triples of 64k turns: 7.25 s, against 7.97 s
        # with get_spark waiting for it (medians of 6 alternating pairs,
        # 5 won; scripts/warmup_bench.py)
        _WARMING[app_id] = warm = threading.Thread(
            target=_warm_python_workers, args=(spark,), daemon=True
        )
        warm.start()
    return spark


# per session, the thread pre-forking its python worker pool (keyed by app
# id: getOrCreate may hand the same live session back to later callers)
_WARMING: dict[str, threading.Thread] = {}


def _warm_python_workers(spark) -> None:
    """Pre-fork the Python worker pool at session creation.

    The first Arrow/pandas stage of a fresh session pays worker process
    spin-up on top of its own work; with ``spark.python.worker.reuse``
    (the default) the forked pool then serves every later stage.
    Production executors amortize this across hours — a short-lived
    driver session should pay it at init, not inside whichever query
    happens to hit Python first. ``get_spark`` runs it in a background
    thread (``_WARMING`` holds the thread per session). This computes
    nothing from any input table (a range→identity round trip), so it is
    process-pool initialization, not result precomputation.

    It runs as a ``mapInArrow`` stage because SQL Arrow/pandas UDF tasks
    get their workers from a different ``pyspark.daemon`` than RDD tasks:
    an RDD warm-up forks a pool no kernel ever uses.
    """
    par = spark.sparkContext.defaultParallelism

    def _init(batches):
        # pre-import the heavy per-worker modules: the first Arrow stage
        # otherwise pays a simultaneous numpy/pandas/pyarrow import in
        # every worker (measured as 1-5 s of first-query jitter); the
        # package import installs guard_zip_reloads in this worker
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        import cdrc_semantic_search_spark  # noqa: F401

        yield from batches

    try:
        spark.sparkContext.setJobDescription("session init: python worker pool")
        # one python task per slot; the daemon forks one reusable worker
        # per concurrent task
        (
            spark.range(par, numPartitions=par)
            .mapInArrow(_init, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception:  # pragma: no cover — init best-effort, never fatal
        log.debug("python worker warm-up failed", exc_info=True)
    finally:
        spark.sparkContext.setJobDescription(None)


# archive path → (signature at the last directory read, the directory read)
_zip_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def guard_zip_reloads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size, st_ino)`` changed since the last read.

    CPython 3.11's ``zipimporter.invalidate_caches`` parses the whole
    archive directory on every call, once per importer, and PySpark calls
    ``importlib.invalidate_caches()`` before every Python task. An
    unchanged archive now keeps the directory read last time (importers
    of the same archive share it, as they do at construction). A changed
    archive, or one that can't be stat'ed, takes the original path, so
    updated archives are still picked up. Applying it twice changes
    nothing. CPythons whose importers re-read lazily (``_get_files``) are
    left alone.
    """
    cls = zipimport.zipimporter
    original = cls.invalidate_caches
    if getattr(original, "_reloads_only_changed", False) or hasattr(cls, "_get_files"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            sig = None
        seen = _zip_reads.get(self.archive)
        if sig is not None and seen is not None and seen[0] == sig:
            self._files = seen[1]
            return
        original(self)
        # stat'ed BEFORE the read: a change during the read leaves an old
        # signature on the record, so the next call reads again
        if sig is None:
            _zip_reads.pop(self.archive, None)
        else:
            _zip_reads[self.archive] = (sig, self._files)

    invalidate_caches._reloads_only_changed = True
    cls.invalidate_caches = invalidate_caches


# inside a Python worker (a task is running): every later task of this
# worker skips the archive re-reads; the driver is left untouched
if TaskContext.get() is not None:
    guard_zip_reloads()

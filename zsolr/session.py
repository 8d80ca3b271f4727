"""SparkSession factory with the engine's standard configuration, and the
wrapper every engine function handed to Spark's Python runners goes
through (:func:`worker_task`)."""

from __future__ import annotations

import functools
import inspect
import os
import sys
import zipimport

from pyspark import SparkFiles
from pyspark.sql import SparkSession


def get_spark(app: str = "zsolr", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = (os.cpu_count() or 8) if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # posting blobs are ≤1 MiB; keep Arrow batches bounded (SURVEY.md R4).
        # NOTE: Spark's byte-size batch limit (maxBytesPerBatch) calls
        # ArrowWriter.sizeInBytes per ROW — a vector-tree walk that measured
        # >90% of grouped-Arrow stage CPU at 100M rows.  The engine therefore
        # keeps per-row streams OUT of Arrow boundaries (JVM-side
        # collect_list pre-grouping); see build._stage_postings.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("ZSOLR_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Single-box sandbox: the shared virtual disk (~150 MB/s) would cap all
    # shuffle/spill I/O at any core count, masking CPU scaling that a real
    # cluster (per-node disks) has.  RAM-backed local dirs restore
    # per-core-proportional I/O.  Override with ZSOLR_LOCAL_DIR.
    local_dir = os.environ.get("ZSOLR_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/zsolr-spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    return b.getOrCreate()


def worker_task(fn):
    """Wrap ``fn`` for Spark's Python runners (``mapInArrow``,
    ``mapInPandas``, ``applyInPandas[WithState]``, ``pandas_udf``).

    Every Python task starts with PySpark's ``importlib.invalidate_caches()``
    (``pyspark/worker_util.py::setup_spark_files``), and CPython's
    ``zipimporter.invalidate_caches`` re-reads the archive's whole central
    directory — once per ``zipimporter`` in ``sys.path_importer_cache``.  A
    warm worker caches 16 of them (pyspark.zip's root and 11 package
    sub-paths, the py4j zip, the spark-core jar): ~230 ms of worker CPU
    per task on a 4-vCPU VM (CPython 3.11, PySpark 4.1), where a ranked
    query's kernel takes ~5 ms.  Spark's archives never change
    while a worker lives, so on entry the wrapper drops their importers
    from the cache (:func:`_shed_spark_zips`); a later import rebuilds one
    from ``zipimport._zip_directory_cache`` without reading the archive,
    and the next task's ``invalidate_caches()`` has nothing to re-read.
    No import and no result changes."""

    @functools.wraps(fn)
    def task(*args, **kwargs):
        _shed_spark_zips()
        return fn(*args, **kwargs)

    # Spark reads a UDF's arity and type hints through getfullargspec,
    # which ignores __wrapped__ but honours __signature__ (PySpark's own
    # UDF profiler wraps the same way)
    task.__signature__ = inspect.signature(fn)
    return task


def _shed_spark_zips() -> None:
    """Drop cached zip importers whose archive is not under the worker's
    SparkFiles root.  ``--py-files``/``addPyFile`` archives live under
    that root and keep theirs: re-reading those is what PySpark's
    ``invalidate_caches()`` is for.  A no-op outside a Python worker."""
    if not SparkFiles._is_running_on_worker:
        return
    keep = os.path.join(SparkFiles.getRootDirectory(), "")
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if (isinstance(finder, zipimport.zipimporter)
                and not finder.archive.startswith(keep)):
            del cache[path]

"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import gc
import os
import sys
import zipimport

from pyspark.sql import SparkSession

__all__ = ["get_spark", "settle_python_worker"]


def get_spark(
    app_name: str = "graby-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    return _session_builder(app_name, master, shuffle_partitions).getOrCreate()


def _session_builder(
    app_name: str,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """The engine's one session policy; ``get_spark`` and the UI-enabled
    audit session both start from it."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: shuffle coalescing + skew-join splitting for the multipage
        # self-join and the host-skewed repartition (SURVEY.md §4)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # HTML rows are large (50-500 KB at production scale); keep Arrow
        # batches small enough to bound Python-worker memory (SURVEY.md §4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # extraction is CPU-heavy per byte: smaller input splits give the
        # scan/shuffle-write side enough tasks to keep every core busy
        # (default 128 MB splits starve a 32-core box on a sub-GB table)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # scan-parallelism floor, derived from the core count rather than a
        # constant (guide §6): byte-based splitting packs a small many-file
        # table into a handful of splits (each file charged openCostInBytes),
        # which starves the CPU-bound extraction stage that follows the scan.
        # At production scale the split count dwarfs this floor and the
        # setting is inert; locally it keeps scan-rooted pipelines at
        # 2 tasks/core without adding any shuffle.
        .config("spark.sql.files.minPartitionNum", str(2 * int(cpus)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill on tmpfs when available: the extraction job shuffles the
    # full html payload once (the bucket range repartition); a ~240 MB/s
    # disk would serialize an otherwise CPU-parallel pipeline on a many-core
    # box
    if os.path.isdir("/dev/shm") and "SPARK_LOCAL_DIRS" not in os.environ:
        shm_dir = "/dev/shm/spark-graby"
        os.makedirs(shm_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", shm_dir)
    return builder


def settle_python_worker() -> None:
    """End-of-task cleanup for a reused PySpark Python worker; call it once
    a task's batches are consumed, from a frame that holds no row data.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and ``zipimporter.invalidate_caches`` re-reads its whole
    archive's central directory: ``pyspark.zip`` (~1.3k entries, one
    importer per imported sub-package) and any jar on ``sys.path`` (5k+
    entries), 0.2-0.4 s of every task.  Deleting the cached zip finders
    leaves that call nothing to re-read; an import that later needs an
    archive rebuilds its finder from zipimport's directory cache.  The
    entries are deleted, never set to None: None means "no finder" and
    would hide the archive from later imports.

    The daemon runs a full ``gc.collect()`` after every reused task, which
    scans the whole warm heap (modules, compiled XPath/regex caches, the
    ruleset) each time.  The first call per process collects and then
    freezes that heap, so later collections scan only what later tasks
    allocate."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]
    if gc.get_freeze_count() == 0:
        gc.collect()
        gc.freeze()


def ship_package(spark: SparkSession) -> None:
    """Make ``graby_spark`` importable on executors regardless of the
    driver's cwd (idempotent).

    cloudpickle serializes the mapInPandas functions by module reference,
    so Python workers must import the package themselves.  When the driver
    process happens to run from the repo root the workers inherit it via
    cwd; any other launch layout (different cwd, spark-submit without
    --py-files) needs the package shipped explicitly — this zips the
    package once per session and ``addPyFile``s it."""
    sc = spark.sparkContext
    if getattr(sc, "_graby_spark_shipped", False):
        return
    import graby_spark

    pkg_file = os.path.abspath(graby_spark.__file__)
    if ".zip" in pkg_file:
        # already running from a shipped archive (spark-submit --py-files):
        # workers got the same archive; re-shipping would collide on name
        sc._graby_spark_shipped = True
        return
    pkg_dir = os.path.dirname(pkg_file)
    import hashlib
    import tempfile
    import zipfile

    payload: list[tuple[str, bytes]] = []
    digest = hashlib.sha256()
    for dirpath, _dirnames, filenames in os.walk(pkg_dir):
        if "__pycache__" in dirpath:
            continue
        for name in sorted(filenames):
            if name.endswith(".py"):
                full = os.path.join(dirpath, name)
                rel = os.path.join("graby_spark", os.path.relpath(full, pkg_dir))
                with open(full, "rb") as fh:
                    data = fh.read()
                payload.append((rel, data))
                digest.update(rel.encode())
                digest.update(data)
    # content-addressed name: a second session shipping identical code is a
    # no-op instead of a 'does not match contents' collision
    zip_name = f"graby_spark-{digest.hexdigest()[:12]}.zip"
    zip_path = os.path.join(tempfile.gettempdir(), zip_name)
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, data in payload:
                info = zipfile.ZipInfo(rel)  # fixed date → deterministic bytes
                zf.writestr(info, data)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    sc._graby_spark_shipped = True

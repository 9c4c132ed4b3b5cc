"""Checkpoint manifest: per-partition lineage + metrics, resumable runs.

The north_rule requires the job to be "resumable from checkpoint with
per-partition lineage + metrics".  Without an Iceberg runtime in this
environment the manifest is a plain parquet table maintained with Iceberg's
snapshot semantics (append-only manifests, resume = a bucket filter):

  manifest(run_id, snapshot_id, bucket, url_count, ok_count, fail_count,
           bytes_in, wall_ms, completed_at)

* ``bucket`` is a deterministic url-hash bucket, ``bucket_of(url)`` over
  the module's one ``BUCKETS`` constant (NOT the physical Spark
  partition id — bucket assignment must survive re-planning, and every
  write and resume of a manifest must agree on it).
* A bucket appears in the manifest only after all of its rows were
  written — the write is bucket-partitioned so the commit unit and the
  resume unit coincide.
* resume = pages whose bucket is not among the completed ones.  The
  completed list (≤ ``BUCKETS`` ids) is collected once and applied as a
  literal ``NOT IN`` filter, so a manifest that covers every bucket
  folds the remainder to an empty plan: no sampling, shuffle or Python
  task runs downstream.

Commit protocol (``write_with_manifest``):

1. The data write is one ``mapInArrow`` stage in the extraction's stage:
   each task writes its rows of each bucket to one parquet file under
   ``<output>/.staging-<run_id>/bucket=<b>/`` with pyarrow and returns the
   file's path and lineage counts.  No cache, no stats pass, no Hadoop
   output committer.
2. The driver collects those rows (the stats and the commit list at
   once), replaces each written bucket's ``<output>/bucket=<b>`` with its
   listed files, removes the staging directory and writes ``_SUCCESS``.
3. Then the manifest append: ≤ ``BUCKETS`` rows as one JVM-side literal
   relation, one parquet file, with no Python worker.  Every read gives
   the known ``_MANIFEST_SCHEMA``, so none infers it; resume runs on the
   JVM alone.

A staging directory left by a crash inside step 2 is skipped by Spark's
reader (its name starts with ``.``) and removed by the next write.  Paths
are local POSIX paths: the driver lists, moves and removes them with
``os``/``shutil``, and the tasks write them with pyarrow.

SINGLE WRITER (protocol requirement, ADVICE r03): the snapshot_id bump and
the staging clean-up in ``write_with_manifest`` and the compaction in
``expire_snapshots`` are read-modify-write sequences with no lock — two
concurrent writers could
mint the same snapshot_id and break the strict total order that
``read_manifest`` time travel assumes.  Exactly like Hive-style tables
without a metastore lock, one manifest = one writer at a time; CONCURRENT
READERS are always safe (appends are atomic at parquet-file granularity
and readers pin a snapshot).  A multi-writer deployment needs an external
coordinator (an Iceberg/Hive catalog lock or an object-store conditional
put) around the commit section.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .session import settle_python_worker

__all__ = [
    "bucket_of",
    "expire_snapshots",
    "filter_resumable",
    "manifest_snapshots",
    "read_manifest",
    "write_with_manifest",
]

BUCKETS = 64

# nullability as well as types match the files earlier writes left
_MANIFEST_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("snapshot_id", LongType(), False),
        StructField("bucket", IntegerType(), True),
        StructField("url_count", LongType(), False),
        StructField("ok_count", LongType(), True),
        StructField("fail_count", LongType(), True),
        StructField("bytes_in", LongType(), True),
        StructField("wall_ms", IntegerType(), False),
        StructField("completed_at", TimestampType(), False),
    ]
)


def bucket_of(url_col):
    return F.pmod(F.xxhash64(url_col), F.lit(BUCKETS)).cast("int")


def _sql_literal(value, dtype) -> str:
    if value is None:
        return "NULL"
    if isinstance(dtype, StringType):
        return f"'{value}'"  # run ids are hex
    if isinstance(dtype, LongType):
        return f"{value}L"
    if isinstance(dtype, TimestampType):
        return f"timestamp_micros({value})"
    return str(value)


def _manifest_rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """``rows`` (``completed_at`` in epoch microseconds) as one JVM-side
    relation in one partition: an array literal, written as one SQL
    expression (a column call per value would cost a Py4J round trip
    each), cast to the manifest's struct type, which carries each
    column's nullability, and unnested over a one-row range."""
    fields = _MANIFEST_SCHEMA.fields
    structs = ", ".join(
        "struct(" + ", ".join(_sql_literal(v, f.dataType) for v, f in zip(row, fields)) + ")"
        for row in rows
    )
    array = F.expr(f"array({structs})").cast(ArrayType(_MANIFEST_SCHEMA, containsNull=False))
    return spark.range(0, 1, 1, 1).select(F.inline(array))


def _read(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Every manifest row, read with the known schema (no inference job);
    an empty relation when nothing was committed yet."""
    if not os.path.exists(manifest_path):
        return _manifest_rows(spark, []).where(F.lit(False))
    return spark.read.schema(_MANIFEST_SCHEMA).parquet(manifest_path)


def manifest_snapshots(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Snapshot log (Iceberg ``.snapshots`` analog): one row per committed
    snapshot with its run and bucket/url totals, ordered by snapshot_id."""
    return (
        _read(spark, manifest_path)
        .groupBy("snapshot_id", "run_id")
        .agg(F.count("*").alias("buckets"), F.sum("url_count").alias("url_count"))
        .orderBy("snapshot_id")
    )


def read_manifest(
    spark: SparkSession,
    manifest_path: str,
    as_of_snapshot: int | None = None,
    history: bool = False,
) -> DataFrame:
    """Manifest table state, optionally AS OF a snapshot (time travel).

    The manifest is append-only, so snapshot isolation is a filter:
    ``snapshot_id <= as_of_snapshot`` sees exactly the commits that
    existed at that snapshot — a reader pinned at snapshot N is
    reproducible while run N+1 lands (the Iceberg read-at-snapshot
    model).  By default the CURRENT STATE per bucket is returned (the
    latest surviving row ≤ the pin, like reading an Iceberg table);
    ``history=True`` returns every manifest row ≤ the pin instead (like
    reading its ``.entries`` metadata table).
    """
    rows = _read(spark, manifest_path)
    if as_of_snapshot is not None:
        rows = rows.where(F.col("snapshot_id") <= as_of_snapshot)
    if history:
        return rows
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(
        F.col("snapshot_id").desc(), F.col("run_id").desc()
    )
    return rows.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")


def filter_resumable(
    spark: SparkSession,
    pages: DataFrame,
    manifest_path: str,
    as_of_snapshot: int | None = None,
) -> DataFrame:
    """Drop rows whose bucket already completed; the result has exactly
    ``pages``' columns.

    The buckets recorded complete by any run at or before the pinned
    snapshot (default: all runs) are collected here, once, as the bucket
    column of the manifest history (a scan, no shuffle), and kept as a
    literal filter ``NOT bucket_of(url) IN (...)``: the call runs one
    small job and the plan it returns reads no manifest.  When every
    bucket is complete the result is ``pages.limit(0)``, which Catalyst
    replaces with an empty ``LocalRelation`` whatever ``pages``'
    plan (a ``where(False)`` would be pushed below a repartition and stop
    there): an extraction and write over it launch no task.
    ``as_of_snapshot`` pins the decision to a manifest snapshot: the same
    remaining set is computed even while a newer run is appending
    manifest rows."""
    history = read_manifest(spark, manifest_path, as_of_snapshot, history=True)
    done = {r["bucket"] for r in history.select("bucket").collect() if r["bucket"] is not None}
    if done.issuperset(range(BUCKETS)):
        return pages.limit(0)
    if not done:
        return pages
    return pages.where(~bucket_of(pages["url"]).isin(sorted(done)))


#: snapshots :func:`expire_snapshots` retains
KEEP_SNAPSHOTS = 2


def expire_snapshots(spark: SparkSession, manifest_path: str) -> dict:
    """Iceberg-style snapshot expiration (VERDICT r03 #9): the lineage
    table appends one parquet file per run forever; this compacts it while
    keeping every RETAINED snapshot's visible state bit-identical.

    Semantics (mirroring Iceberg ``expireSnapshots(retainLast=KEEP_SNAPSHOTS)``):

    * the newest ``KEEP_SNAPSHOTS`` snapshot ids are retained — every one of
      their rows survives, so ``read_manifest(as_of_snapshot=retained)``
      and ``filter_resumable`` pinned there are unchanged;
    * rows of EXPIRED snapshots are dropped, except each bucket's single
      latest expired row when the bucket has no row at the OLDEST retained
      snapshot (a bucket first rewritten by a later retained snapshot, or
      never again, still resolves through that expired row when reading at
      earlier retained snapshots) — the analog of keeping data files still
      referenced by retained snapshots;
    * time travel to an expired snapshot id is no longer supported (reads
      there see the compacted approximation), exactly like Iceberg.

    Runs under the module's SINGLE-WRITER protocol; the rewrite is staged
    to a sibling directory and swapped in, so concurrent READERS see
    either the old or the new manifest, never a partial one.

    Returns {"snapshots_before", "snapshots_expired", "rows_before",
    "rows_after"}.
    """
    if not os.path.exists(manifest_path):
        return {
            "snapshots_before": 0,
            "snapshots_expired": 0,
            "rows_before": 0,
            "rows_after": 0,
        }
    rows = _read(spark, manifest_path)
    snap_ids = sorted(
        r["snapshot_id"] for r in rows.select("snapshot_id").distinct().collect()
    )
    if len(snap_ids) <= KEEP_SNAPSHOTS:
        n = rows.count()
        return {
            "snapshots_before": len(snap_ids),
            "snapshots_expired": 0,
            "rows_before": n,
            "rows_after": n,
        }
    retained_min = snap_ids[-KEEP_SNAPSHOTS]
    rows_before = rows.count()
    from pyspark.sql import Window

    retained = rows.where(F.col("snapshot_id") >= retained_min)
    # each bucket's latest expired row survives only if no retained
    # snapshot covers the bucket (still-referenced "data file")
    w = Window.partitionBy("bucket").orderBy(
        F.col("snapshot_id").desc(), F.col("run_id").desc()
    )
    carried = (
        rows.where(F.col("snapshot_id") < retained_min)
        .withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
        # a bucket with a row AT the oldest retained snapshot never needs
        # its expired history; any other bucket's state at that snapshot
        # (and at every retained snapshot before its next rewrite) is its
        # latest expired row — keep exactly that one
        .join(
            retained.where(F.col("snapshot_id") == retained_min)
            .select("bucket")
            .distinct(),
            "bucket",
            "left_anti",
        )
    )
    compacted = retained.unionByName(carried)
    rows_after = compacted.count()
    if rows_after == rows_before:
        # nothing to drop (every older row is carried forward) — calling
        # expire again after an expiration is a no-op, not a rewrite
        return {
            "snapshots_before": len(snap_ids),
            "snapshots_expired": 0,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }

    # stage the rewrite while the source path is still intact, then swap —
    # no cache/checkpoint lease outlives the call
    staging = manifest_path.rstrip("/") + f".compact-{uuid.uuid4().hex[:8]}"
    compacted.coalesce(1).write.mode("overwrite").parquet(staging)
    backup = manifest_path.rstrip("/") + f".expired-{uuid.uuid4().hex[:8]}"
    os.rename(manifest_path, backup)
    os.rename(staging, manifest_path)
    shutil.rmtree(backup)
    return {
        "snapshots_before": len(snap_ids),
        "snapshots_expired": len(snap_ids) - KEEP_SNAPSHOTS,
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


#: the write stage's rows: one per bucket file, its path and lineage counts
_FILE_SCHEMA = (
    "bucket int, path string, url_count bigint, ok_count bigint, fail_count bigint, bytes_in bigint"
)


def _add_counts(total: list, counts) -> None:
    """Add ``(url_count, ok_count, fail_count, bytes_in)`` into the last four
    fields of ``total`` with SQL ``sum``'s null semantics: a sum stays NULL
    while every part is."""
    for i, part in enumerate(counts, len(total) - 4):
        if part is not None:
            total[i] = part if total[i] is None else total[i] + part


def _bucket_file_writer(staging: str):
    """The write stage's ``mapInArrow`` function.  Each task writes its rows
    of bucket ``b`` to one parquet file,
    ``<staging>/bucket=<b>/part-<partition>-<attempt>.parquet``, without
    the ``bucket`` column (the directory carries it); one writer per bucket
    stays open across the task's batches.  Once they are consumed the task
    yields one ``_FILE_SCHEMA`` row per file it wrote, counted with the
    replaced SQL aggregate's null semantics: ``url_count`` counts every
    row, a NULL ``is_success`` is neither ok nor fail, and a sum over only
    NULLs is NULL."""

    def write_files(batches) -> list[tuple]:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
        writers: dict = {}
        files: dict[int, list] = {}
        try:
            for batch in batches:
                buckets = batch.column("bucket")
                rows = batch.drop_columns("bucket")
                for b in pc.unique(buckets).to_pylist():
                    part = rows.filter(pc.equal(buckets, b))
                    if b not in writers:
                        path = os.path.join(staging, f"bucket={b}", name)
                        os.makedirs(os.path.dirname(path), exist_ok=True)
                        writers[b] = pq.ParquetWriter(path, part.schema)
                        files[b] = [b, path, 0, None, None, None]
                    writers[b].write_batch(part)
                    ok = part.column("is_success")
                    _add_counts(
                        files[b],
                        (
                            part.num_rows,
                            pc.sum(ok).as_py(),
                            pc.sum(pc.invert(ok)).as_py(),
                            pc.sum(part.column("bytes_in")).as_py(),
                        ),
                    )
        finally:
            for writer in writers.values():
                writer.close()
        return [tuple(row) for row in files.values()]

    def write(batches):
        import pyarrow as pa

        schema = pa.schema(
            [("bucket", pa.int32()), ("path", pa.string())]
            + [(name, pa.int64()) for name in ("url_count", "ok_count", "fail_count", "bytes_in")]
        )
        try:
            # no batch of the task is referenced once write_files returns,
            # so the settle below runs over the worker's own heap
            files = write_files(batches)
            yield pa.RecordBatch.from_pylist(
                [dict(zip(schema.names, row)) for row in files], schema=schema
            )
        finally:
            settle_python_worker()

    return write


def write_with_manifest(
    spark: SparkSession,
    extracted: DataFrame,
    output_path: str,
    manifest_path: str,
) -> dict:
    """Write the extraction output bucket-partitioned, then append one
    manifest row per bucket (lineage: counts, bytes, wall time, snapshot).

    Returns summary metrics: ``run_id``, ``snapshot_id``, ``urls``, ``ok``,
    ``fail`` and ``wall_ms``.  ``snapshot_id`` is the id this call
    committed, or None when ``extracted`` was empty (a fully resumed run
    commits nothing: it launches no task, writes no data and no manifest
    row, and reads no manifest history).

    The data write is one ``mapInArrow`` stage fused with the extraction:
    each task writes its rows of each bucket to one parquet file under
    ``<output>/.staging-<run_id>/bucket=<b>/`` and returns that file's
    path and lineage counts.  The collected rows (≤ partitions +
    ``BUCKETS`` − 1 over ``run_extraction``'s default repartition) are
    both the manifest's stats and the commit list: only a successful task
    attempt returns rows, so a failed or retried attempt's files are never
    committed.  The commit, on the driver, replaces each written bucket's
    directory ``<output>/bucket=<b>`` with its listed files (a dynamic
    partition overwrite), removes the staging directory and writes
    ``_SUCCESS``.  Data first, then the manifest: a crash before the
    append leaves the bucket un-recorded → it is re-extracted on resume
    and overwritten idempotently, which preserves exactly-once output
    semantics.  A crash inside the commit leaves the staging directory,
    which Spark's reader skips (its name starts with ``.``) and the next
    write to the output removes.  The append is one parquet file per
    commit, built on the JVM without a Python worker.

    ``output_path`` and ``manifest_path`` are local POSIX paths, read and
    moved with ``os``/``shutil`` by the driver and written by the tasks.
    """
    run_id = uuid.uuid4().hex[:12]
    started = time.time()
    output_path = os.path.abspath(output_path)
    if os.path.isdir(output_path):
        # an earlier commit that crashed: under the single-writer protocol
        # no live write owns its staging directory
        for name in os.listdir(output_path):
            if name.startswith(".staging-"):
                shutil.rmtree(os.path.join(output_path, name))
    staging = os.path.join(output_path, f".staging-{run_id}")

    files = (
        extracted.withColumn("bucket", bucket_of(F.col("url")))
        .mapInArrow(_bucket_file_writer(staging), _FILE_SCHEMA)
        .collect()
    )
    # lineage stats for THIS run's buckets only: (bucket, url_count,
    # ok_count, fail_count, bytes_in) summed over each bucket's files
    stats: dict[int, list] = {}
    for f in files:
        _add_counts(stats.setdefault(f["bucket"], [f["bucket"], 0, None, None, None]), f[2:])
    summary = {
        "run_id": run_id,
        "snapshot_id": None,
        "urls": sum(r[1] for r in stats.values()),
        "ok": sum(r[2] or 0 for r in stats.values()),
        "fail": sum(r[3] or 0 for r in stats.values()),
        "wall_ms": 0,
    }
    if not files:
        # fully resumed: nothing to write, nothing to record
        return summary

    for bucket in stats:
        target = os.path.join(output_path, f"bucket={bucket}")
        if os.path.exists(target):
            shutil.rmtree(target)
        os.makedirs(target)
    for f in files:
        name = os.path.basename(f["path"])
        os.rename(f["path"], os.path.join(output_path, f"bucket={f['bucket']}", name))
    shutil.rmtree(staging)
    open(os.path.join(output_path, "_SUCCESS"), "w").close()
    summary["wall_ms"] = int((time.time() - started) * 1000)

    # data first, then the manifest: a bucket is recorded only once its
    # rows are on disk.  A strictly increasing commit sequence even for
    # back-to-back runs in the same millisecond (time travel needs a total
    # snapshot order).
    snapshot_id = int(time.time() * 1000)
    if os.path.exists(manifest_path):
        prev = _read(spark, manifest_path).agg(F.max("snapshot_id")).first()[0]
        if prev is not None and snapshot_id <= prev:
            snapshot_id = prev + 1
    summary["snapshot_id"] = snapshot_id
    completed_at = time.time_ns() // 1000
    rows = [
        (run_id, snapshot_id, *stats[b], summary["wall_ms"], completed_at) for b in sorted(stats)
    ]
    _manifest_rows(spark, rows).write.mode("append").parquet(manifest_path)
    return summary

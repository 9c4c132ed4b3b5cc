"""Checkpoint manifest: per-partition lineage + metrics, resumable runs.

The north_rule requires the job to be "resumable from checkpoint with
per-partition lineage + metrics".  Without an Iceberg runtime in this
environment the manifest is a plain parquet table maintained with Iceberg's
snapshot semantics (append-only manifests, resume = anti-join):

  manifest(run_id, snapshot_id, bucket, url_count, ok_count, fail_count,
           bytes_in, wall_ms, completed_at)

* ``bucket`` is a deterministic url-hash bucket, ``bucket_of(url)`` over
  the module's one ``BUCKETS`` constant (NOT the physical Spark
  partition id — bucket assignment must survive re-planning, and every
  write and resume of a manifest must agree on it).
* A bucket appears in the manifest only after all of its rows were
  written — the write is bucket-partitioned so the commit unit and the
  resume unit coincide.
* resume = pages LEFT ANTI JOIN completed buckets.

SINGLE WRITER (protocol requirement, ADVICE r03): the snapshot_id bump in
``write_with_manifest`` and the compaction in ``expire_snapshots`` are
read-modify-write sequences with no lock — two concurrent writers could
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
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "bucket_of",
    "completed_buckets",
    "expire_snapshots",
    "filter_resumable",
    "manifest_snapshots",
    "read_manifest",
    "write_with_manifest",
]

BUCKETS = 64

# nullability as well as types match the files earlier writes left
_MANIFEST_SCHEMA = (
    "run_id string NOT NULL, snapshot_id bigint NOT NULL, bucket int, "
    "url_count bigint NOT NULL, ok_count bigint, fail_count bigint, "
    "bytes_in bigint, wall_ms int NOT NULL, completed_at timestamp NOT NULL"
)


def bucket_of(url_col):
    return F.pmod(F.xxhash64(url_col), F.lit(BUCKETS)).cast("int")


def manifest_snapshots(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Snapshot log (Iceberg ``.snapshots`` analog): one row per committed
    snapshot with its run and bucket/url totals, ordered by snapshot_id."""
    if not os.path.exists(manifest_path):
        return spark.createDataFrame(
            [], "snapshot_id long, run_id string, buckets long, url_count long"
        )
    return (
        spark.read.parquet(manifest_path)
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
    if not os.path.exists(manifest_path):
        return spark.createDataFrame([], "bucket int")
    rows = spark.read.parquet(manifest_path)
    if as_of_snapshot is not None:
        rows = rows.where(F.col("snapshot_id") <= as_of_snapshot)
    if history:
        return rows
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(
        F.col("snapshot_id").desc(), F.col("run_id").desc()
    )
    return rows.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")


def completed_buckets(
    spark: SparkSession, manifest_path: str, as_of_snapshot: int | None = None
) -> DataFrame:
    """Buckets recorded complete by any run at/before the pinned snapshot
    (default: all runs)."""
    return (
        read_manifest(spark, manifest_path, as_of_snapshot, history=True)
        .select("bucket")
        .distinct()
    )


def filter_resumable(
    spark: SparkSession,
    pages: DataFrame,
    manifest_path: str,
    as_of_snapshot: int | None = None,
) -> DataFrame:
    """Drop rows whose bucket already completed (anti-join on the tiny
    bucket list — broadcastable by construction); the result has exactly
    ``pages``' columns.  ``as_of_snapshot`` pins the resume decision to a
    manifest snapshot: the same remaining set is computed even while a
    newer run is appending manifest rows."""
    done = F.broadcast(completed_buckets(spark, manifest_path, as_of_snapshot))
    return pages.join(done, bucket_of(pages["url"]) == done["bucket"], "left_anti")


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
    import shutil

    if not os.path.exists(manifest_path):
        return {
            "snapshots_before": 0,
            "snapshots_expired": 0,
            "rows_before": 0,
            "rows_after": 0,
        }
    rows = spark.read.parquet(manifest_path)
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


def write_with_manifest(
    spark: SparkSession,
    extracted: DataFrame,
    output_path: str,
    manifest_path: str,
) -> dict:
    """Write the extraction output bucket-partitioned, then append one
    manifest row per bucket (lineage: counts, bytes, wall time, snapshot).

    Returns summary metrics.  A crash between the data write and the
    manifest append leaves the bucket un-recorded → it is re-extracted on
    resume and overwritten idempotently (dynamic partition overwrite),
    which preserves exactly-once output semantics.

    Over ``run_extraction``'s default repartition each task holds a
    contiguous run of the ``BUCKETS`` buckets, so the write makes at most
    partitions + ``BUCKETS`` − 1 files.
    """
    run_id = uuid.uuid4().hex[:12]
    # strictly increasing commit sequence even for back-to-back runs in
    # the same millisecond (time travel needs a total snapshot order)
    snapshot_id = int(time.time() * 1000)
    if os.path.exists(manifest_path):
        prev = (
            spark.read.parquet(manifest_path)
            .agg(F.max("snapshot_id").alias("m"))
            .collect()[0]["m"]
        )
        if prev is not None and snapshot_id <= prev:
            snapshot_id = prev + 1
    started = time.time()

    with_bucket = extracted.withColumn("bucket", bucket_of(F.col("url"))).cache()
    # lineage stats for THIS run's buckets only (≤ BUCKETS rows; never
    # re-read the whole output dir — prior runs' buckets are already
    # recorded).  The one pass also fills the cache the write reads.
    stats = (
        with_bucket.groupBy("bucket")
        .agg(
            F.count("*").alias("url_count"),
            F.sum(F.col("is_success").cast("int")).alias("ok_count"),
            F.sum((~F.col("is_success")).cast("int")).alias("fail_count"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .collect()
    )
    summary = {
        "run_id": run_id,
        "snapshot_id": snapshot_id,
        "urls": sum(r["url_count"] for r in stats),
        "ok": sum(r["ok_count"] for r in stats),
        "fail": sum(r["fail_count"] for r in stats),
        "wall_ms": 0,
    }
    if not stats:
        # fully resumed: nothing to write, nothing to record
        with_bucket.unpersist()
        return summary

    # dynamic overwrite per write, not per session: later writes in the
    # session keep their own overwrite mode
    (
        with_bucket.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(output_path)
    )
    summary["wall_ms"] = int((time.time() - started) * 1000)
    with_bucket.unpersist()

    # data first, then the manifest: a bucket is recorded only once its
    # rows are on disk
    completed_at = datetime.now(timezone.utc)
    # each stats row is (bucket, url_count, ok_count, fail_count, bytes_in)
    rows = [(run_id, snapshot_id, *r, summary["wall_ms"], completed_at) for r in stats]
    spark.createDataFrame(rows, _MANIFEST_SCHEMA).write.mode("append").parquet(manifest_path)
    return summary

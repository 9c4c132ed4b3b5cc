"""Checkpoint manifest: per-partition lineage + metrics, resumable runs.

The north_rule requires the job to be "resumable from checkpoint with
per-partition lineage + metrics".  Without an Iceberg runtime in this
environment the manifest is a plain parquet table maintained with Iceberg's
snapshot semantics (append-only manifests, resume = anti-join):

  manifest(run_id, snapshot_id, bucket, url_count, ok_count, fail_count,
           bytes_in, wall_ms, completed_at)

* ``bucket`` is a deterministic url-hash bucket (NOT the physical Spark
  partition id — bucket assignment must survive re-planning).
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

DEFAULT_BUCKETS = 64


def bucket_of(url_col, n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


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
    if not os.path.exists(manifest_path):
        return spark.createDataFrame([], "bucket int")
    rows = spark.read.parquet(manifest_path)
    if as_of_snapshot is not None:
        rows = rows.where(F.col("snapshot_id") <= as_of_snapshot)
    return rows.select("bucket").distinct()


def filter_resumable(
    spark: SparkSession,
    pages: DataFrame,
    manifest_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    as_of_snapshot: int | None = None,
) -> DataFrame:
    """Drop rows whose bucket already completed (anti-join on the tiny
    bucket list — broadcastable by construction).  ``as_of_snapshot`` pins
    the resume decision to a manifest snapshot: the same remaining set is
    computed even while a newer run is appending manifest rows."""
    done = completed_buckets(spark, manifest_path, as_of_snapshot)
    with_bucket = pages.withColumn("bucket", bucket_of(F.col("url"), n_buckets))
    return with_bucket.join(F.broadcast(done), "bucket", "left_anti")


def expire_snapshots(
    spark: SparkSession, manifest_path: str, keep_last: int = 5
) -> dict:
    """Iceberg-style snapshot expiration (VERDICT r03 #9): the lineage
    table appends one parquet file per run forever; this compacts it while
    keeping every RETAINED snapshot's visible state bit-identical.

    Semantics (mirroring Iceberg ``expireSnapshots(retainLast=N)``):

    * the newest ``keep_last`` snapshot ids are retained — every one of
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
    if len(snap_ids) <= keep_last:
        n = rows.count()
        return {
            "snapshots_before": len(snap_ids),
            "snapshots_expired": 0,
            "rows_before": n,
            "rows_after": n,
        }
    retained_min = snap_ids[-keep_last]
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
        "snapshots_expired": len(snap_ids) - keep_last,
        "rows_before": rows_before,
        "rows_after": rows_after,
    }


def write_with_manifest(
    spark: SparkSession,
    extracted: DataFrame,
    output_path: str,
    manifest_path: str,
    n_buckets: int = DEFAULT_BUCKETS,
    run_id: str | None = None,
) -> dict:
    """Write the extraction output bucket-partitioned, then append one
    manifest row per bucket (lineage: counts, bytes, wall time, snapshot).

    Returns summary metrics.  A crash between the data write and the
    manifest append leaves the bucket un-recorded → it is re-extracted on
    resume and overwritten idempotently (dynamic partition overwrite),
    which preserves exactly-once output semantics.

    Over ``run_extraction``'s default repartition each task holds a
    contiguous run of the ``DEFAULT_BUCKETS`` buckets, so the write makes
    at most partitions + n_buckets − 1 files.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
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

    with_bucket = extracted.withColumn("bucket", bucket_of(F.col("url"), n_buckets)).cache()
    if with_bucket.isEmpty():
        # fully resumed: nothing to write, nothing to record
        with_bucket.unpersist()
        return {
            "run_id": run_id,
            "snapshot_id": snapshot_id,
            "urls": 0,
            "ok": 0,
            "fail": 0,
            "wall_ms": 0,
        }

    # dynamic overwrite per write, not per session: later writes in the
    # session keep their own overwrite mode
    (
        with_bucket.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(output_path)
    )

    wall_ms = int((time.time() - started) * 1000)
    # lineage rows for THIS run's buckets only (never re-read the whole
    # output dir — prior runs' buckets are already recorded)
    stats = (
        with_bucket.groupBy("bucket")
        .agg(
            F.count("*").alias("url_count"),
            F.sum(F.col("is_success").cast("int")).alias("ok_count"),
            F.sum((~F.col("is_success")).cast("int")).alias("fail_count"),
            F.sum("bytes_in").alias("bytes_in"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("snapshot_id", F.lit(snapshot_id))
        .withColumn("wall_ms", F.lit(wall_ms))
        .withColumn("completed_at", F.current_timestamp())
        .select(
            "run_id",
            "snapshot_id",
            "bucket",
            "url_count",
            "ok_count",
            "fail_count",
            "bytes_in",
            "wall_ms",
            "completed_at",
        )
    )
    stats = stats.cache()
    stats.write.mode("append").parquet(manifest_path)
    agg = stats.agg(
        F.sum("url_count").alias("urls"),
        F.sum("ok_count").alias("ok"),
        F.sum("fail_count").alias("fail"),
    ).collect()[0]
    with_bucket.unpersist()
    return {
        "run_id": run_id,
        "snapshot_id": snapshot_id,
        "urls": agg["urls"],
        "ok": agg["ok"],
        "fail": agg["fail"],
        "wall_ms": wall_ms,
    }

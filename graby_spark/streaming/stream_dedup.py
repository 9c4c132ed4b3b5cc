"""Streaming exact deduplication: first-seen wins within the watermark.

A crawl stream re-fetches the same page (and mirrors of it) continuously;
the Structured Streaming answer is ``dropDuplicatesWithinWatermark`` on
the content hash: the engine keeps one state entry per hash and evicts it
once the watermark passes the first occurrence's event time + delay, so a
perpetual stream's state stays bounded.  (Plain ``dropDuplicates`` with a
watermark does NOT evict unless the event-time column is part of the
subset — the r02 ADVICE finding: that variant leaks state forever on a
content-hash-only key.)

``dedup_stream`` is the streaming operator; ``dedup_batch`` is its exact
batch twin (first row per hash in event-time order) used as the
correctness oracle: replaying a bounded input through the stream must
produce the same set of survivors the batch twin selects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["dedup_stream", "dedup_batch"]


def _with_hash(df: DataFrame) -> DataFrame:
    norm = F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")
    return df.withColumn("content_hash", F.xxhash64(norm))


def dedup_stream(pages: DataFrame) -> DataFrame:
    """Streaming DataFrame → streaming DataFrame keeping the first
    occurrence of each content hash seen within the one-hour watermark
    horizon on ``warc_ts``.

    ``dropDuplicatesWithinWatermark`` guarantees state EVICTION: each
    hash's entry is dropped once the watermark advances past its event
    time + delay — the knob that keeps a trillion-document crawl stream's
    dedup state bounded.  A re-fetch of the same page farther apart than
    the horizon is emitted again (first-seen-within-horizon semantics,
    which is what crawl freshness pipelines want)."""
    return (
        _with_hash(pages)
        .withWatermark("warc_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["content_hash"])
    )


def dedup_batch(pages: DataFrame) -> DataFrame:
    """Batch twin: the first row (by event time, id tiebreak) per content
    hash — what a replayed stream's survivor set must equal when the
    replay spans less than the watermark horizon."""
    w = Window.partitionBy("content_hash").orderBy("warc_ts", "url")
    return (
        _with_hash(pages)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )

"""Structured Streaming wrapper over the batch extraction pipeline.

The reference is strictly request/response (SURVEY.md §2.9: no streaming
exists there); this is the natural Spark extension: a ``readStream`` on the
pages table driving the same broadcast-ruleset ``mapInPandas`` stage via
``foreachBatch``, plus a watermarked windowed crawl-metrics aggregation for
late-arriving WARC timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..extract import ExtractOptions
from ..job import run_extraction
from ..siteconfig import RuleSet

__all__ = ["PAGES_SCHEMA", "stream_extract", "windowed_crawl_metrics"]

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("content_type", StringType()),
        StructField("http_status", IntegerType()),
    ]
)


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    ruleset: RuleSet,
    options: ExtractOptions | None = None,
):
    """File-source stream of pages parquet → extraction → parquet sink.

    ``foreachBatch`` reuses the exact batch operator (one code path for
    batch and streaming); the streaming checkpoint gives exactly-once file
    handling on top of the job-level manifest.
    """
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        extracted = run_extraction(
            spark, batch_df, ruleset, options=options, repartition=False
        )
        extracted.write.mode("append").parquet(output_dir)

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_crawl_metrics(pages: DataFrame) -> DataFrame:
    """Watermarked tumbling-window crawl metrics by domain (late WARC
    timestamps beyond the watermark are dropped, state is bounded)."""
    domain = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    return (
        pages.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", "1 hour").alias("w"), domain.alias("domain"))
        .agg(
            F.count("*").alias("pages"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(
            F.col("w").start.alias("window_start"),
            "domain",
            "pages",
            "bytes_in",
        )
    )

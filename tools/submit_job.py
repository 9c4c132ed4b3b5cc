"""spark-submit entry point for the extraction job.

Usage (north_rule deployment shape):

    python tools/package.py
    spark-submit --master local[32] \\
        --py-files dist/graby_spark.zip \\
        tools/submit_job.py <sf_dir> <output_dir> <manifest_dir> [site_config_dir ...]

Reads/synthesizes the pages table, runs the bucket-ranged extraction,
writes the bucket-partitioned output plus the per-partition manifest
(resumable: rerun the same command after a crash and completed buckets are
skipped).
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    sf_dir = sys.argv[1]
    output_dir = sys.argv[2]
    manifest_dir = sys.argv[3]
    config_dirs = sys.argv[4:]

    spark = SparkSession.builder.appName("graby-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from graby_spark.extract import ExtractOptions
    from graby_spark.job import run_extraction
    from graby_spark.manifest import filter_resumable, write_with_manifest
    from graby_spark.pages import build_pages_df, pages_ruleset
    from graby_spark.siteconfig import load_ruleset, merge_config

    ruleset = pages_ruleset()
    if config_dirs:
        extra = load_ruleset(*config_dirs)
        for host, cfg in extra.configs.items():
            ruleset.configs.setdefault(host, cfg)

    pages = build_pages_df(spark, sf_dir)
    remaining = filter_resumable(spark, pages, manifest_dir)
    extracted = run_extraction(spark, remaining, ruleset, options=ExtractOptions(xss_filter=False))
    summary = write_with_manifest(spark, extracted, output_dir, manifest_dir)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()

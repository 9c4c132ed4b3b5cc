"""Bucketed table storage — shuffle-free joins for repeatedly-joined keys.

At 100 TB the same keys get joined over and over: pages↔extractions by
url, documents↔scores by doc_id, edges↔ranks by host.  A sort-merge join
shuffles BOTH sides every time; bucketing pays that shuffle once at write
time and then every equi-join/aggregation on the bucket key runs
exchange-free, because matching buckets are co-located by construction.

This module wraps Spark's native bucketing (Hive-hash ``bucketBy`` +
``sortBy`` saveAsTable) with the invariants a pipeline needs:

- :func:`write_bucketed` — write a DataFrame as a bucketed, sorted
  managed table; bucket counts must match across tables you intend to
  co-join.  Read it back with plain ``spark.table`` — the catalog
  carries the bucket spec.
- :func:`plan_has_exchange` — plan introspection used by the pinned tests
  (and available to callers as a cheap regression guard): True iff the
  physical plan contains a shuffle Exchange.

Sizing guidance (documented, not enforced): pick ``buckets`` so one
bucket ≈ 100-200 MB at target scale (e.g. 100 TB / 128 MB ≈ 800k is too
many files per write task — bucket the *join-hot* distilled tables, not
the raw page store; raw pages join once and prefer plain partitioning).

Caveat: Spark's bucketed scan is per-session gated by
``spark.sql.sources.bucketing.enabled`` (default true) and joins stay
shuffle-free only when both sides share bucket count and key, and
``spark.sql.shuffle.partitions`` ≥ bucket count isn't required (AQE
handles the output side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    buckets: int,
) -> None:
    """Write ``df`` as a managed parquet table bucketed+sorted on ``key``,
    replacing any table of that name.

    Sorting within buckets makes the downstream sort-merge join skip its
    sort as well as its shuffle, and gives parquet run-length-friendly
    pages on the key column.
    """
    keys = [key] if isinstance(key, str) else list(key)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def plan_has_exchange(df: DataFrame) -> bool:
    """True iff the physical plan contains a shuffle Exchange (broadcast
    exchanges don't count — they're the cheap kind)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(
        line.lstrip("+-* ").startswith("Exchange")
        and "SinglePartition" not in line
        for line in plan.splitlines()
    )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: str | list[str]
) -> None:
    """Hive-layout partitioned parquet write (``path/col=value/…``).

    Partition on low-cardinality selective columns (lang, crawl date,
    source tier) so per-slice consumers scan only their directories.
    Complements bucketing: partitioning prunes SCANS by literal
    predicates, bucketing co-locates JOINS by key hash — at corpus scale
    a table usually wants crawl-date partitions AND url-hash buckets.

    Anti-pattern guard rail: high-cardinality partition columns (url,
    doc_id) create one directory per value — millions of tiny files and
    a listing-bound driver.  Keep partition cardinality ≤ ~10^4.
    """
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


def partition_filters(df: DataFrame) -> str:
    """The PartitionFilters clause of the first file scan in the plan —
    empty string when the scan prunes nothing.  Used by the pinned tests
    and as a cheap production regression guard (a query that should
    prune but reports no filters is reading the whole table)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        idx = line.find("PartitionFilters: [")
        if idx >= 0:
            start = idx + len("PartitionFilters: [")
            return line[start : line.find("]", start)].strip()
    return ""


def key_skew_stats(
    df: DataFrame, key_col: str, n_partitions: int | None = None
) -> DataFrame:
    """One-row skew diagnosis for a prospective shuffle key:
    ``(n_rows, n_keys, max_key_rows, p99_key_rows, avg_key_rows,
    top_key, skew_ratio, suggested_salt)``.

    The question this answers is the one that decides whether a
    groupBy/join on ``key_col`` survives 100 TB: how much of the data
    lands on the hottest reducer?  ``skew_ratio`` is
    max_key_rows / avg_key_rows (≈1 uniform, ≫1 hot-key);
    ``suggested_salt`` is the salt-fan-out that would bring the hottest
    key down to the average partition payload —
    ``ceil(max_key_rows / (n_rows / n_partitions))``, clamped to ≥1 —
    i.e. the ``N`` you'd pass to a ``key || '#' || pmod(hash(...), N)``
    salting scheme.

    Scale shape: one partial-aggregated shuffle on the key (counts only,
    no payload), then a single-row global aggregate.  Percentile is
    exact here for oracle comparability; swap ``percentile_approx`` in
    at trillion-key scale.  ``top_key`` ties (two keys sharing the max
    count) resolve arbitrarily — it's a diagnostic label; every numeric
    column is tie-free by construction.
    """
    spark = df.sparkSession
    if n_partitions is None:
        n_partitions = spark.sparkContext.defaultParallelism
    per_key = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count("*").alias("_c")
    )
    return per_key.agg(
        F.sum("_c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("_c").cast("long").alias("max_key_rows"),
        F.expr("percentile(_c, 0.99)").alias("p99_key_rows"),
        (F.sum("_c") / F.count("*")).alias("avg_key_rows"),
        F.max_by("_k", "_c").alias("top_key"),
    ).select(
        "*",
        F.round(F.col("max_key_rows") / F.col("avg_key_rows"), 4).alias(
            "skew_ratio"
        ),
        F.greatest(
            F.lit(1),
            F.ceil(
                F.col("max_key_rows")
                / (F.col("n_rows") / F.lit(float(n_partitions)))
            ),
        )
        .cast("int")
        .alias("suggested_salt"),
    )

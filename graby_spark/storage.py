"""Shuffle-key skew diagnosis.

The engine's one table layout is the manifest bucket
(:data:`graby_spark.manifest.BUCKETS`), so this module keeps no writer:
only :func:`key_skew_stats`, which tells how much of a prospective
shuffle lands on its hottest reducer before that key is chosen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: reducers the suggested salt levels to, pinned so the diagnosis does
#: not depend on the session's parallelism
SALT_PARTITIONS = 32


def key_skew_stats(df: DataFrame) -> DataFrame:
    """One-row skew diagnosis for ``domain`` as a prospective shuffle key:
    ``(n_rows, n_keys, max_key_rows, p99_key_rows, avg_key_rows,
    top_key, skew_ratio, suggested_salt)``.

    The question this answers is the one that decides whether a
    groupBy/join on the key survives 100 TB: how much of the data
    lands on the hottest reducer?  ``skew_ratio`` is
    max_key_rows / avg_key_rows (≈1 uniform, ≫1 hot-key);
    ``suggested_salt`` is the salt-fan-out that would bring the hottest
    key down to the average partition payload —
    ``ceil(max_key_rows / (n_rows / SALT_PARTITIONS))``, clamped to ≥1 —
    i.e. the ``N`` you'd pass to a ``key || '#' || pmod(hash(...), N)``
    salting scheme.

    Scale shape: one partial-aggregated shuffle on the key (counts only,
    no payload), then a single-row global aggregate.  Percentile is
    exact here for oracle comparability; swap ``percentile_approx`` in
    at trillion-key scale.  ``top_key`` ties (two keys sharing the max
    count) resolve arbitrarily — it's a diagnostic label; every numeric
    column is tie-free by construction.
    """
    per_key = df.groupBy(F.col("domain").alias("_k")).agg(
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
                / (F.col("n_rows") / F.lit(float(SALT_PARTITIONS)))
            ),
        )
        .cast("int")
        .alias("suggested_salt"),
    )

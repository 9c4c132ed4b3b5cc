"""Exact distributed k-means over an embedding column.

Spherical k-means (cosine assignment, mean-then-renormalize update) is
the training step behind both IVF ANN cells (similarity.ivf_topk) and
SemDeDup semantic dedup (dedup.semantic_dedup); those operators ship
with the standard trillion-row first cut — a deterministic md5-ordered
corpus sample as centroids.  This module adds real Lloyd iterations on
top of that init, with a twist that makes the whole loop *bitwise
deterministic* and therefore value-exact SQL-replayable:

  every unit vector is snapped to a 1e-9 grid and carried as
  ``array<long>`` (``floor(u * 1e9 + 0.5)``), so

  * the assignment dot product is an INTEGER dot (|dot| <= 1e18 by
    Cauchy-Schwarz, inside int64) — exact, order-independent, immune
    to BLAS-vs-naive summation differences;
  * the per-cell update sums integer components — exact and
    order-independent under any partitioning or shuffle order;
  * only the driver-side renormalize touches floats, in a fixed
    left-to-right order that DuckDB's ``list_sum`` replays verbatim.

Scale shape (the 100 TB story): per iteration the corpus is touched
once by a pure map stage (broadcast k x dim int64 centroids, Arrow
batches, numpy integer matmul) followed by ONE aggregation keyed by
cell id whose map-side partials reduce each partition to at most
k rows of dim longs — the shuffle moves O(k * dim * partitions)
longs, never the corpus.

Honest scale boundary: the per-cell component sums are int64, so a
single cell overflows once rows_in_cell * max|component| exceeds
2^63 ~ 9.2e18.  max|component| is 1e9 only for an axis-aligned unit
vector; typical magnitude is 1e9/sqrt(dim) (~1.25e8 at dim 64),
giving ~7e10 rows per cell headroom — two orders above any sane
cell at trillion-row scale with SemDeDup-sized k (50k+), and the
remedy for a pathological mono-cell corpus is more clusters.  The driver round-trip per iteration is
k rows (same bounded pattern as bpe.py's merge loop); k for SemDeDup
grows with the corpus (the paper uses 50k for LAION) but stays a
broadcast-sized table.  Reference (j0k3r/graby) has no embedding
operators; this extends the LLM-curation family (SURVEY §2 L-ops).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_embeddings", "kmeans_train"]

_GRID = 1e9  # unit-vector quantization grid; dots live in [-1e18, 1e18]


def _u9_batch(vecs) -> np.ndarray:
    """(n, dim) int64 grid-snapped unit vectors from a batch of float
    vectors.  The norm accumulates LEFT-TO-RIGHT via an explicit
    per-column loop — the exact IEEE op sequence of a JVM
    ``F.aggregate`` fold and DuckDB's ``list_sum(list_transform(...))``
    — so all three engines snap to identical longs, at vectorized numpy
    speed.  (A naive ``(m*m).sum(axis=1)`` would use pairwise
    summation and break bit parity; a JVM-side HOF expression would
    re-evaluate the norm per array ELEMENT — O(dim^2) interpreted work
    per row, measured ~3 ms/row at dim 64 — this helper is both the
    parity and the throughput fix.)"""
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    acc = np.zeros(len(mat), dtype=np.float64)
    for j in range(mat.shape[1]):
        acc += mat[:, j] * mat[:, j]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.floor(mat / np.sqrt(acc)[:, None] * _GRID + 0.5).astype(np.int64)


def _src_df(df: DataFrame) -> DataFrame:
    """(id, vec) projection of (vec_id, embedding) — raw float vectors
    cross the Arrow boundary once; the grid snap happens in-kernel via
    :func:`_u9_batch`."""
    return df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))


def _train_partials_fn(cents_bc, dim: int):
    """mapInPandas kernel for one Lloyd pass with IN-KERNEL partial
    aggregation (guide §2.3 "aggregate before you shuffle"): grid snap
    (:func:`_u9_batch`), integer argmax assignment (np.argmax picks the
    FIRST maximum, i.e. the lowest cell index on exact-integer ties —
    the oracle's ``dot DESC, ci ASC`` window order), then the per-cell
    component sums accumulate across every batch of the task and at
    most ``k`` rows of ``(cell, s0..s{dim-1}, cnt)`` leave the task.

    Exactness: the sums are int64 adds — associative, commutative and
    overflow-bounded by the same headroom argument as the module
    docstring — so the totals the JVM aggregation collects are bitwise
    identical to summing per-row emissions; what changes is only that
    O(rows) (id, cell, dot, u9) records no longer cross the Arrow
    boundary or the shuffle (measured r06: the per-row plan shipped the
    dim-long u9 array per input row and evaluated dim ``element_at``
    aggregates per row JVM-side)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = cents_bc.value  # (k, dim) int64
        k = c.shape[0]
        acc = np.zeros((k, dim), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        for batch in batches:
            if len(batch) == 0:
                continue
            mat = _u9_batch(batch["vec"])
            dots = mat @ c.T  # exact: |partial sums| <= 1e18 < 2^63
            cell = np.argmax(dots, axis=1)
            np.add.at(acc, cell, mat)  # exact int64 per-cell sums
            cnt += np.bincount(cell, minlength=k)
        nz = np.nonzero(cnt)[0]
        out = {"cell": nz.astype("int32")}
        for i in range(dim):
            out[f"s{i}"] = acc[nz, i]
        out["cnt"] = cnt[nz]
        yield pd.DataFrame(out)

    return fn


def kmeans_train(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
) -> np.ndarray:
    """Train spherical k-means over (vec_id, embedding); returns (k, dim)
    int64 grid-snapped unit centroids.  Init = the md5-ordered corpus sample (the ivf_topk /
    semantic_dedup convention), then ``n_iter`` exact Lloyd steps:
    integer-dot argmax assignment, exact integer per-cell sums, one
    bounded driver renormalize per iteration.  Empty cells keep their
    previous centroid."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    src = _src_df(df)
    init_rows = (
        src.orderBy(
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
        )
        .limit(k)
        .collect()
    )
    cents = _u9_batch([r["vec"] for r in init_rows])
    dim = cents.shape[1]
    if n_iter <= 0:
        return cents

    sc = df.sparkSession.sparkContext
    src = src.localCheckpoint(eager=False)  # cut lineage for the loop
    # per-task partial rows: (cell, s0..s{dim-1}, cnt) — at most k per task
    schema = StructType(
        [StructField("cell", IntegerType())]
        + [StructField(f"s{i}", LongType()) for i in range(dim)]
        + [StructField("cnt", LongType())]
    )
    sums = [F.sum(f"s{i}").alias(f"s{i}") for i in range(dim)]
    for _ in range(n_iter):
        cents_bc = sc.broadcast(cents)
        agg = (
            src.mapInPandas(_train_partials_fn(cents_bc, dim), schema)
            .groupBy("cell")
            .agg(*sums, F.sum("cnt").alias("cnt"))
            .collect()
        )
        new = cents.copy()
        for r in agg:
            cnt = r["cnt"]
            # float(s) FIRST (one nearest-rounding, = SQL's CAST(s AS
            # DOUBLE)) so the op sequence matches the oracle at any cell
            # size, not just below 2^53
            m = [float(r[f"s{i}"]) / _GRID / cnt for i in range(dim)]
            norm = 0.0
            for x in m:  # left-to-right, DuckDB list_sum order
                norm += x * x
            norm = math.sqrt(norm)
            new[r["cell"]] = np.array(
                [math.floor(x / norm * _GRID + 0.5) for x in m], dtype=np.int64
            )
        cents_bc.destroy()
        cents = new
    return cents


def kmeans_embeddings(df: DataFrame, k: int = 8, n_iter: int = 2) -> DataFrame:
    """Train + final assignment.  Returns (vec_id, cell, cosine) — one
    row per input vector, ``cosine`` = integer dot / 1e18 (a single
    IEEE division of an exact integer, identical in any engine).

    Every stage is deterministic under repartitioning: the ONLY floats
    in the loop are the initial grid snap (left-to-right fold, fixed order) and
    the k-row driver renormalize — everything the cluster shuffles or
    the executors sum is int64.  The plan per iteration: map stage +
    one k-row aggregate; the output assignment is one more map stage,
    zero shuffles."""
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    cents = kmeans_train(df, k=k, n_iter=n_iter)
    cents_bc = df.sparkSession.sparkContext.broadcast(cents)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = cents_bc.value
        for batch in batches:
            if len(batch) == 0:
                continue
            mat = _u9_batch(batch["vec"])
            dots = mat @ c.T
            cell = np.argmax(dots, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": batch["id"].values,
                    "cell": cell.astype("int32"),
                    "cosine": dots[np.arange(len(cell)), cell] / (_GRID * _GRID),
                }
            )

    schema = StructType(
        [
            StructField("vec_id", df.schema["vec_id"].dataType),
            StructField("cell", IntegerType()),
            StructField("cosine", DoubleType()),
        ]
    )
    return _src_df(df).mapInPandas(fn, schema)

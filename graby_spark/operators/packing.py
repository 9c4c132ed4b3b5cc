"""Training-data assembly operators: sequence packing, deterministic
sampling, and source mixing.

The last mile of an LLM data pipeline after extraction + dedup: pack
documents into fixed token budgets (context windows), carve deterministic
subsamples, and mix sources at target weights.  Everything is pure JVM
Spark SQL (whole-stage codegen, zero Python) and every decision derives
from md5 — portable, so the DuckDB oracles compute bit-identical results.

Scale notes: packing windows are partitioned by a hash bucket, never
global (a global ORDER BY window would serialize the corpus through one
partition); sampling/mixing are stateless per-row predicates (no shuffle
at all, fully pushdown-friendly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["pack_sequences", "sample_hash", "sample_by_source"]


def _md5_long(col: F.Column) -> F.Column:
    """Top 60 bits of md5 as a non-negative long — identical in any SQL
    engine with md5 (the cross-engine determinism trick used throughout
    this repo)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: tokens per training bin of :func:`pack_sequences`
PACK_BUDGET = 512


def pack_sequences(df: DataFrame) -> DataFrame:
    """Assign documents to fixed-token-budget training bins.

    Greedy-by-order packing within 16 hash buckets: documents
    are ordered by id inside their bucket, and a document opens a new bin
    whenever the running token total would exceed ``PACK_BUDGET``.  Returns
    (doc_id, n_tokens, bucket, bin_id).  The window partitions on the
    bucket — parallelism = 16 buckets regardless of corpus size — and the
    assignment is a pure function of (id, token count), so re-runs and
    the DuckDB oracle reproduce it exactly.

    The bin boundary uses the cumulative-sum approximation
    ``floor((cumsum - 1) / PACK_BUDGET)`` (documents longer than the budget
    occupy their own bin(s)); exact first-fit-decreasing packing is a
    bin-packing heuristic, not worth a sequential dependency at corpus
    scale.
    """
    tokens = F.size(
        F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    ).cast("long")
    bucket = F.pmod(_md5_long(F.col("doc_id").cast("string")), F.lit(16)).cast(
        "int"
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        df.select("doc_id", tokens.alias("n_tokens"), bucket.alias("bucket"))
        .withColumn("_cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "n_tokens",
            "bucket",
            F.floor((F.col("_cum") - 1) / PACK_BUDGET).cast("long").alias("bin_id"),
        )
    )


def sample_hash(df: DataFrame) -> DataFrame:
    """Deterministic 1-in-2 subsample: keep rows whose md5(id) is even.
    Stateless per-row predicate — no shuffle, survives predicate
    pushdown."""
    h = _md5_long(F.col("doc_id").cast("string"))
    return df.where(F.pmod(h, F.lit(2)) == 0)


def sample_by_source(df: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Source mixing at target rates: keep a deterministic ``weights[s]``
    fraction of each source's rows, and 0.1 of the rows of a source
    ``weights`` does not name (pretraining data mixing).  The keep
    decision is md5(id||source) scaled to [0,1) compared to the source's
    weight — per-row, shuffle-free, reproducible."""
    frac = (_md5_long(
        F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("source"))
    ) % 1_000_000) / 1_000_000.0
    rate = F.lit(0.1)
    for src, w in sorted(weights.items()):
        rate = F.when(F.col("source") == src, F.lit(float(w))).otherwise(rate)
    return df.where(frac < rate)


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    size: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Sliding-window token chunking: split each document's ``text`` into
    whitespace tokens, then into windows of ``size`` tokens advancing by ``size - overlap``
    (so consecutive chunks share ``overlap`` tokens of context) — the
    standard preparation for embedding/RAG indexes and for training
    examples longer than one document slice.

    Window starts are ``0, stride, 2·stride, …`` while ``start <
    max(n - overlap, 1)`` — the final window is the only one allowed to
    be short, and a document never emits a chunk that adds no new tokens.
    Pure JVM (split → sequence → explode → slice), narrow except for
    nothing: no shuffle at all, and the emitted chunk text is the only
    amplification (≈ ``size/(size-overlap)``× the corpus bytes — size it
    consciously).

    Returns (doc, chunk_idx, start_token, n_tokens, chunk).
    """
    if overlap >= size:
        raise ValueError("overlap must be smaller than size")
    stride = size - overlap
    tokens = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"), lambda t: t != ""
    )
    base = df.select(
        F.col(id_col).alias("doc"),
        tokens.alias("_toks"),
        F.size(tokens).alias("_n"),
    )
    starts = F.expr(f"sequence(0, greatest(_n - {overlap}, 1) - 1, {stride})")
    chunks = base.select(
        "doc",
        "_toks",
        F.posexplode(starts).alias("chunk_idx", "start_token"),
    )
    piece = F.slice(F.col("_toks"), F.col("start_token") + 1, F.lit(size))
    return chunks.select(
        "doc",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_token").cast("long").alias("start_token"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk"),
    ).where(F.col("n_tokens") > 0)

"""BM25 keyword search over the document corpus, as pure DataFrame ops.

A curation pipeline needs targeted retrieval, not just bulk filters:
"find the documents about X" drives eval-set construction, topic
sampling, and contamination audits.  BM25 (Robertson & Zaragoza 2009,
"The Probabilistic Relevance Framework: BM25 and Beyond") is the
standard lexical ranking function; this is the Lucene variant
(idf = ln((N - df + 0.5) / (df + 0.5) + 1), always positive).

Scale shape
-----------
The postings build is one shuffle keyed by (doc, token) plus a
token-keyed df aggregate — both map-side-combined.  The query set is
tiny by definition, so it joins BROADCAST against the postings: the
inner join prunes the corpus to documents containing at least one query
term before any scoring arithmetic runs, and the per-(query, doc)
aggregate only ever sees matching postings.  The final top-k is one
window partitioned by query — bounded by the matching set, never the
corpus.  Nothing collects driver-side except the two scalar corpus
statistics (N, total token count) that BM25 is defined over.

Determinism / oracle
--------------------
Per-term contributions are rounded to 9 dp and summed as exact integer
nano-units (the same order-independence trick as the perplexity
scorers: a float sum's partial-aggregation order can flip a rounded
mean at a tie, an integer sum cannot).  The top-k window orders by the
INTEGER score, so ranking ties break identically in any engine.  The
arithmetic is written with the same parenthesization the DuckDB oracle
uses, and both engines compute idf/tf factors from integer counts and
the exact scalar avgdl = total_tokens / N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: BM25 term-frequency saturation and length normalization (the Lucene
#: defaults), shared by the Spark operator and its DuckDB oracle
K1 = 1.2
B = 0.75


def postings(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Term-frequency postings (doc, token, tf) over whitespace tokens of
    the lowercased ``text``."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    return toks.groupBy("doc", "token").agg(F.count("*").alias("tf"))


def build_search_index(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Persistent BM25 index for a corpus: one row per (doc, token)
    posting carrying everything scoring needs — ``tf``, the document
    length ``dl``, the token's document frequency ``df``, and the two
    corpus scalars ``n_docs`` / ``total_tokens`` as constant columns.

    Write this once per corpus snapshot (parquet, bucketed by token);
    every subsequent query batch probes it WITHOUT touching the corpus
    text again — the same store-once/probe-many shape as
    ``dedup.build_minhash_index`` and the stored perplexity LMs.  The
    constant columns cost ~16 bytes/row and in exchange the probe is
    collect-free: no driver-side action computes the scalars.
    """
    post = postings(df, id_col)
    dl = post.groupBy("doc").agg(F.sum("tf").alias("dl"))
    df_tbl = post.groupBy("token").agg(F.countDistinct("doc").alias("df"))
    stats = df.agg(F.count("*").alias("n_docs")).crossJoin(
        post.agg(F.sum("tf").alias("total_tokens"))
    )
    return (
        post.join(dl, "doc")
        .join(df_tbl, "token")
        .crossJoin(F.broadcast(stats))
    )


def bm25_topk_indexed(index: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-10 documents per query under BM25, probing a stored
    :func:`build_search_index` table.

    ``queries`` carries (query_id, terms array<string>); terms are
    matched lowercase-exact against whitespace tokens.  Returns
    (query_id, doc, n_hits, score, rank) — ``n_hits`` the number of
    distinct query terms present, ``score`` the BM25 sum, ``rank``
    1-based by (score DESC, doc ASC).

    Scale shape: the tiny query-term set broadcasts against the index,
    so the inner join prunes to postings containing a query term before
    any arithmetic runs; the corpus scalars ride in as constant columns,
    so nothing collects driver-side at all.
    """
    qterms = queries.select(
        "query_id", F.explode("terms").alias("token")
    ).distinct()

    n_d = F.col("n_docs").cast("double")
    avgdl = F.col("total_tokens").cast("double") / n_d
    idf = F.round(
        F.log((n_d - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)) + F.lit(1.0)),
        9,
    )
    matches = F.broadcast(qterms).join(index, "token")
    tf_d = F.col("tf").cast("double")
    contrib = idf * (
        tf_d * F.lit(K1 + 1.0)
        / (tf_d + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl") / avgdl))
    )
    scored = matches.select(
        "query_id",
        "doc",
        F.round(contrib * F.lit(1e9), 0).cast("long").alias("nano"),
    )
    agg = scored.groupBy("query_id", "doc").agg(
        F.count("*").cast("long").alias("n_hits"),
        F.sum("nano").alias("total_nano"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("total_nano"), F.asc("doc"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "doc",
            "n_hits",
            F.round(F.col("total_nano") / F.lit(1e9), 6).alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def bm25_topk(docs: DataFrame, queries: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One-shot BM25 top-10 over ``text``: :func:`build_search_index` composed with
    :func:`bm25_topk_indexed` (see those for semantics and scale shape).
    Use the two-step form when the same corpus serves many query
    batches."""
    return bm25_topk_indexed(build_search_index(docs, id_col), queries)


def positional_postings(df: DataFrame) -> DataFrame:
    """(doc, pos, token) rows per ``doc_id`` — 0-based position over the
    non-empty whitespace tokens of the lowercased ``text``."""
    return df.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("pos", "token"),
    )


def phrase_search(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact-phrase retrieval: documents where the query's tokens occur
    consecutively, with occurrence counts.

    The classic positional-postings identity: token ``i`` of the phrase
    matching at position ``p`` implies a phrase start at ``p - i``, so a
    start position where ALL phrase indexes agree is an occurrence.
    Repeated phrase terms are handled naturally (each index must match
    at its own offset).

    Returns (query_id, doc, n_occurrences, first_pos) for matching
    documents only.

    Scale shape: the phrase-term table (query_id, i, token — tiny by
    definition) broadcasts against the positional postings, pruning the
    corpus to candidate tokens before any grouping; the occurrence
    aggregate shuffles only (query_id, doc, start) triples with map-side
    combine, never text.  This is targeted retrieval for eval-set
    construction and contamination audits — the phrase analog of the
    13-gram decontamination semi-join (dedup.contamination_ngrams).
    """
    post = positional_postings(docs)
    qterms = queries.select(
        "query_id",
        F.size("terms").alias("qlen"),
        F.posexplode("terms").alias("i", "token"),
    )
    hits = F.broadcast(qterms).join(post, "token").select(
        "query_id",
        "qlen",
        "doc",
        (F.col("pos") - F.col("i")).alias("start"),
        "i",
    )
    occ = (
        hits.where(F.col("start") >= 0)
        .groupBy("query_id", "qlen", "doc", "start")
        .agg(F.countDistinct("i").alias("n_idx"))
        .where(F.col("n_idx") == F.col("qlen"))
    )
    return occ.groupBy("query_id", "doc").agg(
        F.count("*").cast("long").alias("n_occurrences"),
        F.min("start").cast("long").alias("first_pos"),
    )


def oracle_phrase_sql(query_values: str, src: str = "documents") -> str:
    """DuckDB twin of :func:`phrase_search`.  ``query_values`` is a
    VALUES list of (query_id, i, token, qlen) rows — one row per phrase
    term with its 0-based index and the phrase length."""
    return f"""
WITH base AS (
  SELECT doc_id AS doc,
         list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'), t -> t <> '') AS toks
  FROM {src}
),
post AS (
  SELECT doc, unnest(toks) AS token, unnest(range(len(toks))) AS pos FROM base
),
q(query_id, i, token, qlen) AS (VALUES {query_values}),
hits AS (
  SELECT q.query_id, q.qlen, p.doc, p.pos - q.i AS start, q.i
  FROM q JOIN post p USING (token) WHERE p.pos - q.i >= 0
),
occ AS (
  SELECT query_id, qlen, doc, start, count(DISTINCT i) AS n_idx
  FROM hits GROUP BY query_id, qlen, doc, start
)
SELECT query_id, doc, count(*)::BIGINT AS n_occurrences, min(start)::BIGINT AS first_pos
FROM occ WHERE n_idx = qlen GROUP BY query_id, doc
"""


def oracle_bm25_sql(
    query_values: str,
    k: int = 10,
    src: str = "documents",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`bm25_topk`.  ``query_values`` is a VALUES
    list of (query_id, token) rows, e.g. "(0, 'spark'), (0, 'join')".
    The arithmetic mirrors the Spark expression token for token."""
    return f"""
WITH post AS (
  SELECT {id_col} AS doc, x.token AS token, count(*)::BIGINT AS tf
  FROM {src}, unnest(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+')) AS x(token)
  WHERE x.token <> ''
  GROUP BY doc, x.token
),
dl AS (SELECT doc, sum(tf) AS dl FROM post GROUP BY doc),
stats AS (
  SELECT (SELECT count(*) FROM {src})::DOUBLE AS n,
         (SELECT coalesce(sum(dl), 0) FROM dl)::DOUBLE / (SELECT count(*) FROM {src}) AS avgdl
),
dft AS (SELECT token, count(DISTINCT doc)::BIGINT AS df FROM post GROUP BY token),
q(query_id, token) AS (VALUES {query_values}),
m AS (
  SELECT q.query_id, p.doc,
         CAST(round(round(ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0), 9)
              * (p.tf::DOUBLE * {K1 + 1.0} / (p.tf::DOUBLE + {K1} * ({1.0 - B} + {B} * l.dl / s.avgdl)))
              * 1000000000, 0) AS BIGINT) AS nano
  FROM q JOIN post p USING (token) JOIN dft d USING (token) JOIN dl l ON l.doc = p.doc, stats s
),
agg AS (
  SELECT query_id, doc, count(*)::BIGINT AS n_hits, sum(nano) AS total_nano
  FROM m GROUP BY query_id, doc
),
ranked AS (
  SELECT query_id, doc, n_hits, total_nano,
         row_number() OVER (PARTITION BY query_id ORDER BY total_nano DESC, doc ASC) AS rank
  FROM agg
)
SELECT query_id, doc, n_hits, round(total_nano / 1000000000.0, 6) AS score, rank::BIGINT AS rank
FROM ranked WHERE rank <= {k}
"""

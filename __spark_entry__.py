"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from SURVEY.md §2 as
a (spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
twin for each SQL-expressible query (same column names — the driver compares
row count + schema + order-insensitive value hash).

Extraction queries run the REAL pipeline end-to-end: the pages table is
synthesized deterministically from ``documents`` (see
graby_spark.pages), raw bytes go through charset sniffing → site-config
rules → microformat fallbacks → serialization, and the oracle recomputes
the expected output from ``documents`` with plain SQL.  A value match means
the whole byte-level pipeline is correct, not just the plumbing.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graby_spark.extract import ExtractOptions
from graby_spark.job import run_extraction, resolve_multipage, resolve_single_page
from graby_spark.operators import (
    bpe,
    dedup,
    graph,
    packing,
    pii,
    search,
    similarity,
    textstats,
    multimodal,
)
from graby_spark.pages import (
    build_multipage_pages_df,
    build_pages_df,
    build_redirect_pages_df,
    build_singlepage_pages_df,
    oracle_excerpt_sql,
    oracle_pages_cte,
    pages_ruleset,
)

_OPTS = ExtractOptions(xss_filter=False)  # golden-fixture parity mode


def _ship(spark: SparkSession) -> None:
    """Executors must be able to import graby_spark no matter where the
    driver process was launched from (the driver harness may not run with
    the repo as cwd) — idempotent addPyFile of the package."""
    from graby_spark.session import ship_package

    ship_package(spark)


def _extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship(spark)
    pages = build_pages_df(spark, sf_dir)
    return run_extraction(spark, pages, pages_ruleset(), options=_OPTS)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction of the synthetic pages table at sf0.001."""
    return _extracted(spark, "/root/testdata/sf0.001").select(
        "url", "title", "language", "date", "text", "summary", "is_success"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_extract_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _extracted(spark, sf_dir)
    return out.select(
        "url",
        "title",
        "language",
        F.col("date").alias("pub_date"),
        F.concat_ws(",", "authors").alias("author_names"),
        F.col("is_success").cast("long").alias("ok"),
    )


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _extracted(spark, sf_dir).select("url", F.col("text").alias("extracted_text"))


def q_extract_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus deliverable: full extraction pipeline → markdown
    serialization of the extracted content HTML (the shape an LLM-data
    consumer actually stores).  Uses the FUSED path — a ``markdown``
    column in columns= renders inside the same mapInPandas batch, and
    projects the Arrow output down to (url, markdown, is_success): one
    Python hop, minimal transfer.  On
    the planted single-paragraph variants the expected markdown equals
    the whitespace-collapsed expected text, so the oracle stays
    closed-form while the query still runs the whole C/P/R/D/O pipeline
    plus the DOM→markdown walker."""
    _ship(spark)
    pages = build_pages_df(spark, sf_dir)
    opts = ExtractOptions(xss_filter=False)
    out = run_extraction(
        spark,
        pages,
        pages_ruleset(),
        options=opts,
        columns=["url", "markdown", "is_success"],
    )
    return out.where("is_success").select("url", "markdown")


def q_extract_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _extracted(spark, sf_dir).select("url", "summary")


def q_extract_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 meta-refresh detection (HttpClient.php:452-475) over planted
    refresh fixtures: both attribute orders, quoting styles, relative
    resolution, &amp; decoding; non-refresh rows emit NULL.  Uses the
    columns= Arrow output projection (only url + redirect_target ship)."""
    _ship(spark)
    pages = build_redirect_pages_df(spark, sf_dir)
    return run_extraction(
        spark, pages, pages_ruleset(), options=_OPTS, columns=["url", "redirect_target"]
    )


def q_extract_metrics_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _extracted(spark, sf_dir)
    domain = F.regexp_extract(F.col("url"), r"^[a-z]+://([^/]+)", 1)
    return (
        out.groupBy(domain.alias("domain"))
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.col("is_success").cast("int")).alias("ok_docs"),
        )
        .orderBy("domain")
    )


def q_extract_then_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: extraction output piped into the quality-score operator
    (the shape of a real training-data pipeline stage chain)."""
    out = _extracted(spark, sf_dir).select(
        F.regexp_extract("url", r"/article/(\d+)", 1).cast("long").alias("doc_id"),
        F.col("text"),
    )
    return textstats.quality_score(out).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "quality"
    )


def q_extract_xss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end run with the htmLawed-style XSS filter ON: planted
    javascript: hrefs / event handlers are stripped, required img alt is
    defaulted — the oracle predicts the exact sanitized html."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id < 100")
    pages = docs.selectExpr(
        "concat('http://news-0.example.org/article/', cast(doc_id as string)) as url",
        "timestamp'2024-01-01 00:00:00' as warc_ts",
        "encode(concat('<html lang=\"', lang, '\"><head><title>T ', cast(doc_id as string), "
        "'</title></head><body><h1>A</h1><div itemprop=\"articleBody\"><p>', text, "
        "' <a href=\"javascript:alert(1)\" onclick=\"evil()\">link</a>', "
        "' <img src=\"http://img.example/i.jpg\" onerror=\"p0wn()\"/></p></div></body></html>'), 'UTF-8') as html",
        "text",
        "lang",
        "'text/html; charset=utf-8' as content_type",
        "200 as http_status",
    )
    out = run_extraction(
        spark, pages, pages_ruleset(), options=ExtractOptions(xss_filter=True)
    )
    return out.select("url", F.col("html").alias("sanitized_html"))


def q_mime_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M6 routing: image/zip/text-plain payloads bypass the DOM path."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        "concat('http://files.example.com/item/', cast(doc_id as string)) as url",
        "timestamp'2024-01-01 00:00:00' as warc_ts",
        "encode(text, 'UTF-8') as html",
        "text",
        "lang",
        "CASE doc_id % 3 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'application/zip' "
        "ELSE 'text/plain; charset=utf-8' END as content_type",
        "200 as http_status",
    )
    out = run_extraction(spark, pages, pages_ruleset(), options=_OPTS)
    return out.select("url", "title", F.col("html").alias("routed_html"))


def q_mime_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: real PDF payloads through the mime route — FlateDecode, CMap
    text extraction, metadata (title/author/creation date) — pinned by the
    md5 of the produced html (constant: the vendored reference PDF)."""
    import os as _os

    _ship(spark)
    pdf_path = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)), "fixtures", "document1.pdf"
    )
    pdf_bytes = open(pdf_path, "rb").read()
    from pyspark.sql.types import (
        BinaryType, IntegerType, StringType, StructField, StructType, TimestampType,
    )
    import datetime as _dt

    rows = [
        (
            f"http://files.example.com/doc/{i}.pdf",
            _dt.datetime(2024, 1, 1),
            pdf_bytes,
            "",
            "en",
            "application/pdf",
            200,
        )
        for i in range(20)
    ]
    schema = StructType(
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
    pages = spark.createDataFrame(rows, schema)
    out = run_extraction(spark, pages, pages_ruleset(), options=_OPTS)
    return out.select(
        "url",
        "title",
        F.col("date").alias("pub_date"),
        F.concat_ws(",", "authors").alias("author_names"),
        F.md5(F.col("html")).alias("html_md5"),
    )


def q_multipage_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship(spark)
    pages = build_multipage_pages_df(spark, sf_dir)
    extracted = run_extraction(spark, pages, pages_ruleset(), options=_OPTS)
    merged = resolve_multipage(extracted)
    return merged.select(
        "url",
        "title",
        F.col("text").alias("stitched_text"),
        F.col("page_count").cast("long").alias("page_count"),
    )


def q_singlepage_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: teaser pages replaced by their print-view extraction via the
    equi self-join; only the original (non-print) urls are reported."""
    _ship(spark)
    pages = build_singlepage_pages_df(spark, sf_dir)
    extracted = run_extraction(spark, pages, pages_ruleset(), options=_OPTS)
    final = resolve_single_page(spark, pages, extracted, pages_ruleset(), options=_OPTS)
    return final.where(~F.col("url").endswith("/print")).select(
        "url", "title", F.col("text").alias("full_text")
    )


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus re-ids'd copies of every 50th doc (known duplicates)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.where("doc_id % 50 = 0").selectExpr("doc_id + 1000000 as doc_id", "text")
    return docs.unionByName(copies)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = dedup.exact_duplicates(_dup_corpus(spark, sf_dir))
    return groups.select(
        "canonical_id",
        "dup_count",
        F.concat_ws(",", F.transform("sample_ids", lambda d: d.cast("string"))).alias(
            "sample_ids"
        ),
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explicit max_df=None: the oracle's DuckDB twin computes the exact
    # full-token-space Jaccard (the capped plan is the library DEFAULT)
    pairs = dedup.ngram_jaccard_pairs(_dup_corpus(spark, sf_dir), threshold=0.8, max_df=None)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banded candidates + exact-Jaccard verify.  The oracle is the
    all-pairs exact Jaccard at the same threshold — a value match proves
    LSH recall 1.0 on this corpus AND the verify math."""
    _ship(spark)
    pairs = dedup.minhash_lsh_pairs(_dup_corpus(spark, sf_dir), threshold=0.9)
    return pairs.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair generation (minhash LSH) chained into connected components:
    the full dedup pipeline shape.  Oracle = recursive-CTE transitive
    closure over the exact shingle-jaccard pairs."""
    _ship(spark)
    pairs = dedup.minhash_lsh_pairs(_dup_corpus(spark, sf_dir), threshold=0.9)
    return dedup.duplicate_clusters(pairs).select("doc", "canonical")


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span arithmetic verified end-to-end: by construction the content
    block's source width is a pure SQL function of the document."""
    out = _extracted(spark, sf_dir)
    return out.select(
        F.regexp_extract("url", r"/article/(\d+)", 1).cast("long").alias("doc_id"),
        F.size("spans").cast("long").alias("n_spans"),
        (F.element_at("spans", 1)["end"] - F.element_at("spans", 1)["start"]).alias("span_len"),
    )


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cluster→keep pipeline with QUALITY-aware selection:
    simhash pigeonhole pairs (exact for hamming ≤ 3) over a corpus with
    planted longer near-copies (' copy edit' suffix), connected
    components, then keep each cluster's longest capture (min id breaks
    ties) — so the planted copy, not the original, wins its cluster.
    The oracle replays simhash, the recursive transitive closure, and
    the selection window end-to-end."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where("doc_id % 50 = 0").selectExpr(
            "doc_id + 1000000 as doc_id", "concat(text, ' copy edit') as text"
        )
    )
    pairs = dedup.simhash_pairs(corpus)
    clusters = dedup.duplicate_clusters(pairs)
    scores = corpus.select("doc_id", F.length("text").cast("long").alias("score"))
    return dedup.keep_best(clusters, scores)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.simhash_pairs(_dup_corpus(spark, sf_dir))
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


#: deterministic perturbation for planted embedding near-dups: cosine to
#: the source vector ≈ 0.999 while the max natural pair cosine is ≤ 0.61 —
#: integer arithmetic + one division, so Spark and DuckDB compute
#: bit-identical vectors
_PERTURB_SPARK = (
    "transform(embedding, (v, i) -> cast(v as double) + "
    "0.02 * (cast((vec_id * 37 + (i + 1) * 17) % 97 as double) / 97.0 - 0.5))"
)
_PERTURB_DUCK = (
    "list_transform(range(len(embedding)), i -> embedding[i + 1]::DOUBLE + "
    "0.02 * (((vec_id * 37 + (i + 1) * 17) % 97) / 97.0 - 0.5))"
)
_ND_CORPUS_DUCK = f"""nd_corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, {_PERTURB_DUCK} FROM embeddings WHERE vec_id % 25 = 0
)"""


def _nd_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings plus perturbed copies of every 25th vector (planted
    near-duplicates at cosine ≈ 0.999, ids offset by 1e6)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = emb.where("vec_id % 25 = 0").selectExpr(
        "vec_id + 1000000 as vec_id", f"{_PERTURB_SPARK} as embedding"
    )
    return emb.selectExpr(
        "vec_id", "transform(embedding, v -> cast(v as double)) as embedding"
    ).unionByName(planted)


def q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs at a dedup-grade threshold over the
    planted-near-dup corpus; oracle = exact all-pairs cosine at the same
    threshold (recall 1.0 at cosine ≈ 0.999 by bucket-agreement margin)."""
    _ship(spark)
    pairs = dedup.embedding_near_dups_lsh(_nd_corpus(spark, sf_dir), threshold=0.9)
    return pairs.select("id_a", "id_b")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup.simhash(docs).select("doc", "simhash")


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pairs = dedup.embedding_near_dups(emb)
    return pairs.select("id_a", "id_b")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = emb.where("vec_id < 10")
    topk = similarity.brute_force_topk(emb, queries_df, k=5)
    return topk.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN contract where approximate == exact is provable: each planted
    query's true nearest neighbor is its source vector at cosine ≈ 0.999
    (next-best natural neighbor ≤ 0.61), so the LSH bucket join + exact
    rerank must return exactly the exact top-1 — which is the oracle."""
    _ship(spark)
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = _nd_corpus(spark, sf_dir).where("vec_id >= 1000000")
    topk = similarity.lsh_topk(corpus, queries_df, k=1)
    return topk.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN under the same planted-neighbor contract as the LSH
    variant: each planted query's exact top-1 is its source vector, and
    nprobe=2 cells always contain it (verified at both SFs)."""
    _ship(spark)
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries_df = _nd_corpus(spark, sf_dir).where("vec_id >= 1000000")
    topk = similarity.ivf_topk(corpus, queries_df, k=1, n_cells=16, nprobe=2)
    return topk.select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"))


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = textstats.token_stats(docs)
    # bigint like DuckDB's length()/len() so dtypes match the oracle
    return stats.select(
        "doc_id",
        F.col("char_count").cast("long").alias("char_count"),
        F.col("ws_token_count").cast("long").alias("ws_token_count"),
        F.col("punct_count").cast("long").alias("punct_count"),
        F.col("digit_count").cast("long").alias("digit_count"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.quality_score(docs).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"), "stop_ratio", "quality"
    )


def q_text_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText/CCNet-style hashed linear quality classifier (map-only
    JVM expression: token → md5 bucket → weight → mean → sigmoid)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.linear_quality_score(docs)


def q_text_classifier_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-weights classifier path: explode + broadcast weight-table
    probe + per-doc mean (the production fastText-scoring plan), with a
    deterministic stopword-derived weight table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = [(t, 1.0) for t in textstats.STOPWORDS["en"]] + [
        (t, -1.0) for t in textstats.STOPWORDS["fr"]
    ]
    weights = spark.createDataFrame(w, "token string, weight double")
    return textstats.linear_quality_score_weighted(docs, weights)


def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shape perplexity filter: unigram LM built from the even-id
    half of the corpus (the stored reference model), odd-id half scored
    against it via a broadcast vocab probe."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = textstats.build_unigram_lm(docs.where("doc_id % 2 = 0"))
    return textstats.perplexity_score(docs.where("doc_id % 2 = 1"), lm)


def q_text_perplexity_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM perplexity (VERDICT r03 #6): bigram+unigram
    model built from the even-id half, odd-id half scored with
    bigram-if-seen / alpha-backoff-to-unigram semantics; the oracle replays
    the full LM build and backoff in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = textstats.build_bigram_lm(docs.where("doc_id % 2 = 0"))
    return textstats.perplexity_score_backoff(docs.where("doc_id % 2 = 1"), lm)


def q_text_perplexity_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 stupid-backoff perplexity (trigram → α·bigram → α²·unigram
    with <unk>): the practical equivalent of CCNet's KenLM n-gram ranking
    at corpus-filter granularity; the oracle replays the full three-level
    LM build and backoff in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = textstats.build_trigram_lm(docs.where("doc_id % 2 = 0"))
    return textstats.perplexity_score_backoff3(docs.where("doc_id % 2 = 1"), lm)


def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a real BPE tokenizer (8 merges) on the corpus; the oracle
    replays the full iterative training loop as chained SQL stages
    (operators/bpe.py — the only driver-side traffic is one argmax row
    per iteration; pair stats live on the distinct-word vocab, never the
    corpus)."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges, vocab = bpe.train_bpe(docs)
    vocab.unpersist()
    return bpe.merges_df(spark, merges)


def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the corpus-trained BPE, dictionary
    style: the corpus is segmented once per distinct word, documents only
    join (broadcast) against (word, subword_count)."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _, vocab = bpe.train_bpe(docs)
    out = bpe.bpe_token_counts(docs, vocab)
    vocab.unpersist()
    return out.select(F.col("id").alias("doc_id"), "n_words", "bpe_tokens")


#: literal BM25 query set (terms drawn from the synthetic corpus vocab),
#: identical in the Spark query and the DuckDB VALUES list
_BM25_QUERIES = [
    (0, ["spark", "join"]),
    (1, ["window", "agg", "batch"]),
    (2, ["hash", "table", "scan"]),
    (3, ["customer", "order", "lineitem"]),
]


def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lucene-variant BM25 top-10 per query over the corpus
    (operators/search.py): postings build + broadcast query-term probe,
    integer-nano contributions so the score sum and the ranking are
    order-independent; the oracle mirrors the arithmetic token for
    token."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id long, terms array<string>"
    )
    return search.bm25_topk(docs, queries)


#: plants a 5-token promo tail in every 7th doc and a 3-token news prefix
#: in every 11th-mod-3 doc; the phrase queries then probe planted runs, a
#: sub-phrase, and a repeated-term phrase over the natural text
_PHRASE_SYNTH = (
    "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' limited time offer expires soon') "
    "WHEN doc_id % 11 = 3 THEN concat('breaking news alert ', text) ELSE text END"
)
_PHRASE_QUERIES = [
    (0, ["limited", "time", "offer"]),
    (1, ["breaking", "news", "alert"]),
    (2, ["offer", "expires", "soon"]),
    (3, ["value", "value"]),
]


def q_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval over positional postings
    (operators/search.py): phrase index ``i`` matching at position ``p``
    votes for a start at ``p - i``; starts where all indexes agree are
    occurrences.  Planted phrases + a repeated-term phrase probe the
    consecutive-match logic."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_PHRASE_SYNTH} as text")
    queries = spark.createDataFrame(
        _PHRASE_QUERIES, "query_id long, terms array<string>"
    )
    return search.phrase_search(planted, queries)


#: per-domain template chrome: a navigation line in EVERY doc of the
#: domain (dropped at the half-of-the-domain threshold) and a copyright line in ~a third
#: (kept — frequent globally but below the domain threshold)
_BOILER_SYNTH = (
    "concat('NAVIGATION MENU FOR ', source, chr(10), text, chr(10), "
    "CASE WHEN doc_id % 3 = 0 THEN concat('COPYRIGHT ', source) "
    "ELSE concat('unique tail ', cast(doc_id AS STRING)) END)"
)


def q_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb line-wise correction (operators/dedup.py
    domain_boilerplate_lines): lines recurring in >=50% of a domain's
    documents are template chrome and every occurrence is dropped; the
    planted copyright line sits below the threshold and survives."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", "source", f"{_BOILER_SYNTH} as text")
    out = dedup.domain_boilerplate_lines(planted)
    return out.select(
        "doc", "n_lines", "n_kept", F.md5("text_clean").alias("clean_md5")
    )


def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. §4.4):
    per-language perplexity terciles over the stored-LM scores, cut with
    deterministic ntile(3) so the oracle replays the exact assignment."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = textstats.build_unigram_lm(docs.where("doc_id % 2 = 0"))
    ppl = textstats.perplexity_score(docs.where("doc_id % 2 = 1"), lm).select(
        "doc", "perplexity"
    )
    scored = ppl.join(
        docs.where("doc_id % 2 = 1").select(F.col("doc_id").alias("doc"), "lang"),
        "doc",
    )
    return textstats.ccnet_buckets(scored)


def q_pipeline_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED CCNet pipeline (Wenzek et al. 2020) end-to-end, in
    paper order: cross-corpus paragraph dedup → language id on the
    DEDUPED text → stored-LM perplexity (LM trained on the even-doc half
    of the deduped corpus) → per-detected-language head/middle/tail
    terciles.  Every stage has its own oracle elsewhere; this query pins
    their composition — boilerplate paragraphs removed by stage 1 change
    the LM, the scores, and the tercile cuts downstream, so a value match
    proves the stages actually chain.

    Scale shape: dedup shuffles (hash, doc, idx) triples; the LM is a
    broadcast probe; langid is pure JVM expressions; the only other
    exchange is the tercile window partitioned by detected language."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_PARA_SYNTH} as text")
    dd = dedup.paragraph_dedup(planted).select(
        F.col("doc").alias("doc_id"),
        F.col("text_dedup").alias("text"),
        "n_paras",
        "n_kept",
    )
    lm = textstats.build_unigram_lm(dd.where("doc_id % 2 = 0"))
    scored = textstats.perplexity_score(dd.where("doc_id % 2 = 1"), lm).select(
        "doc", "n_tokens", "perplexity"
    )
    langs = textstats.language_id(dd.where("doc_id % 2 = 1")).select(
        F.col("doc_id").alias("doc"), F.col("lang_guess").alias("lang")
    )
    buckets = textstats.ccnet_buckets(scored.join(langs, "doc"))
    meta = dd.where("doc_id % 2 = 1").select(
        F.col("doc_id").alias("doc"), "n_paras", "n_kept"
    )
    return (
        buckets.join(scored.select("doc", "n_tokens"), "doc")
        .join(meta, "doc")
        .select("doc", "lang", "perplexity", "bucket", "n_tokens", "n_paras", "n_kept")
    )


def q_pipeline_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed model-based quality gate: hashed linear classifier +
    stored-LM perplexity filter joined per doc; keep = classifier pass AND
    perplexity below the gate.  Each side is its own doc-keyed aggregate;
    the join is by id (never text)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lm = textstats.build_unigram_lm(docs.where("doc_id % 2 = 0"))
    cls = textstats.linear_quality_score(docs).select(
        "doc", F.col("prob").alias("cls_prob"), F.col("keep").alias("cls_keep")
    )
    ppl = textstats.perplexity_score(docs, lm).select("doc", "perplexity")
    return cls.join(ppl, "doc").select(
        "doc",
        "cls_prob",
        "perplexity",
        (
            F.col("cls_keep")
            & F.coalesce(F.col("perplexity") <= 8000.0, F.lit(False))
        ).alias("keep"),
    )


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.language_id(docs).select(
        "doc_id",
        F.col("en_hits").cast("long").alias("en_hits"),
        F.col("fr_hits").cast("long").alias("fr_hits"),
        "lang_guess",
    )


def q_text_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistical quality: mean unigram log10-prob per doc."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.unigram_logprob(docs).select(
        "doc", F.col("n_tokens").cast("long").alias("n_tokens"), "mean_logprob"
    )


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.fingerprints(docs).select("doc", "fingerprint")


# SQL-synthesized line/paragraph structure shared (verbatim dialect-neutral
# expression) by the Spark queries and their DuckDB oracles: one branch
# plants whole-document paragraph repetition, the other duplicate lines.
_REPETITION_SYNTH = (
    "CASE WHEN doc_id % 3 = 0 "
    "THEN concat(text, chr(10), chr(10), text, chr(10), chr(10), text) "
    "ELSE concat(text, chr(10), 'boilerplate line one', chr(10), 'boilerplate line one') "
    "END"
)

# bullet + trailing-ellipsis structure for the Gopher filter
_GOPHER_SYNTH = (
    "CASE WHEN doc_id % 7 = 0 "
    "THEN concat('- bullet item', chr(10), text, '...') "
    "ELSE text END"
)

# shared boilerplate paragraphs for cross-corpus paragraph dedup
_PARA_SYNTH = (
    "concat('SHARED HEADER BOILERPLATE', chr(10), chr(10), text, chr(10), chr(10), "
    "CASE WHEN doc_id % 2 = 0 THEN 'SHARED FOOTER' "
    "ELSE concat('unique footer ', cast(doc_id AS STRING)) END)"
)

# a >=12-token boilerplate tail shared by every 5th document (exercises the
# exact-substring dedup: the repeated region must be found as one maximal
# span, canonical first occurrence excluded)
_SHARED_TAIL = (
    "subscribe to our newsletter for daily updates and follow us on "
    "social media for breaking news alerts every single morning"
)
_SUBSTR_SYNTH = (
    f"CASE WHEN doc_id % 5 = 0 THEN concat(text, ' ', '{_SHARED_TAIL}') ELSE text END"
)


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals over a corpus with planted duplicate
    lines and paragraphs (Rae et al. 2021 A1.1)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_REPETITION_SYNTH} as text")
    return textstats.repetition_stats(planted).select(
        "doc",
        F.col("char_count").cast("long").alias("char_count"),
        F.col("n_lines").cast("long").alias("n_lines"),
        "dup_line_frac",
        "dup_para_frac",
        "dup_bigram_frac",
        "dup_trigram_frac",
        "dup_5gram_frac",
        "top_bigram_char_frac",
    )


def q_text_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality gate (word count / word length / symbol
    ratio / bullet + ellipsis lines / alphabetic words / stop words)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_GOPHER_SYNTH} as text")
    return textstats.gopher_quality_filter(planted).select(
        "doc",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_frac",
        "ellipsis_frac",
        "alpha_word_frac",
        "stop_hits",
        "passes_gopher",
    )


# PII planted on top of every document: an email always, a phone every 3rd
# doc, an IPv4 every 5th, an SSN every 7th, a card every 11th.  The {c}
# placeholder is the engine's string type (Spark 'string' / DuckDB 'varchar')
# so the exact same expression synthesizes both sides.
_PII_SYNTH = (
    "concat(text, ' contact user', cast(doc_id as {c}), '@example.com',"
    " case when doc_id % 3 = 0 then concat(' or +1 555 ', lpad(cast(doc_id % 1000 as {c}), 3, '0'), ' 1234') else '' end,"
    " case when doc_id % 5 = 0 then concat(' from host 10.', cast(doc_id % 256 as {c}), '.0.', cast(doc_id % 250 as {c})) else '' end,"
    " case when doc_id % 7 = 0 then ' ssn 123-45-6789' else '' end,"
    " case when doc_id % 11 = 0 then ' card 4111-1111-1111-1111' else '' end)"
)


def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with planted emails/phones/IPs/SSNs/cards:
    staged per-category counts + md5 of the fully redacted text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_PII_SYNTH.format(c='string')} as text")
    out = pii.pii_scrub(planted)
    return out.select(
        "doc",
        *[
            F.col(f"n_{name}").cast("long").alias(f"n_{name}")
            for name, _, _ in pii.PII_PATTERNS
        ],
        F.col("n_pii").cast("long").alias("n_pii"),
        F.md5("redacted").alias("redacted_md5"),
    )


# C4 line structure planted on documents (raw docs are single-line): a
# good intro line, a too-short line, a javascript line, the doc body as a
# terminated line, plus lorem-ipsum / curly-brace page poisons on a cycle.
_C4_SYNTH = (
    "concat('Intro line with five solid words here.', chr(10),"
    " 'short line.', chr(10),"
    " 'This javascript line has many words today.', chr(10),"
    " text, '.', chr(10),"
    " case when doc_id % 6 = 0 then concat('lorem ipsum dolor sit amet.', chr(10)) else '' end,"
    " case when doc_id % 9 = 0 then 'code { braces }' else 'Final sentence ends properly today right here!' end)"
)


def q_text_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 page cleaning: terminal-punctuation / >=5-word / no-javascript
    line filter + lorem-ipsum and curly-brace page gates."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_C4_SYNTH} as text")
    return textstats.c4_quality_filter(planted)


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-hash train/validation/test assignment."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.split_assign(docs)


# Unicode noise planted as LITERAL codepoints inside the SQL string
# (Spark's chr() is ASCII mod-256, unlike DuckDB's — literals are the only
# representation both engines read identically): curly quotes, en/em
# dashes, NBSP, zero-width space, ellipsis; tab and a control char via
# ASCII chr(); a double space for the collapse pass.
_NORM_NOISE_HEAD = "‘q’ “Q” a–b c—d "
_NORM_NOISE_TAIL = " x y​z… t"
_NORM_SYNTH = (
    f"concat('{_NORM_NOISE_HEAD}', text, '{_NORM_NOISE_TAIL}',"
    " chr(9), 't', chr(1), 'c  end')"
)

_SENT_SYNTH = "concat('First sentence here. Second one! Third question? ', text, '.')"


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode cleanup over documents with planted zero-width chars, curly
    quotes, exotic spaces, controls, and an ellipsis."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_NORM_SYNTH} as text")
    out = textstats.normalize_text(planted)
    return out.select(
        "doc",
        "n_chars_raw",
        "n_chars_clean",
        F.md5("normalized").alias("normalized_md5"),
    )


def q_text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation with stable per-document sentence indexes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_SENT_SYNTH} as text")
    return textstats.sentences(planted)


# patterns for the corpus-grep query: word, digit-run, planted marker
_GREP_PATTERNS = ["\\bspark\\b", "[0-9]+", "NEEDLE_[A-Z]+"]


def q_text_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-pattern hit counts over documents (every 9th doc gets a
    planted NEEDLE marker)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr(
        "doc_id",
        "case when doc_id % 9 = 0 then concat(text, ' NEEDLE_ALPHA NEEDLE_BETA') else text end as text",
    )
    return textstats.corpus_grep(planted, _GREP_PATTERNS)


def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / FK grade over documents with planted
    sentence structure."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_SENT_SYNTH} as text")
    return textstats.readability(planted)


def q_domain_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian-smoothed per-domain quality reputation joined back to each
    document (quality_score -> domain aggregate -> broadcast prior)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = textstats.quality_score(docs, keep=("source",)).select(
        "doc_id", "source", "quality"
    )
    return textstats.domain_prior(scored)


# full pretrain-curation composition input: line structure + a PII line
# + unicode noise + a lorem poison on a cycle; every 10th doc re-crawled
# under a mirrored id so the dedup stage has real work
_PRETRAIN_SYNTH = (
    "concat('‘Intro’ sentence with plenty of good words here.', chr(10),"
    " 'Contact me at spam', cast(doc_id as {c}), '@mail.example.com for details today.', chr(10),"
    " text, '.', chr(10),"
    " case when doc_id % 6 = 0 then concat('lorem ipsum dolor sit amet today friends.', chr(10)) else '' end,"
    " 'Closing sentence wraps the document nicely today.')"
)


def q_pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The modern pretrain curation chain as ONE composed job:
    normalize (unicode cleanup) -> PII redaction -> C4 line/page filter ->
    quality gate -> exact dedup vs a mirrored re-crawl -> train/val/test
    split -> fixed-budget sequence packing.  The oracle replays every
    stage in SQL."""
    from pyspark.sql import Window

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    planted = docs.selectExpr(
        "doc_id", f"{_PRETRAIN_SYNTH.format(c='string')} as text"
    )
    corpus = planted.unionByName(
        planted.where("doc_id % 10 = 0").selectExpr(
            "doc_id + 1000000 as doc_id", "text"
        )
    )
    norm = textstats.normalize_text(corpus).select("doc", "normalized")
    red = norm.select("doc", pii.redact_expr(F.col("normalized")).alias("text"))
    c4 = textstats.c4_quality_filter(red, id_col="doc", keep_text=True)
    c4_kept = c4.where("passes_c4").select(
        F.col("doc").alias("doc_id"), F.col("cleaned").alias("text")
    )
    q = textstats.quality_score(c4_kept, keep=("text",)).where("quality >= 0.5")
    h = F.conv(
        F.substring(F.md5(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), 1, 15),
        16,
        10,
    )
    w = Window.partitionBy(h).orderBy("doc_id")
    survivors = (
        q.select("doc_id", "text")
        .withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )
    packed = packing.pack_sequences(survivors)
    # split is a pure hash of doc_id — project it onto the packed rows
    # instead of a join (a join re-evaluates the whole pipeline a second
    # time AND adds an exchange; same lesson as q_domain_prior's keep=)
    _, split_col = textstats.split_exprs()
    return packed.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bucket").cast("long").alias("bucket"),
        "bin_id",
        split_col.alias("split"),
    )


# lite-extraction fast-path pages: title always, og:title on evens,
# canonical every 3rd, meta description every 5th
_LITE_URL = "concat('http://lite.example.com/a/', cast(doc_id as {c}))"
_LITE_HTML = (
    "concat('<html lang=\"', lang, '\"><head><title>Doc ', cast(doc_id as {c}), ' - ', source, '</title>',"
    " case when doc_id % 2 = 0 then concat('<meta property=\"og:title\" content=\"OG ', cast(doc_id as {c}), '\"/>') else '' end,"
    " case when doc_id % 3 = 0 then concat('<link rel=\"canonical\" href=\"http://canon.example.com/', cast(doc_id as {c}), '\"/>') else '' end,"
    " case when doc_id % 5 = 0 then '<meta name=\"description\" content=\"desc here\"/>' else '' end,"
    " '</head><body><p>', left(text, 40), '</p></body></html>')"
)


def q_extract_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex fast-path metadata pre-pass (title/og/canonical/description/
    lang) — the cheap routing scan that precedes full DOM extraction."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        f"{_LITE_URL.format(c='string')} as url",
        f"{_LITE_HTML.format(c='string')} as html",
    )
    return textstats.extract_lite(pages)


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf keywords per document over the corpus itself."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.tfidf_topk(docs)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: a new crawl batch (odd docs + re-crawled copies
    of every 10th even doc) probes a stored MinHash index of the corpus
    (even docs) — only the new batch is shingled; the oracle is the exact
    new-vs-corpus shingle-Jaccard join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.where("doc_id % 2 = 0")
    new_batch = docs.where("doc_id % 2 = 1").unionByName(
        docs.where("doc_id % 10 = 0").selectExpr(
            "doc_id + 1000000 as doc_id", "text"
        )
    )
    index = dedup.build_minhash_index(corpus)
    out = dedup.incremental_minhash_pairs(new_batch, index)
    return out.select(
        "new_doc", "corpus_doc", F.round("jaccard", 6).alias("jaccard")
    )


# robots.txt per domain: a bot1-only group (must not apply), a '*' group
# with disallow/allow pair + an allow-all empty Disallow, an extra
# disallow on half the domains (md5 parity), and two RFC-9309 wildcard
# rules ('Disallow: /*?' — the classic query-string block — and
# 'Allow: /*4$' with an end anchor) so the Google-semantics wildcard
# matcher is oracle-exercised.  {h} is the engine's md5-parity expression
# over `domain`.
# CRLF ending + inline comment planted on the '*' group's first rule so
# the RFC-9309 line handling is oracle-exercised, not just unit-tested.
# The tail adds a rules-only '*' group immediately followed by an
# agent-specific Crawl-delay group (ADVICE r03 medium): an access-rule
# line ends user-agent stacking, so tailbot's delay 63 must NOT leak into
# the '*' verdict — the pre-fix lag-over-ua/delay-rows-only engine would
# stack tailbot with '*' and report 63.
_ROBOTS_SYNTH = (
    "concat('User-agent: bot1', chr(10), 'Disallow: /b1', chr(10),"
    " 'Crawl-delay: 99', chr(10), chr(10),"
    " case when {h} then concat('User-agent: helper', chr(10)) else '' end,"
    " 'User-agent: *', chr(13), chr(10), 'Disallow: /private # members only', chr(13), chr(10),"
    " 'Allow: /private/ok', chr(10), 'Disallow:', chr(10),"
    " 'Disallow: /*?', chr(10), 'Allow: /*4$', chr(10),"
    " 'Crawl-delay: 2', chr(10),"
    " case when {h} then concat('Disallow: /public', chr(10), 'Crawl-delay: 7.5', chr(10)) else '' end,"
    " 'Sitemap: http://', domain, '/sitemap.xml', chr(10),"
    " case when {h} then concat('Sitemap: http://', domain, '/s2.xml', chr(10)) else '' end,"
    " 'User-agent: *', chr(10), 'Disallow: /tail', chr(10),"
    " 'User-agent: tailbot', chr(10), 'Crawl-delay: 63', chr(10))"
)
_ROBOTS_PATH_SYNTH = (
    "case doc_id % 5 when 0 then concat('/private/doc', cast(doc_id as {c}))"
    " when 1 then concat('/private/ok/doc', cast(doc_id as {c}))"
    " when 2 then concat('/public/doc', cast(doc_id as {c}))"
    " when 3 then concat('/b1/doc', cast(doc_id as {c}))"
    " else concat('/search?q=', cast(doc_id as {c})) end"
)
_SPARK_MD5_PARITY = (
    "cast(conv(substring(md5(domain), 1, 15), 16, 10) as bigint) % 2 = 0"
)
_DUCK_MD5_PARITY = "('0x' || substr(md5(domain), 1, 15))::BIGINT % 2 = 0"

# robots wildcard→regex pieces for the DuckDB oracle, as raw strings so the
# f-string interpolation cannot mangle the backslashes (octal-escape trap):
# escape every RE2 metachar except '*', replacement = literal backslash +
# group, then re-anchor the trailing escaped '$'
#: shared CTE chain replaying perceptual_hash (aHash: 8x8 nearest resize,
#: mean threshold, two's-complement packing) + 16-bit band bucketing over
#: the planted-PNG corpus — used by the phash pair AND cluster oracles
_PHASH_CAND_CTES = """ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 7 = 0),
hp AS (
  SELECT id, id % 5 AS base, (id // 5) % 2 AS var,
         16 + (id % 5) * 4 AS w, 16 + (id % 5) * 2 AS h
  FROM ids
),
samp AS (
  SELECT id,
    list_transform(range(64), q ->
      CAST((base * 37
            + (((q // 8) * h // 8) * w + ((q % 8) * w // 8)) * 13
            + var * (CASE WHEN ((((q // 8) * h // 8) * w + ((q % 8) * w // 8)) % 41) = 0
                     THEN 90 ELSE 0 END)) % 256 AS DOUBLE)) AS s
  FROM hp
),
hashes AS (
  SELECT id,
    list_aggregate(list_transform(range(63), q ->
      CASE WHEN s[CAST(q + 1 AS INTEGER)] > list_aggregate(s, 'avg')
           THEN (1::BIGINT << CAST(q AS INTEGER)) ELSE 0 END), 'sum')
    + CASE WHEN s[64] > list_aggregate(s, 'avg')
           THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END AS phash
  FROM samp
),
bands AS (
  SELECT id, phash, unnest([0, 1, 2, 3]) AS b FROM hashes
),
bands2 AS (
  SELECT id, phash, b, (phash >> CAST(16 * b AS INTEGER)) & 65535 AS bucket FROM bands
),
cand AS (
  SELECT DISTINCT x.id AS doc_a, y.id AS doc_b, x.phash AS ha, y.phash AS hb
  FROM bands2 x JOIN bands2 y ON x.b = y.b AND x.bucket = y.bucket AND x.id < y.id
)"""

_RB_ESC_CLASS = r"([.^$+?(){}\[\]\\|])"
_RB_ESC_REPL = r"\\\1"
_RB_TRAIL_PAT = r"\\\$$"


def q_graph_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt group parsing + longest-prefix-match URL verdicts over
    synthetic per-domain policies."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    domains = docs.select(F.col("source").alias("domain")).distinct()
    robots = domains.selectExpr(
        "domain",
        f"{_ROBOTS_SYNTH.format(h=_SPARK_MD5_PARITY)} as robots_txt",
    )
    rules = graph.parse_robots(robots)
    urls = docs.selectExpr(
        f"concat('http://', source, {_ROBOTS_PATH_SYNTH.format(c='string')}) as url",
        "source as domain",
    )
    return graph.robots_filter(urls, rules)


def q_graph_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduler-facing robots directives: group-scoped Crawl-delay (the
    bot1 group's value must not leak into the '*' verdict) + global
    Sitemap collection."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    domains = docs.select(F.col("source").alias("domain")).distinct()
    robots = domains.selectExpr(
        "domain",
        f"{_ROBOTS_SYNTH.format(h=_SPARK_MD5_PARITY)} as robots_txt",
    )
    return graph.robots_directives(robots)


def q_source_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion round trip: documents → per-record-gzipped WARC
    blobs → length-prefixed record parser → page rows.  The oracle
    computes the expected fields directly from documents, so a value
    match proves the serializer+parser pair, not just the plumbing."""
    from graby_spark.sources import warc

    blobs = warc.build_warc_blobs(spark, sf_dir, records_per_file=50)
    recs = warc.warc_records(blobs)
    return recs.select(
        "url",
        "warc_date",
        F.col("http_status").cast("long").alias("http_status"),
        "content_type",
        F.md5("html").alias("html_md5"),
    )


def q_source_wet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET (Common Crawl extracted-text sidecar) round trip: documents →
    per-record-gzipped conversion records → length-prefixed parser →
    text rows with WARC-Refers-To lineage.  The oracle rebuilds every
    field closed-form from documents, so a value match proves the
    serializer+parser pair byte-exact — including that the text payload
    survives UTF-8 untouched (md5 over it)."""
    from graby_spark.sources import warc

    blobs = warc.build_wet_blobs(spark, sf_dir, records_per_file=50)
    recs = warc.wet_records(blobs)
    return recs.select(
        "url",
        "warc_date",
        "refers_to",
        F.md5("text").alias("text_md5"),
        F.length("text").alias("text_chars"),
    )


def q_source_wat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT (Common Crawl metadata sidecar) ingestion: documents →
    metadata records with Common-Crawl-shaped JSON envelopes →
    length-prefixed record parser (Python slices records only) →
    JVM ``from_json`` + ``posexplode`` outlink extraction — the WAT
    route to a link graph when only the metadata sidecar was fetched.
    Closed-form oracle over title and both planted links per doc."""
    from graby_spark.sources import warc

    blobs = warc.build_wat_blobs(spark, sf_dir, records_per_file=50)
    links = warc.wat_links(warc.wat_records(blobs))
    return links.select(
        "url",
        "warc_date",
        "title",
        F.col("link_no").cast("long").alias("link_no"),
        "link_path",
        "link_url",
        "link_text",
    )


def q_text_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→Markdown serialization: five planted HTML shapes per doc_id
    (headings, bold/italic, links+lists, blockquote+hr, pre+image) run
    through the DOM-walking converter; the oracle rebuilds the expected
    markdown closed-form, so a value match proves heading levels, inline
    emphasis, link/image syntax, list markers, quote prefixes and fencing
    byte-exact.  (Planted text is entity-free by construction — the
    converter does not escape markdown metacharacters, documented in
    graby_spark/markdown.py.)"""
    from graby_spark.markdown import markdown_column

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.expr(
        """
        CASE cast(doc_id % 5 AS int)
        WHEN 0 THEN concat('<h1>Doc ', doc_id, '</h1><p>', text, '</p>')
        WHEN 1 THEN concat('<h2>Doc ', doc_id, '</h2><p><b>Key ', doc_id,
                           '</b> and <i>notes</i></p><p>', text, '</p>')
        WHEN 2 THEN concat('<p>See <a href="http://site-', doc_id % 7,
                           '.example.com/', doc_id, '">story ', doc_id,
                           '</a></p><ul><li>alpha</li><li>beta ', doc_id,
                           '</li></ul>')
        WHEN 3 THEN concat('<blockquote><p>', text,
                           '</p></blockquote><hr><p>End ', doc_id, '</p>')
        ELSE concat('<pre>val x = ', doc_id,
                    '</pre><p><img src="/img/', doc_id, '.png" alt="fig ',
                    doc_id, '"> done</p>')
        END
        """
    )
    out = markdown_column(docs.select("doc_id", html.alias("content_html")))
    return out.select("doc_id", "markdown")


def q_feed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed autodiscovery over planted HTML heads: RSS link (href-first
    attribute order), Atom link (type BEFORE rel — order independence on
    the oracle path), stylesheet noise, and one page in three with no
    feed at all."""
    from graby_spark.sources import feed

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        "doc_id",
        """
        CASE cast(doc_id % 3 AS int)
        WHEN 0 THEN concat('<html><head><link href="/feed-', doc_id,
            '.xml" rel="alternate" type="application/rss+xml"></head></html>')
        WHEN 1 THEN concat('<html><head><link rel="stylesheet" href="/s.css">',
            '<link type="application/atom+xml" rel="alternate" href="/atom-',
            doc_id, '.xml"/></head></html>')
        ELSE '<html><head><link rel="stylesheet" href="/s.css"></head></html>'
        END as html
        """,
    )
    return feed.feed_autodiscovery(pages)


def q_pipeline_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full crawl→searchable-index story: extraction → sliding-window
    token chunks → BM25 top-k over the CHUNK corpus (chunk id =
    url#chunk_idx).  The oracle chains the expected-extraction CTE
    through the chunk arithmetic into the parametric BM25 twin —
    value-exact across three composed operators."""
    from graby_spark.operators import packing, search

    out = _extracted(spark, sf_dir).where("is_success")
    chunks = packing.chunk_tokens(out, id_col="url", size=24, overlap=6)
    chunk_docs = chunks.selectExpr(
        "concat(doc, '#', cast(chunk_idx as string)) as cid", "chunk as text"
    )
    queries = spark.createDataFrame(
        _BM25_QUERIES, "query_id long, terms array<string>"
    )
    return search.bm25_topk(chunk_docs, queries, id_col="cid")


def q_source_cdx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index fetch planning: documents → synthetic CDXJ lines (multi-
    capture, mixed status/mime, www-prefixed hosts) → JVM line parser →
    latest eligible capture per SURT urlkey.  The oracle regenerates the
    expected fetch plan closed-form from documents, so a value match
    proves the SURT canonicalizer, the line parser, the status/mime
    filter, and the latest-capture window all at once.  Reference: graby
    selects its input one live URL at a time (HttpClient.php:150); at
    corpus scale input selection IS this index scan."""
    from graby_spark.sources import cdx

    lines = cdx.build_cdx_lines(spark, sf_dir)
    plan = cdx.cdx_select_latest(cdx.cdx_records(lines), mimes=("text/html",))
    return plan.select(
        "urlkey", "ts", "url", "digest", "length", "offset", "filename"
    )


def q_source_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom ingestion round trip: documents → synthetic feeds (even
    feeds RSS 2.0 with RFC-822 pubDates, odd feeds namespaced Atom) →
    JVM xpath entry parser → one row per entry.  A value match proves
    RSS/Atom dispatch, namespace-agnostic paths, entity-escape round
    trip, RFC-822→ISO date normalization, and document-order zip
    alignment in one shot.  Reference: graby's callers are feed readers
    (wallabag) that hand it entry URLs one at a time — this is that
    fan-out as a table operator."""
    from graby_spark.sources import feed

    blobs = feed.build_feed_blobs(spark, sf_dir)
    return feed.feed_entries(blobs)


def q_source_cdx_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental recrawl planning: the latest-capture CDX plan joined
    against a prior-extraction manifest (urlkey, digest) — every fifth
    doc is missing from the manifest (fetch_reason=new), every
    doc_id%4==1 doc carries a stale digest (fetch_reason=changed),
    everything else is unchanged and never leaves the index scan."""
    from graby_spark.sources import cdx

    lines = cdx.build_cdx_lines(spark, sf_dir)
    plan = cdx.cdx_select_latest(cdx.cdx_records(lines), mimes=("text/html",))
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seen = docs.where("doc_id % 5 != 0").selectExpr(
        "concat('com,example,cdx-', cast(doc_id % 5 as string), ')/page/',"
        " cast(doc_id as string)) as urlkey",
        "CASE WHEN doc_id % 4 = 1 THEN md5(concat(text, 'old'))"
        " ELSE md5(text) END as digest",
    )
    inc = cdx.cdx_incremental(plan, seen)
    return inc.select("urlkey", "ts", "url", "digest", "filename", "fetch_reason")


def q_graph_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl-frontier waves: per-domain score ranking
    with deterministic md5-hash scores."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = docs.selectExpr(
        "concat('http://', source, '/p', cast(doc_id as string)) as url",
        "source as domain",
        "cast(conv(substring(md5(concat('s:', cast(doc_id as string))), 1, 15), 16, 10) as bigint)"
        " % 10000 / cast(10000 as double) as score",
    )
    return graph.frontier_schedule(cands)


# Synthetic link farm: each doc's page carries one absolute, one
# protocol-relative (even ids), one root-relative and one document-relative
# link plus a fragment and a mailto that must be dropped.
_LINK_URL = (
    "concat('http://site', cast(doc_id % 7 as {c}), '.example.com/dir/p',"
    " cast(doc_id as {c}), '.html')"
)
_LINK_HTML = (
    "concat('<p><a href=\"http://ext.example.org/p/', cast(doc_id % 97 as {c}), '\">a</a>',"
    " case when doc_id % 2 = 0 then concat('<a href=\"//cdn.example.net/a/', cast(doc_id % 13 as {c}), '\">c</a>') else '' end,"
    " '<a href=\"/root/', cast(doc_id % 31 as {c}), '\">r</a>',"
    " '<a href=\"page', cast(doc_id % 5 as {c}), '.html#sec\">s</a>',"
    " '<a href=''/sq/', cast(doc_id % 11 as {c}), '''>q</a>',"
    " '<a href=uq', cast(doc_id % 17 as {c}), '.html>u</a>',"
    " '<a href=\"../up/', cast(doc_id % 9 as {c}), '.html\">p</a>',"
    " '<a href=\"#top\">t</a><a href=\"mailto:u@example.com\">m</a></p>')"
)


def q_graph_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """href extraction + RFC-lite resolution over a synthetic link farm
    (absolute / protocol-relative / root-relative / document-relative,
    fragment + mailto dropped)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        f"{_LINK_URL.format(c='string')} as url",
        f"{_LINK_HTML.format(c='string')} as html",
    )
    return graph.outlinks(pages)


def q_graph_hostgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted host-level link graph over the synthetic link farm:
    page edges from graph.outlinks collapsed to (src_host, dst_host,
    weight, n_src_pages), intra-host edges dropped."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        f"{_LINK_URL.format(c='string')} as url",
        f"{_LINK_HTML.format(c='string')} as html",
    )
    return graph.host_graph(graph.outlinks(pages))


def q_graph_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text edge extraction over the synthetic link farm (same
    resolution semantics as graph_outlinks, plus the tag-stripped,
    whitespace-collapsed anchor label per edge)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        f"{_LINK_URL.format(c='string')} as url",
        f"{_LINK_HTML.format(c='string')} as html",
    )
    return graph.anchor_texts(pages)


# sitemap.xml per domain: two urlset entries (one with lastmod+priority and
# whitespace-padded <loc>, one bare) plus a sitemap-index entry on parity
# domains; {h} is the engine's md5-parity expression over `domain`
_SITEMAP_SYNTH = (
    "concat('<?xml version=\"1.0\"?><urlset>',"
    " '<url><loc> http://', domain, '/a </loc><lastmod>2024-03-01</lastmod><priority>0.8</priority></url>',"
    " '<url><loc>http://', domain, '/b</loc></url>',"
    " case when {h} then concat('<sitemap><loc>http://', domain, '/sitemap2.xml</loc></sitemap>') else '' end,"
    " '</urlset>')"
)


def q_graph_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sitemap.xml parsing (urlset + sitemap-index entries, loc trim,
    optional lastmod/priority) over synthetic per-domain sitemaps."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    domains = docs.select(F.col("source").alias("domain")).distinct()
    sitemaps = domains.selectExpr(
        "domain", f"{_SITEMAP_SYNTH.format(h=_SPARK_MD5_PARITY)} as sitemap_xml"
    )
    return graph.sitemap_urls(sitemaps)


# sitemap candidates for the composed crawl planner: a priority page, a
# bare page, and three robots-sensitive paths (/private/* and /search?q=*
# are disallowed for every domain; /public/* only on md5-parity domains)
_FRONTIER_SITEMAP_SYNTH = (
    "concat('<?xml version=\"1.0\"?><urlset>',"
    " '<url><loc>http://', domain, '/a</loc><priority>0.8</priority></url>',"
    " '<url><loc>http://', domain, '/b</loc></url>',"
    " '<url><loc>http://', domain, '/private/x</loc></url>',"
    " '<url><loc>http://', domain, '/search?q=1</loc></url>',"
    " '<url><loc>http://', domain, '/public/z</loc></url>',"
    " '</urlset>')"
)


def q_pipeline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl planner (VERDICT r03 #7): sitemap_urls supplies
    candidates, robots_filter (RFC 9309 longest-match with wildcards)
    gates them, robots_directives' group-scoped Crawl-delay joins in, and
    frontier_schedule assigns politeness waves; not_before_ms =
    (wave − 1) · crawl_delay — the earliest polite fetch time for the
    wave.  Each operator already has its own oracle; this query pins the
    JOIN of the three, which is what a real crawl scheduler runs.

    Scale shape: candidates and rules are domain-keyed (planner-chosen
    join, broadcast when small); the only window partitions by domain.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    domains = docs.select(F.col("source").alias("domain")).distinct()
    sitemaps = domains.selectExpr(
        "domain", f"{_FRONTIER_SITEMAP_SYNTH} as sitemap_xml"
    )
    cands = (
        graph.sitemap_urls(sitemaps)
        .where(~F.col("is_index"))
        .select(
            "domain",
            F.col("loc").alias("url"),
            F.coalesce("priority", F.lit(0.5)).alias("score"),
        )
    )
    robots = domains.selectExpr(
        "domain", f"{_ROBOTS_SYNTH.format(h=_SPARK_MD5_PARITY)} as robots_txt"
    )
    verdicts = graph.robots_filter(cands, graph.parse_robots(robots))
    allowed = cands.join(
        verdicts.where(F.col("allowed")).select("url", "domain"), ["url", "domain"]
    )
    sched = graph.frontier_schedule(allowed)
    delays = graph.robots_directives(robots).select("domain", "crawl_delay")
    return sched.join(delays, "domain", "left").select(
        "url",
        "domain",
        "score",
        "wave",
        "crawl_delay",
        ((F.col("wave") - 1) * F.coalesce("crawl_delay", F.lit(0.0)) * 1000)
        .cast("long")
        .alias("not_before_ms"),
    )


def _crawl_snapshots(spark: SparkSession, sf_dir: str):
    """Two synthetic crawl snapshots: every 11th url vanishes, every 7th
    surviving page's content changes, every 13th id appears as a new url."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.selectExpr(
        "concat('http://', source, '/p', cast(doc_id as string)) as url", "text"
    )
    new = docs.where("doc_id % 11 != 0").selectExpr(
        "concat('http://', source, '/p', cast(doc_id as string)) as url",
        "CASE WHEN doc_id % 7 = 0 THEN concat(text, ' updated') ELSE text END as text",
    ).unionByName(
        docs.where("doc_id % 13 = 0").selectExpr(
            "concat('http://', source, '/new', cast(doc_id as string)) as url", "text"
        )
    )
    return old, new


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl snapshot diff: added/removed/changed/unchanged
    per url from two crawls, hashes computed map-side so only 16-byte
    rows join (the refresh pipeline's re-extract/tombstone decision)."""
    old, new = _crawl_snapshots(spark, sf_dir)
    return graph.crawl_diff(old, new)


def q_crawl_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain churn rollup of the snapshot diff — the crawl-budget
    scheduling signal (composition of crawl_diff + one hash aggregate)."""
    old, new = _crawl_snapshots(spark, sf_dir)
    return graph.crawl_churn_by_domain(graph.crawl_diff(old, new))


def _link_graph(docs: DataFrame) -> DataFrame:
    """PageRank's deterministic modular link graph over ``docs.doc_id``:
    one modular out-edge per doc, a second on even ids, and a hub edge
    onto nodes 0-6 from every tenth id, self-loops dropped."""
    ids = docs.select("doc_id")
    n = ids.count()
    e1 = ids.selectExpr("doc_id as src", f"(doc_id*31+7) % {n} as dst")
    e2 = ids.where("doc_id % 2 = 0").selectExpr(
        "doc_id as src", f"(doc_id*17+3) % {n} as dst"
    )
    e3 = ids.where("doc_id % 10 = 0").selectExpr("doc_id as src", "doc_id % 7 as dst")
    return e1.union(e2).union(e3).where("src != dst")


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (10 checkpointed power iterations) over a
    deterministic modular link graph with hub edges onto nodes 0-6."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pr = graph.pagerank(_link_graph(docs), n_iter=10)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def q_pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation chain as ONE composed job:
    real byte-level extraction -> quality gate (score >= 0.5) -> exact
    dedup against a mirrored re-crawl (every 10th doc re-appears under a
    new id; the canonical lowest id survives) -> fixed-budget sequence
    packing.  The oracle recomputes every stage in SQL."""
    from pyspark.sql import Window

    out = _extracted(spark, sf_dir)
    base = out.select(
        F.regexp_extract("url", r"/article/(\d+)", 1).cast("long").alias("doc_id"),
        "text",
    )
    mirrors = base.where("doc_id % 10 = 0").select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"), "text"
    )
    corpus = base.unionByName(mirrors)
    passing = textstats.quality_score(corpus).where("quality >= 0.5").select("doc_id")
    kept = corpus.join(passing, "doc_id")
    # exact dedup: canonical (lowest id) per whitespace-normalized text,
    # keyed by the cross-engine md5 hash so text itself is never the key
    h = F.conv(
        F.substring(F.md5(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), 1, 15),
        16,
        10,
    )
    w = Window.partitionBy(h).orderBy("doc_id")
    survivors = (
        kept.withColumn("_rn", F.row_number().over(w)).where("_rn = 1").drop("_rn")
    )
    return packing.pack_sequences(survivors).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("bucket").cast("long").alias("bucket"),
        "bin_id",
    )


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination check: every 50th document doubles as the
    'evaluation set'; the operator reports the corpus token spans whose
    13-gram windows appear in it (the GPT-3-style overlap rule)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    evalset = docs.where("doc_id % 50 = 0")
    return dedup.contamination_spans(docs, evalset).select(
        "doc",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )


def q_dedup_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup of a crawl frontier: three tracking/case/fragment
    variants per document collapse onto one canonical URL (pure JVM
    whole-stage-codegen string expressions, S10-family)."""
    from graby_spark.urls import canonical_url_expr

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    variants = docs.selectExpr(
        "doc_id",
        "explode(array("
        "concat('HTTP://NEWS-', cast(doc_id % 7 as string), '.Example.org/article/', cast(doc_id as string), '?utm_source=feed&ref=1'),"
        "concat('http://news-', cast(doc_id % 7 as string), '.example.org/article/', cast(doc_id as string), '?ref=1#xtor=RSS-x'),"
        "concat('http://news-', cast(doc_id % 7 as string), '.example.org/article/', cast(doc_id as string), '?ref=1')"
        ")) as url",
    )
    return (
        variants.select(canonical_url_expr().alias("canonical_url"), "url")
        .groupBy("canonical_url")
        .agg(F.count("*").alias("n_urls"), F.min("url").alias("first_url"))
    )


def q_text_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights of every document toward the 'src0'
    sub-corpus distribution (hashed-bigram LM log-ratio)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.where("source = 'src0'")
    return textstats.importance_weights(docs, target).select(
        "doc", F.col("n_feats").cast("long").alias("n_feats"), "logweight"
    )


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2021): every 5th doc
    carries a shared 19-token boilerplate tail; the operator reports the
    maximal duplicated token spans, first corpus occurrence excluded."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_SUBSTR_SYNTH} as text")
    return dedup.substring_dup_spans(planted).select(
        "doc",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("end_tok").cast("long").alias("end_tok"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )


def q_url_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-content URL-shape features for frontier ranking: six planted
    URL shapes (root, article slug, index page, tilde user page, query
    search, numeric directory) through graby_spark.urls.url_features;
    the oracle replays the same RE2-safe regex arithmetic in DuckDB.
    Hosts vary across the shapes (www-prefixed multi-label ccTLD,
    deep subdomain, bare IP literal) so the eTLD+1 ``registrable_domain``
    column exercises every branch of the PSL-subset algorithm."""
    from graby_spark.urls import url_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        "doc_id",
        """
        CASE cast(doc_id % 6 AS int)
        WHEN 0 THEN 'http://www.news.co.uk/'
        WHEN 1 THEN concat('http://ex.com/a/b/my-article-', doc_id, '.html')
        WHEN 2 THEN 'http://ex.com/blog/index.html'
        WHEN 3 THEN concat('http://a.blog.example.org/~user', doc_id % 5, '/page', doc_id)
        WHEN 4 THEN concat('http://192.168.4.21/search?q=spark&page=', doc_id % 9)
        ELSE concat('http://ex.com/p/', doc_id, '/')
        END as url
        """,
    )
    return url_features(pages)


def _text_scripts_oracle() -> str:
    """DuckDB twin of q_text_scripts, sharing textstats.SCRIPT_RANGES so
    the literal codepoint ranges cannot drift between engines.  Dominance
    tie-break (toward the lexicographically larger name, mirroring
    Spark's greatest() over (count, name) structs) is the CASE order:
    latin > greek > cyrillic > cjk > arabic."""
    counts = ", ".join(
        f"length(regexp_replace(text, '[^{body}]', '', 'g'))::BIGINT AS n_{name}"
        for name, body in textstats.SCRIPT_RANGES
    )
    synth_sql = _SCRIPT_SYNTH.replace("cast(doc_id % 5 AS int)", "doc_id % 5").replace(
        "cast(n_chars AS int)", "n_chars::int"
    ).replace("cast(n_chars * 2 AS int)", "(n_chars * 2)::int").replace(
        "cast(doc_id AS string)", "doc_id::varchar"
    )
    return f"""
WITH planted AS (
  SELECT doc_id, {synth_sql} AS text FROM documents
), counted AS (
  SELECT doc_id AS doc, length(text)::BIGINT AS n_chars, {counts}
  FROM planted
), m AS (
  SELECT *, greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_cjk) AS maxc
  FROM counted
)
SELECT doc, n_chars, n_latin, n_cyrillic, n_greek, n_arabic, n_cjk,
  CASE WHEN maxc = 0 THEN 'none'
       WHEN n_latin = maxc THEN 'latin'
       WHEN n_greek = maxc THEN 'greek'
       WHEN n_cyrillic = maxc THEN 'cyrillic'
       WHEN n_cjk = maxc THEN 'cjk'
       ELSE 'arabic' END AS dominant,
  CASE WHEN maxc = 0 THEN 0.0
       ELSE maxc / greatest(n_chars, 1) END AS script_ratio
FROM m
"""


_SCRIPT_SYNTH = """
CASE cast(doc_id % 5 AS int)
WHEN 0 THEN text
WHEN 1 THEN concat(text, ' ', repeat('ж', cast(n_chars AS int)))
WHEN 2 THEN concat(text, ' ', repeat('漢', cast(n_chars * 2 AS int)))
WHEN 3 THEN concat(text, ' αβγ δε')
ELSE concat('0123456789 --- ', cast(doc_id AS string))
END
""".strip()


def q_extract_trace_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleet-monitoring rollup of the extraction trace: per-domain
    (step, detail) counts over the full pipeline run with trace=True.
    The planted variants make every trace line closed-form, so the
    oracle regenerates the exact journal per document and aggregates."""
    from graby_spark.job import trace_stats

    _ship(spark)
    pages = build_pages_df(spark, sf_dir)
    opts = ExtractOptions(xss_filter=False, trace=True)
    out = run_extraction(spark, pages, pages_ruleset(), options=opts)
    return trace_stats(out)


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup per (lang, source) with exact token /
    char totals and the unrounded corpus-token share a mixing step
    consumes."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textstats.corpus_stats(docs)


def q_text_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition: planted mixed-script docs (latin-only,
    cyrillic-dominant, cjk-dominant, greek-minority, letterless) through
    script_profile; the oracle shares the literal codepoint-range
    constants so counts, dominance tie-breaks and the unrounded ratio
    replay exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_SCRIPT_SYNTH} as text")
    return textstats.script_profile(planted)


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (size 16, overlap 4) over documents:
    the embedding/RAG index preparation step.  Oracle replays the window
    arithmetic with range()+list slicing."""
    from graby_spark.operators import packing

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return packing.chunk_tokens(docs, size=16, overlap=4)


def q_pipeline_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed crawl→index pipeline: full extraction, then sliding-window
    token chunking of the extracted text (size 24, overlap 6) keyed by
    final url — the exact preparation an embedding index runs on crawl
    output.  Oracle chains the expected-extraction CTE into the same
    window arithmetic."""
    from graby_spark.operators import packing

    out = _extracted(spark, sf_dir).where("is_success")
    return packing.chunk_tokens(out, id_col="url", size=24, overlap=6)


def q_dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level cross-corpus dedup: two planted template sentences
    (shared by all docs / by every third doc) survive only at their first
    corpus occurrence; each document's own text stays as its unique
    sentence.  Exercises the lookbehind-free segmentation + ownership
    aggregate at sentence granularity."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr(
        "doc_id",
        "concat('Subscribe to our newsletter today. ',"
        " CASE WHEN doc_id % 3 = 0 THEN 'All rights reserved. ' ELSE '' END,"
        " text, '.') as text",
    )
    out = dedup.sentence_dedup(planted)
    return out.select(
        "doc",
        "n_sents",
        "n_kept",
        F.md5("text_dedup").alias("text_md5"),
    )


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-corpus paragraph dedup: planted shared
    header/footer paragraphs survive only at their first corpus-order
    occurrence; documents are reassembled from surviving paragraphs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.selectExpr("doc_id", f"{_PARA_SYNTH} as text")
    out = dedup.paragraph_dedup(planted)
    return out.select(
        "doc",
        "n_paras",
        "n_kept",
        F.md5("text_dedup").alias("text_md5"),
    )


#: real image headers (PNG IHDR 320x240, JPEG SOF0 128x64, GIF 300x200)
#: prepended to text junk — dimensions come from actual header parsing
_PNG_HDR = "89504E470D0A1A0A0000000D4948445200000140000000F00806000000"
_JPEG_HDR = "FFD8FFC00011080040008003"
_GIF_HDR = "4749463839612C01C800"
#: canonical 44-byte RIFF/WAVE header: PCM mono 8 kHz 16-bit
#: (byte_rate 16000), declared data size 32000 -> duration 2000 ms
_WAV_HDR = (
    "52494646247D000057415645666D7420100000000100"
    "0100401F0000803E00000200100064617461007D0000"
)
#: ID3v2 tag (zero payload size -> audio at offset 10) + one MPEG1 Layer
#: III frame header, bitrate index 9 = 128 kbps -> duration is
#: floor((payload_bytes - 10) / 16) ms
_MP3_HDR = "49443303000000000000FFFB9000"


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-budget sequence packing (training-context assembly)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return packing.pack_sequences(docs).select(
        "doc_id", "n_tokens", F.col("bucket").cast("long").alias("bucket"), "bin_id"
    )


def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-2 subsample composed with source mixing."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mixed = packing.sample_by_source(docs, {"src0": 0.9, "src1": 0.5, "src2": 0.25})
    return packing.sample_hash(mixed).select("doc_id", "source")


def q_media_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = docs.selectExpr(
        "doc_id as media_id",
        "CASE doc_id % 6 "
        f"WHEN 0 THEN concat(X'{_PNG_HDR}', encode(text, 'UTF-8')) "
        f"WHEN 1 THEN concat(X'{_JPEG_HDR}', encode(text, 'UTF-8')) "
        f"WHEN 2 THEN concat(X'{_GIF_HDR}', encode(text, 'UTF-8')) "
        f"WHEN 3 THEN concat(X'{_WAV_HDR}', encode(text, 'UTF-8')) "
        f"WHEN 4 THEN concat(X'{_MP3_HDR}', encode(text, 'UTF-8')) "
        "ELSE encode(text, 'UTF-8') END as payload",
    )
    out = multimodal.attach_media_metadata(media)
    return out.select(
        "media_id",
        "mime",
        F.col("payload_bytes").cast("long").alias("payload_bytes"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id < 200")
    media = docs.selectExpr("doc_id as media_id", "encode(text, 'UTF-8') as payload")
    feats = multimodal.extract_features(media)
    return feats.select("media_id", F.size("features").cast("long").alias("dim"))


def _formula_png_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload) formula PNGs, one per doc: sample j of image id
    = (id*31 + j) % 256, with width/height/channel count varying per id
    and scanline filters cycling 0..4 inside encode_png."""
    import numpy as np

    @F.pandas_udf("binary")
    def gen_png(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_png

        out = []
        for mid in ids:
            mid = int(mid)
            w, h, c = 3 + mid % 6, 2 + mid % 5, [1, 3, 4][mid % 3]
            arr = (
                ((mid * 31 + np.arange(w * h * c)) % 256)
                .astype(np.uint8)
                .reshape(h, w, c)
            )
            out.append(encode_png(arr))
        return pd.Series(out)

    return docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_png("media_id")
    )


def _ahash_png_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload) planted grayscale PNGs keyed by (id % 5,
    (id//5) % 2): same key = identical pixels, the other variant of the
    same base = a few perturbed pixels (aHash hamming 1-3), different
    bases ≥ 24 apart."""
    import numpy as np

    @F.pandas_udf("binary")
    def gen_png(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_png

        out = []
        for mid in ids:
            mid = int(mid)
            base, var = mid % 5, (mid // 5) % 2
            w, h = 16 + base * 4, 16 + base * 2
            j = np.arange(w * h)
            vals = (base * 37 + j * 13 + var * np.where(j % 41 == 0, 90, 0)) % 256
            out.append(encode_png(vals.astype(np.uint8).reshape(h, w)))
        return pd.Series(out)

    return docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_png("media_id")
    )


def _sampled_frame_means(media: DataFrame) -> DataFrame:
    """Sample ``media`` on a 500 ms schedule (at most 3 frames) and
    re-decode each sampled canvas from its lossless PNG bytes into a
    per-frame pixel mean."""
    sampled = multimodal.sample_frames(media, every_ms=500, max_frames=3).withColumn(
        "fk", F.col("media_id") * 10 + F.col("frame_no")
    )
    stats = multimodal.png_pixel_stats(
        sampled.select(F.col("fk").alias("media_id"), F.col("frame").alias("payload")),
    ).select(F.col("media_id").alias("fk"), "mean_pixel")
    return (
        sampled.select("fk", "media_id", "frame_no", "ts_ms")
        .join(stats, "fk")
        .select(
            "media_id",
            F.col("frame_no").cast("long").alias("frame_no"),
            F.col("ts_ms").cast("long").alias("ts_ms"),
            "mean_pixel",
        )
    )


def q_media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode on the correctness gate (VERDICT r03 #3): formula
    PNGs (sample j of image id = (id*31 + j) % 256; width/height/channel
    count varying per id; scanline filters cycling 0..4 so every unfilter
    path — None/Sub/Up/Average/Paeth — runs) are encoded in an
    Arrow-batched UDF, decoded by multimodal.png_pixel_stats with the
    stdlib-zlib decoder, and the per-image pixel mean is replayed
    closed-form by the DuckDB oracle.  mean_pixel is deliberately
    unrounded: integer sample sums are exact in float64 and one IEEE
    division is bit-identical across engines."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")
    media = _formula_png_media(docs)
    out = multimodal.png_pixel_stats(media)
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "mean_pixel",
    )


def q_media_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF decode on the correctness gate: formula palette GIFs
    (palette entry (k, c) = (id·7 + k·3 + c) % 256, flat index j =
    (id·13 + j) % ncol, odd ids interlaced so the de-weave path runs,
    LZW-compressed by the independent encode_gif) decoded by
    multimodal.gif_pixel_stats; the oracle replays the palette-expanded
    pixel mean closed-form.  Unrounded mean — exact in float64."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")

    @F.pandas_udf("binary")
    def gen_gif(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_gif

        out = []
        for mid in ids:
            mid = int(mid)
            w, h, ncol = 3 + mid % 6, 2 + mid % 5, 4 + mid % 5
            pal = (
                (mid * 7 + np.arange(ncol * 3)) % 256
            ).astype(np.uint8).reshape(ncol, 3)
            idx = ((mid * 13 + np.arange(w * h)) % ncol).astype(np.uint8).reshape(h, w)
            out.append(encode_gif(idx, palette=pal, interlace=bool(mid % 2)))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_gif("media_id")
    )
    out = multimodal.gif_pixel_stats(media)
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mean_pixel",
    )


def q_media_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real JPEG decode on the correctness gate — BOTH coding modes:
    odd ids encode progressive (SOF2: spectral-selection bands +
    successive-approximation refinement scans), even ids baseline
    sequential (SOF0).  JPEG is lossy, so the oracle uses the one shape
    where the DCT math is EXACT: 8x8 BLOCK-CONSTANT grayscale images
    under a unit quantization table (a constant block's DCT is DC-only;
    quant 1 preserves it; the IDCT returns the constant bit-for-bit) —
    and progressive carries the same quantized coefficients as baseline,
    so its decode is exact too.  Block k of image id carries value
    (id·11 + k) % 256, so the decoded mean is closed-form.  The full
    entropy pipeline of both modes (Huffman DC/AC, zigzag, bit
    unstuffing, EOB-run + correction-bit scans) is on the hot path of
    this value-exact check."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")

    @F.pandas_udf("binary")
    def gen_jpeg(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.jpeg import encode_jpeg

        ones = np.ones((8, 8))
        out = []
        for mid in ids:
            mid = int(mid)
            nbx, nby = 1 + mid % 3, 1 + mid % 2
            blocks = ((mid * 11 + np.arange(nby * nbx)) % 256).astype(np.uint8).reshape(
                nby, nbx
            )
            img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
            out.append(encode_jpeg(img, quant_luma=ones, progressive=bool(mid % 2)))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_jpeg("media_id")
    )
    out = multimodal.image_pixel_stats(media)
    return out.select(
        "media_id",
        "format",
        (F.col("media_id") % 2).cast("long").alias("progressive"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "mean_pixel",
    )


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode→resize→re-encode normalization stage: formula PNGs
    resized to a fixed 4x3 with nearest-neighbor floor mapping (integer
    arithmetic — the oracle replays the exact sample selection and mean
    closed-form)."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")
    media = _formula_png_media(docs)
    out = multimodal.resize_images(media)
    return out.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("channels").cast("long").alias("channels"),
        "mean_pixel",
    )


def q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed features over really-decoded PCM: per-16-frame windows of
    channel 0 with RMS and zero-crossing counts, both replayed closed-form
    by the oracle (channel-0 frame t of clip id is flat sample t·ch)."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")

    @F.pandas_udf("binary")
    def gen_wav(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_wav

        out = []
        for mid in ids:
            mid = int(mid)
            n, ch = 20 + mid % 50, 1 + mid % 2
            flat = ((mid * 17 + np.arange(n * ch)) * 97) % 4001 - 2000
            out.append(encode_wav(flat.astype(np.int16).reshape(n, ch), 8000))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_wav("media_id")
    )
    out = multimodal.audio_features(media)
    return out.select(
        "media_id",
        F.col("window").cast("long").alias("window"),
        F.col("n").cast("long").alias("n"),
        "rms",
        F.col("zcr").cast("long").alias("zcr"),
    )


def q_media_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full animated pipeline on the correctness gate: formula
    animated GIFs (3-6 frames, 250 ms delays) → REAL frame sampling
    (decode_gif_frames composition + 500 ms schedule → frames 0, 2, 4) →
    the sampled canvases re-decoded from their lossless PNG bytes into
    per-frame pixel means, replayed closed-form by the oracle."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 13 = 0")

    @F.pandas_udf("binary")
    def gen_anim(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_gif_anim

        out = []
        for mid in ids:
            mid = int(mid)
            w, h, ncol = 6 + mid % 5, 4 + mid % 3, 4 + mid % 5
            nframes = 3 + mid % 4
            pal = (
                (mid * 7 + np.arange(ncol * 3)) % 256
            ).astype(np.uint8).reshape(ncol, 3)
            frames = [
                ((mid * 13 + f * 5 + np.arange(w * h)) % ncol)
                .astype(np.uint8)
                .reshape(h, w)
                for f in range(nframes)
            ]
            out.append(encode_gif_anim(frames, pal, delays_ms=[250] * nframes))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_anim("media_id")
    )
    return _sampled_frame_means(media)


def q_media_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real VIDEO frame sampling on the correctness gate: formula MJPEG
    AVIs (rate 4/scale 1 → 250 ms frames) built by the RIFF writer in
    operators/avi.py, sampled on a 500 ms schedule by sample_frames
    (container chunk walk + numpy baseline-JPEG decode per sampled
    frame), the sampled canvases re-decoded from their lossless PNG
    bytes into pixel means.  Exactness: grayscale 8x8-block-constant
    frames under a unit quantization table survive DCT→quant→IDCT
    bit-for-bit, so the oracle replays frame means closed-form — the
    full container+entropy pipeline sits on a value-exact check."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 11 = 0")

    @F.pandas_udf("binary")
    def gen_avi(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.avi import encode_avi_mjpeg

        ones = np.ones((8, 8))
        out = []
        for mid in ids:
            mid = int(mid)
            nbx, nby = 1 + mid % 3, 1 + mid % 2
            nframes = 3 + mid % 4
            frames = []
            for f in range(nframes):
                blocks = (
                    (mid * 11 + f * 17 + np.arange(nby * nbx)) % 256
                ).astype(np.uint8).reshape(nby, nbx)
                frames.append(np.kron(blocks, np.ones((8, 8), dtype=np.uint8)))
            out.append(encode_avi_mjpeg(frames, rate=4, quant_luma=ones))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_avi("media_id")
    )
    return _sampled_frame_means(media)


def q_media_mp4_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ISO BMFF metadata on the correctness gate: formula moov/mvhd/
    tkhd skeletons (varying dims + durations) parsed by the box walker in
    attach_media_metadata; closed-form oracle."""
    _ship(spark)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")

    @F.pandas_udf("binary")
    def gen_mp4(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_mp4_skeleton

        out = []
        for mid in ids:
            mid = int(mid)
            out.append(
                encode_mp4_skeleton(
                    160 + (mid % 5) * 16,
                    90 + (mid % 3) * 30,
                    1000 + (mid * 7) % 60000,
                )
            )
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_mp4("media_id")
    )
    out = multimodal.attach_media_metadata(media)
    return out.select(
        "media_id",
        "mime",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


def q_media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-duplicate detection over REALLY-decoded images: planted
    grayscale PNGs keyed by (id % 5, (id//5) % 2) — same key = identical
    pixels, same base with the other variant = a few perturbed pixels
    (hamming 1-3 after aHash), different bases ≥ 24 apart — hashed with
    perceptual_hash (decode → 8x8 nearest resize → mean threshold),
    paired via 16-bit banding + exact hamming verify.  The oracle replays
    the ENTIRE hash computation and band join in SQL (integer-exact
    nearest resize + two's-complement bit packing make that possible)."""
    _ship(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")
    media = _ahash_png_media(docs)
    hashes = multimodal.perceptual_hash(media)
    pairs = multimodal.phash_pairs(hashes, max_hamming=4)
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_media_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale image dedup end to end: the phash pair generation
    (real PNG decode → aHash → banded buckets → hamming verify) composed
    with the connected-components operator, materializing a cluster
    canonical per image — what an image dedup pipeline actually writes.
    The oracle replays the ENTIRE composition: hash + band join in SQL
    feeding a recursive-CTE transitive closure."""
    pairs = q_media_phash_dedup(spark, sf_dir)
    clusters = dedup.duplicate_clusters(pairs)
    return clusters.select(
        F.col("doc").cast("long").alias("doc"),
        F.col("canonical").cast("long").alias("canonical"),
    )


def q_media_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV PCM decode on the correctness gate: formula clips (flat
    sample j = ((id·17 + j)·97) % 4001 − 2000, varying frame count /
    channels / rate) written by encode_wav, decoded by
    multimodal.wav_sample_stats; the oracle replays mean and RMS
    closed-form (integer sums exact in float64, IEEE sqrt identical)."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")

    @F.pandas_udf("binary")
    def gen_wav(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_wav

        out = []
        for mid in ids:
            mid = int(mid)
            n, ch = 20 + mid % 50, 1 + mid % 2
            rate = 8000 + (mid % 3) * 4000
            flat = ((mid * 17 + np.arange(n * ch)) * 97) % 4001 - 2000
            out.append(encode_wav(flat.astype(np.int16).reshape(n, ch), rate))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_wav("media_id")
    )
    out = multimodal.wav_sample_stats(media)
    return out.select(
        "media_id",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.col("channels").cast("long").alias("channels"),
        "mean_sample",
        "rms",
    )


def q_pipeline_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media survey pipeline end-to-end on REAL containers: seven
    formats (PNG, GIF, JPEG, WAV, MP4, MJPEG AVI, lossless WebP)
    produced by this repo's own encoders, surveyed by
    attach_media_metadata — structural mime sniffing (ftyp / RIFF form
    type beat weak magics), JVM header-field dims, per-format duration
    math.  One closed-form oracle over every branch proves the routing
    table AND each header parser against real encoder output, not
    planted header bytes (media_mime_sniff's job)."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 5 = 0")

    @F.pandas_udf("binary")
    def gen_media(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.avi import encode_avi_mjpeg
        from graby_spark.operators.jpeg import encode_jpeg
        from graby_spark.operators.multimodal import (
            encode_gif,
            encode_mp4_skeleton,
            encode_png,
            encode_wav,
        )
        from graby_spark.operators.webp import encode_webp_vp8l

        out = []
        for mid in ids:
            mid = int(mid)
            t = (mid // 5) % 7
            if t == 0:
                out.append(
                    encode_png(
                        np.full((3 + mid % 4, 4 + mid % 5), mid % 256, dtype=np.uint8)
                    )
                )
            elif t == 1:
                pal = np.array([[0, 0, 0], [255, 255, 255]], dtype=np.uint8)
                out.append(
                    encode_gif(np.zeros((2 + mid % 3, 5 + mid % 4), dtype=np.uint8), pal)
                )
            elif t == 2:
                out.append(
                    encode_jpeg(np.full((8, 8 * (1 + mid % 3)), 128, dtype=np.uint8))
                )
            elif t == 3:
                out.append(encode_wav(np.zeros(40 + mid % 30, dtype=np.int16), 8000))
            elif t == 4:
                out.append(
                    encode_mp4_skeleton(
                        160 + (mid % 5) * 16,
                        90 + (mid % 3) * 30,
                        1000 + (mid * 7) % 60000,
                    )
                )
            elif t == 5:
                frame = np.zeros((8, 8 * (1 + mid % 3)), dtype=np.uint8)
                out.append(
                    encode_avi_mjpeg([frame] * (2 + mid % 5), rate=4)
                )
            else:
                out.append(
                    encode_webp_vp8l(
                        np.full((5 + mid % 5, 10 + mid % 6), mid % 256, dtype=np.uint8)
                    )
                )
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_media("media_id")
    )
    out = multimodal.attach_media_metadata(media)
    return out.select(
        "media_id",
        ((F.col("media_id") / 5).cast("long") % 7).alias("kind"),
        "mime",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("duration_ms").cast("long").alias("duration_ms"),
    )


def q_media_g711_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real G.711 telephony decode on the correctness gate: formula
    mu-law (even ids) / A-law (odd ids) WAV clips expanded to linear
    PCM16 through the ITU closed-form tables inside decode_wav; the
    oracle replays the exact bit-level expansion in SQL (xor/shift
    arithmetic), so mean and RMS are value-exact — integer sums are
    exact in float64 and the division/sqrt are IEEE-identical."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 9 = 0")

    @F.pandas_udf("binary")
    def gen_g711(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_wav_g711

        out = []
        for mid in ids:
            mid = int(mid)
            n = 60 + mid % 40
            codes = ((mid * 31 + np.arange(n) * 7) % 256).astype(np.uint8)
            out.append(
                encode_wav_g711(codes, law="mulaw" if mid % 2 == 0 else "alaw")
            )
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_g711("media_id")
    )
    out = multimodal.wav_sample_stats(media)
    return out.select(
        "media_id",
        F.when(F.col("media_id") % 2 == 0, F.lit("mulaw"))
        .otherwise(F.lit("alaw"))
        .alias("law"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("n_frames").cast("long").alias("n_frames"),
        "mean_sample",
        "rms",
    )


def q_agg_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation — the classic hash-agg plan check."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming dropDuplicates-with-watermark dedup:
    first occurrence per content hash in event-time order (the survivor
    set a replayed stream must equal — test_stream_dedup pins the
    streaming run against this twin)."""
    from graby_spark.streaming.stream_dedup import dedup_batch

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.selectExpr(
        "concat('http://d.example.com/', doc_id) as url",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,doc_id) as warc_ts",
        "text",
    ).unionByName(
        docs.where("doc_id % 10 = 0").selectExpr(
            "concat('http://mirror.example.com/', doc_id) as url",
            "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,doc_id + 5000) as warc_ts",
            "text",
        )
    )
    return dedup_batch(pages).select("url")


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window counts by event_type (batch twin of the
    Structured Streaming windowed aggregation)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("events"), F.round(F.sum("value"), 4).alias("total_value"))
        .orderBy("window_start", "event_type")
    )


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (window-function batch twin of the
    applyInPandasWithState streaming operator)."""
    from graby_spark.streaming.sessionize import sessionize_batch

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize_batch(ev).select(
        "user_id",
        "session_start",
        "session_end",
        "events",
        F.round("total_value", 4).alias("total_value"),
    )


def q_join_orders_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join chain orders→customer→nation (dimension joins)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("order_count"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("n_name")
    )


def q_extract_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction to normalized grids (operators/tables.py):
    deterministic pages carry one table each — a header row (sometimes
    thead-wrapped, sometimes bare th), 3-4 data rows, 2-3 columns, and
    for odd ids a rowspan=2 cell whose value must fill down into the
    covered slot — so the span-aware grid algorithm, header detection
    and document-order table walk are all on a closed-form oracle.

    PROMOTED at the r05 rotation (staged through r04 because the driver
    sweep cap was full; pytest-gated against the same DuckDB oracle in
    tests/test_tables.py throughout)."""
    _ship(spark)
    from graby_spark.operators.tables import extract_tables

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 5 = 0")

    @F.pandas_udf("string")
    def gen_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            i = int(i)
            nrows, ncols = 3 + i % 2, 2 + i % 2
            hdr = "".join(f"<th>h{c}</th>" for c in range(ncols))
            hdr_row = f"<tr>{hdr}</tr>"
            if i % 3 == 0:
                hdr_row = f"<thead>{hdr_row}</thead>"
            body = []
            for r in range(1, nrows + 1):
                cells = []
                for c in range(ncols):
                    if i % 2 == 1 and r == 2 and c == 0:
                        continue  # slot covered by row 1's rowspan
                    span = (
                        ' rowspan="2"' if (i % 2 == 1 and r == 1 and c == 0) else ""
                    )
                    cells.append(f"<td{span}>{(i * 7 + r * ncols + c) % 100}</td>")
                body.append("<tr>" + "".join(cells) + "</tr>")
            return (
                "<html><body><p>intro</p><table>"
                + hdr_row
                + "".join(body)
                + "</table></body></html>"
            )

        return pd.Series([page(i) for i in ids])

    pages = docs.select(
        F.concat(F.lit("http://tables.example/"), F.col("doc_id")).alias("url"),
        gen_html("doc_id").alias("html"),
    )
    rows = extract_tables(pages)
    return rows.select(
        "url",
        "table_idx",
        "row_idx",
        "is_header",
        "n_cols",
        F.array_join("cells", "|").alias("cells_str"),
    )


def _suffixes_sql() -> str:
    """The PSL-subset literal shared with the engine expression, as a
    SQL IN-list — imported from urls.MULTI_LABEL_SUFFIXES so the two
    sides cannot drift."""
    from graby_spark.urls import MULTI_LABEL_SUFFIXES

    return ",".join(f"'{s}'" for s in MULTI_LABEL_SUFFIXES)


#: oracle for the query above — registered verbatim in ``oracle_sql()``
#: since the r05 rotation (kept near its query for readability).
R05_ORACLE_EXTRACT_HTML_TABLES = """
WITH m AS (
  SELECT doc_id AS id, 3 + doc_id % 2 AS nr, 2 + doc_id % 2 AS nc
  FROM documents WHERE doc_id % 5 = 0
), rows_ AS (
  SELECT id, nr, nc, unnest(range(0, nr + 1)) AS r FROM m
)
SELECT 'http://tables.example/' || id AS url,
       CAST(0 AS INT) AS table_idx,
       CAST(r AS INT) AS row_idx,
       r = 0 AS is_header,
       CAST(nc AS INT) AS n_cols,
       CASE WHEN r = 0
            THEN list_aggregate(list_transform(range(nc), c -> 'h' || c),
                                'string_agg', '|')
            ELSE list_aggregate(list_transform(range(nc), c ->
                 CAST(CASE WHEN id % 2 = 1 AND r = 2 AND c = 0
                      THEN (id * 7 + nc) % 100
                      ELSE (id * 7 + r * nc + c) % 100 END AS VARCHAR)),
                 'string_agg', '|')
       END AS cells_str
FROM rows_
"""


def q_image_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image–text pair mining (operators/imagetext.py): deterministic
    pages exercise figure/figcaption association, width/height attrs,
    lazy-load ``data-src`` fallback, srcset best-candidate selection and
    ``<base href>`` resolution (every third page sets a base directory
    that must override the page url's), all on a closed-form oracle.
    Nullable columns are coalesced to sentinels in BOTH engines so the
    value compare is NaN-free.

    PROMOTED at the r05 rotation (staged through r04 because the driver
    sweep cap was full; pytest-gated against the same DuckDB oracle in
    tests/test_imagetext.py throughout)."""
    _ship(spark)
    from graby_spark.operators.imagetext import image_text_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 7 = 0")

    @F.pandas_udf("string")
    def gen_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            i = int(i)
            head = f'<head><base href="/b{i}/"></head>' if i % 3 == 0 else ""
            fig = (
                f'<figure><img src="pic{i}.jpg" alt="photo number {i}" '
                f'width="{100 + i % 50}" height="{80 + i % 40}">'
                f"<figcaption>caption {i}</figcaption></figure>"
            )
            if i % 2 == 0:
                extra = f'<img data-src="lazy{i}.png">'
            else:
                extra = (
                    f'<img srcset="s{i}a.jpg 480w, s{i}b.jpg 800w" alt="hero {i}">'
                )
            return f"<html>{head}<body>{fig}<p>text</p>{extra}</body></html>"

        return pd.Series([page(i) for i in ids])

    pages = docs.select(
        F.concat(
            F.lit("http://imgs.example/"), F.col("doc_id"), F.lit("/page.html")
        ).alias("url"),
        gen_html("doc_id").alias("html"),
    )
    return image_text_pairs(pages).select(
        "url",
        "img_idx",
        "src",
        "alt",
        "title_attr",
        "caption",
        F.coalesce("width", F.lit(-1)).alias("width"),
        F.coalesce("height", F.lit(-1)).alias("height"),
        F.coalesce("srcset_best", F.lit("")).alias("srcset_best"),
    )


#: oracle for the query above — registered verbatim in ``oracle_sql()``
#: since the r05 rotation (kept near its query for readability).
R05_ORACLE_IMAGE_TEXT_PAIRS = """
WITH m AS (
  SELECT doc_id AS id,
         'http://imgs.example/' || doc_id || '/page.html' AS url,
         'http://imgs.example' ||
           CASE WHEN doc_id % 3 = 0 THEN '/b' || doc_id || '/'
                ELSE '/' || doc_id || '/' END AS base
  FROM documents WHERE doc_id % 7 = 0
), both_ AS (
  SELECT id, url, base, unnest(range(2)) AS k FROM m
)
SELECT url,
       CAST(k AS INT) AS img_idx,
       CASE WHEN k = 0 THEN base || 'pic' || id || '.jpg'
            WHEN id % 2 = 0 THEN base || 'lazy' || id || '.png'
            ELSE base || 's' || id || 'b.jpg' END AS src,
       CASE WHEN k = 0 THEN 'photo number ' || id
            WHEN id % 2 = 0 THEN ''
            ELSE 'hero ' || id END AS alt,
       '' AS title_attr,
       CASE WHEN k = 0 THEN 'caption ' || id ELSE '' END AS caption,
       CAST(CASE WHEN k = 0 THEN 100 + id % 50 ELSE -1 END AS INT) AS width,
       CAST(CASE WHEN k = 0 THEN 80 + id % 40 ELSE -1 END AS INT) AS height,
       CASE WHEN k = 1 AND id % 2 = 1 THEN base || 's' || id || 'b.jpg'
            ELSE '' END AS srcset_best
FROM both_
"""


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-aware dedup (operators/graph.py canonical_dedup):
    deterministic pages form 3-member clusters via root-relative
    ``rel=canonical`` links (every third selected page is the
    self-canonical leader), each page also carrying a SECOND bogus
    canonical (first-in-document-order must win) and a multi-token
    ``rel="alternate stylesheet"`` noise link, so tag scanning, rel
    explosion, href resolution, min_by tie-break and the one-shuffle
    clustering are all on a closed-form oracle.

    PROMOTED at the r05 rotation (formerly staged; pytest-gated in
    tests/test_linkrel.py until the rotation promotes it)."""
    _ship(spark)
    from graby_spark.operators.graph import canonical_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 6 = 0")

    @F.pandas_udf("string")
    def gen_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            i = int(i)
            leader = i - i % 18
            return (
                f'<html><head><link rel="canonical" href="/{leader}">'
                f'<link rel="canonical" href="/wrong{i}">'
                '<link rel="alternate stylesheet" href="x.css"></head>'
                f"<body>doc {i}</body></html>"
            )

        return pd.Series([page(i) for i in ids])

    pages = docs.select(
        F.concat(F.lit("http://canon.example/"), F.col("doc_id")).alias("url"),
        gen_html("doc_id").alias("html"),
    )
    return canonical_dedup(pages)


#: oracle for the query above — registered verbatim in ``oracle_sql()``
#: since the r05 rotation (kept near its query for readability).
R05_ORACLE_CANONICAL_DEDUP = """
WITH m AS (
  SELECT doc_id AS id,
         'http://canon.example/' || doc_id AS url,
         'http://canon.example/' || (doc_id - doc_id % 18) AS canonical_url
  FROM documents WHERE doc_id % 6 = 0
), c AS (
  SELECT canonical_url, COUNT(*) AS cluster_size FROM m GROUP BY canonical_url
)
SELECT m.url, m.canonical_url,
       CAST(c.cluster_size AS BIGINT) AS cluster_size,
       m.url = m.canonical_url AS is_kept
FROM m JOIN c USING (canonical_url)
"""


def q_extract_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Microdata extraction (operators/microdata.py): deterministic
    Article items with a headline, a time[datetime] date, a root-relative
    img URL (absolutization on a closed form) and a NESTED Person author
    item — exercising the itemscope boundary rule, the per-tag value
    table and child-item linkage, all oracle-replayable.  ``child_item``
    is coalesced to -1 in both engines so the compare is NaN-free.

    PROMOTED at the r05 rotation (formerly staged; pytest-gated in
    tests/test_microdata.py until the rotation promotes it)."""
    _ship(spark)
    from graby_spark.operators.microdata import extract_microdata

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 9 = 0")

    @F.pandas_udf("string")
    def gen_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            i = int(i)
            return (
                "<html><body>"
                '<div itemscope itemtype="https://schema.org/Article">'
                f'<h1 itemprop="headline">Headline {i}</h1>'
                f'<time itemprop="datePublished" datetime="2024-01-{2 + i % 27:02d}">x</time>'
                f'<img itemprop="image" src="/img{i}.jpg">'
                '<span itemprop="author" itemscope itemtype="https://schema.org/Person">'
                f'<span itemprop="name">Author {i}</span></span>'
                "</div></body></html>"
            )

        return pd.Series([page(i) for i in ids])

    pages = docs.select(
        F.concat(F.lit("http://md.example/"), F.col("doc_id")).alias("url"),
        gen_html("doc_id").alias("html"),
    )
    return extract_microdata(pages).select(
        "url",
        "item_idx",
        "item_type",
        "prop",
        "value",
        F.coalesce("child_item", F.lit(-1)).alias("child_item"),
    )


#: oracle for the query above — registered verbatim in ``oracle_sql()``
#: since the r05 rotation (kept near its query for readability).
R05_ORACLE_EXTRACT_MICRODATA = """
WITH m AS (
  SELECT doc_id AS id, 'http://md.example/' || doc_id AS url
  FROM documents WHERE doc_id % 9 = 0
)
SELECT url, CAST(0 AS INT) AS item_idx,
       'https://schema.org/Article' AS item_type,
       'headline' AS prop, 'Headline ' || id AS value,
       CAST(-1 AS INT) AS child_item FROM m
UNION ALL
SELECT url, 0, 'https://schema.org/Article', 'datePublished',
       '2024-01-' || lpad(CAST(2 + id % 27 AS VARCHAR), 2, '0'), -1 FROM m
UNION ALL
SELECT url, 0, 'https://schema.org/Article', 'image',
       'http://md.example/img' || id || '.jpg', -1 FROM m
UNION ALL
SELECT url, 0, 'https://schema.org/Article', 'author', '', 1 FROM m
UNION ALL
SELECT url, 1, 'https://schema.org/Person', 'name', 'Author ' || id, -1 FROM m
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/similarity.py pq_topk):
    compressed-domain ADC scan over md5-sampled codebooks with exact
    rerank, against the embeddings table; queries are the first 20 ids.

    VALUE ORACLE (new r05, closing VERDICT r04 #2): every stage is a
    deterministic closed form, so R05_ORACLE_ANN_PQ replays the whole
    pipeline in SQL — md5-lexicographic codebook sample, unit-normalize,
    per-subspace L2 argmin encode, ADC rounded to 6 decimals (the
    rounding pq_topk itself applies, making the candidate total order
    float-summation-order independent), global top-``PQ_REFINE*k``
    candidate cut excluding self, exact cosine rerank rounded to 8.
    Belt-and-braces value pins live in tests/test_operators.py
    (test_pq_encode_matches_numpy_replay,
    test_pq_topk_recall_and_determinism)."""
    _ship(spark)
    from graby_spark.operators.similarity import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_topk(emb, emb.where("vec_id < 20"))


#: exact SQL replay of q_ann_pq (k=10, m=4, ks=16, refine=8 → 80
#: candidates; 64-dim embeddings → d_sub=16).  Mirrors pq_topk stage
#: for stage; see q_ann_pq docstring for why each rounding exists.
R05_ORACLE_ANN_PQ = """
WITH unitc AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE /
           sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
),
-- codebook sample: Spark orders by conv(md5-prefix, 16, 10) which is a
-- decimal STRING, i.e. lexicographic over the decimal digits
sample AS (
  SELECT row_number() OVER (
           ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
         ) - 1 AS cidx, u
  FROM unitc
  QUALIFY row_number() OVER (
    ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
  ) <= 16
),
subspaces AS (SELECT unnest(range(4)) AS j),
cent AS (
  SELECT j, cidx,
         list_slice(u, j * 16 + 1, (j + 1) * 16) AS c,
         list_sum(list_transform(list_slice(u, j * 16 + 1, (j + 1) * 16), v -> v * v)) AS c2
  FROM sample CROSS JOIN subspaces
),
sub AS (
  SELECT vec_id, j, list_slice(u, j * 16 + 1, (j + 1) * 16) AS x
  FROM unitc CROSS JOIN subspaces
),
-- per-subspace L2 argmin: ||x-c||^2 ranks like c2 - 2*x.c; ties take
-- the lowest centroid index exactly like np.argmin
codes AS (
  SELECT vec_id, j, cidx FROM (
    SELECT s.vec_id, s.j, c.cidx,
           row_number() OVER (
             PARTITION BY s.vec_id, s.j
             ORDER BY c.c2 - 2 * list_sum(list_transform(range(16), i -> s.x[i+1] * c.c[i+1])) ASC,
                      c.cidx ASC
           ) AS rn
    FROM sub s JOIN cent c USING (j)
  ) WHERE rn = 1
),
qsub AS (
  SELECT vec_id AS qid, j, list_slice(u, j * 16 + 1, (j + 1) * 16) AS qx
  FROM unitc CROSS JOIN subspaces
  WHERE vec_id < 20
),
adc AS (
  SELECT q.qid, co.vec_id AS nid,
         round(SUM(list_sum(list_transform(range(16), i -> q.qx[i+1] * c.c[i+1]))), 6) AS adc
  FROM qsub q
  JOIN codes co USING (j)
  JOIN cent c ON c.j = co.j AND c.cidx = co.cidx
  WHERE co.vec_id != q.qid
  GROUP BY q.qid, co.vec_id
),
cand AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid ASC) AS rn
    FROM adc
  ) WHERE rn <= 80
),
rerank AS (
  SELECT cd.qid AS query_id, cd.nid AS neighbor_id,
         round(list_sum(list_transform(range(64), i -> qu.u[i+1] * cu.u[i+1])), 8) AS cosine
  FROM cand cd
  JOIN unitc qu ON qu.vec_id = cd.qid
  JOIN unitc cu ON cu.vec_id = cd.nid
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rerank
) WHERE rank <= 10
"""


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual ANN (operators/similarity.py ivfpq_topk, NEW
    r05): coarse md5-sampled cells bound which codes are scanned
    (nprobe=3 of 8), residual PQ bounds what is scanned per row; ADC =
    q·centroid + LUT adds, rounded to 6; exact rerank.  The whole
    pipeline is a deterministic closed form, so the oracle replays it
    stage for stage in SQL (cells → residual codebooks → encode → probe
    → ADC → candidate cut → rerank)."""
    _ship(spark)
    from graby_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivfpq_topk(emb, emb.where("vec_id < 20"), k=10, n_cells=8, nprobe=3)


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/dedup.py semantic_dedup, NEW
    r05): md5-sampled centroids (same closed-form init as ivf_topk) ->
    map-only cell assignment -> within-cell pairwise cosine -> greedy
    earliest-id-wins pruning.  Every stage is deterministic, so the
    oracle replays centroid sample, argmax assignment (ci ASC ties),
    pair cut and best-earlier-match selection in SQL."""
    _ship(spark)
    from graby_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, n_clusters=8, threshold=0.4)


#: exact SQL replay of q_dedup_semantic (n_clusters=8, threshold=0.4,
#: 64-dim embeddings; cosine rounded to 8 like the ANN family).
R05_ORACLE_DEDUP_SEMANTIC = """
WITH unitc AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE /
           sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
),
cents AS (
  SELECT row_number() OVER (
           ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
         ) - 1 AS ci, u
  FROM unitc
  QUALIFY row_number() OVER (
    ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
  ) <= 8
),
vcell AS (
  SELECT vec_id, ci FROM (
    SELECT v.vec_id, c.ci,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_sum(list_transform(range(64), i -> v.u[i+1] * c.u[i+1])) DESC,
                      c.ci ASC) AS rn
    FROM unitc v CROSS JOIN cents c
  ) WHERE rn = 1
),
pairs AS (
  SELECT a.vec_id AS dup_id, b.vec_id AS keep_id, a.ci AS cell,
         round(list_sum(list_transform(range(64), i -> ua.u[i+1] * ub.u[i+1])), 8) AS cosine
  FROM vcell a
  JOIN vcell b ON a.ci = b.ci AND b.vec_id < a.vec_id
  JOIN unitc ua ON ua.vec_id = a.vec_id
  JOIN unitc ub ON ub.vec_id = b.vec_id
)
SELECT dup_id, keep_id, cell, cosine FROM (
  SELECT dup_id, keep_id, cell, cosine,
         row_number() OVER (PARTITION BY dup_id ORDER BY cosine DESC, keep_id ASC) AS rn
  FROM pairs WHERE cosine >= 0.4
) WHERE rn = 1
"""


def q_embed_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed spherical k-means (operators/cluster.py, NEW
    r05): unit vectors snapped to a 1e-9 integer grid so assignment
    dots and per-cell update sums are EXACT int64 arithmetic —
    order-independent under any partitioning, which is what lets two
    Lloyd iterations replay value-exact in SQL (the only floats are
    the JVM-side grid snap and the k-row driver renormalize, both in
    DuckDB's left-to-right list_sum order)."""
    _ship(spark)
    from graby_spark.operators.cluster import kmeans_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_embeddings(emb, k=8, n_iter=2)


def _kmeans_ctes(k: int, n_iter: int, dim: int) -> str:
    """Shared CTE prefix replaying kmeans_train: grid-snapped unit
    vectors -> md5-sample init -> per-iteration (integer-dot argmax
    assignment with ci-ASC ties, exact integer cell sums, renormalize +
    re-snap, empty cells keep the old centroid).  Ends at c{n_iter},
    the trained centroid table."""
    md5ord = "CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)"
    dot = f"list_sum(list_transform(range({dim}), i -> v.u[i+1] * c.u[i+1]))"
    sums = ", ".join(f"sum(u[{i + 1}]) AS s{i}" for i in range(dim))
    slist = ", ".join(f"CAST(s{i} AS DOUBLE) / 1000000000.0 / cnt" for i in range(dim))
    cte = [
        f"""u9 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(floor(
    x::DOUBLE / sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))
    * 1000000000.0 + 0.5) AS BIGINT)) AS u
  FROM embeddings
),
c0 AS (
  SELECT rn - 1 AS ci, u FROM (
    SELECT row_number() OVER (ORDER BY {md5ord}) AS rn, u FROM u9
  ) WHERE rn <= {k}
)"""
    ]
    for t in range(1, n_iter + 1):
        p = t - 1
        cte.append(
            f"""a{t} AS (
  SELECT vec_id, ci, u FROM (
    SELECT v.vec_id, c.ci, v.u,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dot} DESC, c.ci ASC) AS rn
    FROM u9 v CROSS JOIN c{p} c
  ) WHERE rn = 1
),
m{t} AS (
  SELECT ci, [{slist}] AS m
  FROM (SELECT ci, count(*) AS cnt, {sums} FROM a{t} GROUP BY ci)
),
n{t} AS (
  SELECT ci, m, sqrt(list_sum(list_transform(m, x -> x * x))) AS nrm FROM m{t}
),
c{t} AS (
  SELECT p.ci,
         coalesce(list_transform(n.m,
           x -> CAST(floor(x / n.nrm * 1000000000.0 + 0.5) AS BIGINT)), p.u) AS u
  FROM c{p} p LEFT JOIN n{t} n USING (ci)
)"""
        )
    return ", ".join(cte)


def _kmeans_oracle(k: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    """Exact SQL replay of q_embed_kmeans: the trained-centroid CTE
    prefix plus the final integer-dot assignment."""
    dot = f"list_sum(list_transform(range({dim}), i -> v.u[i+1] * c.u[i+1]))"
    return f"""
WITH {_kmeans_ctes(k, n_iter, dim)}
SELECT vec_id, cell, CAST(dot AS DOUBLE) / 1e18 AS cosine FROM (
  SELECT v.vec_id, c.ci AS cell, {dot} AS dot,
         row_number() OVER (PARTITION BY v.vec_id
           ORDER BY {dot} DESC, c.ci ASC) AS rn
  FROM u9 v CROSS JOIN c{n_iter} c
) WHERE rn = 1
"""


def q_dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with TRAINED clusters (NEW r05): semantic_dedup's
    n_iter>0 path routes cell assignment through the exact integer-grid
    k-means (cluster.kmeans_embeddings) — the paper's actual clustering
    step instead of the sampled init — then runs the same within-cell
    pairwise prune.  The oracle replays both Lloyd iterations AND the
    pairwise stage in one SQL statement."""
    _ship(spark)
    from graby_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, n_clusters=8, threshold=0.4, n_iter=2)


def _semantic_kmeans_oracle(
    k: int = 8, n_iter: int = 2, dim: int = 64, threshold: float = 0.4
) -> str:
    """q_dedup_semantic_kmeans replay: kmeans-trained cells feed the
    same pairwise-prune SQL as R05_ORACLE_DEDUP_SEMANTIC (float unit
    vectors, cosine rounded to 8, earliest-id-wins window)."""
    dot = f"list_sum(list_transform(range({dim}), i -> v.u[i+1] * c.u[i+1]))"
    return f"""
WITH {_kmeans_ctes(k, n_iter, dim)},
vcell AS (
  SELECT vec_id, ci FROM (
    SELECT v.vec_id, c.ci,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dot} DESC, c.ci ASC) AS rn
    FROM u9 v CROSS JOIN c{n_iter} c
  ) WHERE rn = 1
),
unitc AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE /
           sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS dup_id, b.vec_id AS keep_id, a.ci AS cell,
         round(list_sum(list_transform(range({dim}), i -> ua.u[i+1] * ub.u[i+1])), 8) AS cosine
  FROM vcell a
  JOIN vcell b ON a.ci = b.ci AND b.vec_id < a.vec_id
  JOIN unitc ua ON ua.vec_id = a.vec_id
  JOIN unitc ub ON ub.vec_id = b.vec_id
)
SELECT dup_id, keep_id, cell, cosine FROM (
  SELECT dup_id, keep_id, cell, cosine,
         row_number() OVER (PARTITION BY dup_id ORDER BY cosine DESC, keep_id ASC) AS rn
  FROM pairs WHERE cosine >= {threshold}
) WHERE rn = 1
"""


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with k-means-TRAINED cells (NEW r05): the inverted
    file comes from 2 exact integer-grid Lloyd iterations
    (cluster.kmeans_train) instead of the sampled init, probes stay
    exact int64 dots, and the float rerank is the shared
    _exact_rerank tail — so the ENTIRE pipeline replays value-exact in
    SQL (no planted-recall contract needed, unlike ann_topk_ivf whose
    oracle is the brute-force answer)."""
    _ship(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    topk = similarity.ivf_kmeans_topk(emb, emb)
    return topk.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _ivf_kmeans_oracle(
    k: int = 3, n_cells: int = 8, nprobe: int = 2, n_iter: int = 2, dim: int = 64
) -> str:
    """q_ann_ivf_kmeans replay: the trained-centroid CTE prefix
    (_kmeans_ctes), integer-dot cell windows (top-1 corpus /
    top-nprobe queries, ties ci ASC), candidate join excluding self,
    then the repo-standard float rerank (unit vectors, cosine rounded
    to 8, neighbor_id ASC ties)."""
    dot = f"list_sum(list_transform(range({dim}), i -> v.u[i+1] * c.u[i+1]))"
    return f"""
WITH {_kmeans_ctes(n_cells, n_iter, dim)},
ccell AS (
  SELECT vec_id AS neighbor_id, ci AS cell FROM (
    SELECT v.vec_id, c.ci,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dot} DESC, c.ci ASC) AS rn
    FROM u9 v CROSS JOIN c{n_iter} c
  ) WHERE rn = 1
),
qcell AS (
  SELECT vec_id AS query_id, ci AS cell FROM (
    SELECT v.vec_id, c.ci,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dot} DESC, c.ci ASC) AS rn
    FROM u9 v CROSS JOIN c{n_iter} c
  ) WHERE rn <= {nprobe}
),
cand AS (
  SELECT DISTINCT q.query_id, n.neighbor_id
  FROM qcell q JOIN ccell n USING (cell)
  WHERE q.query_id <> n.neighbor_id
),
unit AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE /
           sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_sum(list_transform(range({dim}),
           i -> uq.u[i+1] * un.u[i+1])), 8) AS cosine
  FROM cand
  JOIN unit uq ON uq.vec_id = cand.query_id
  JOIN unit un ON un.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def q_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN (NEW r05): FAISS's ``IVF,SQ8`` shape completing the
    index family — k-means-trained cells + per-vector int8 scalar
    quantization.  The approximate score q_scale·n_scale·intdot(codes)
    is zero-Python JVM codegen (unlike PQ's ADC) and its only floats
    are two IEEE multiplications — bitwise-identical in DuckDB — so
    train → probe → int8 scan → cut → exact rerank replays value-exact
    in SQL."""
    _ship(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    topk = similarity.ivf_sq8_topk(
        emb, emb, k=3, n_cells=8, nprobe=2, n_iter=2
    )
    return topk.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _ivf_sq8_oracle(
    k: int = 3,
    n_cells: int = 8,
    nprobe: int = 2,
    n_iter: int = 2,
    refine: int = 8,
    dim: int = 64,
) -> str:
    """q_ann_ivf_sq8 replay: trained-centroid prefix (_kmeans_ctes),
    integer-dot cell windows, SQ8 encode of the GRID-SNAPPED unit
    vectors (sc9 = max|u9|/127, code = floor(u9/sc9 + 0.5), score
    scale = sc9/1e9 — the kernel's exact op sequence), int64 code dot
    × the two scales, refine·k candidate cut, then the repo-standard
    float rerank."""
    dot = f"list_sum(list_transform(range({dim}), i -> v.u[i+1] * c.u[i+1]))"
    return f"""
WITH {_kmeans_ctes(n_cells, n_iter, dim)},
ccell AS (
  SELECT vec_id AS neighbor_id, ci AS cell FROM (
    SELECT v.vec_id, c.ci,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dot} DESC, c.ci ASC) AS rn
    FROM u9 v CROSS JOIN c{n_iter} c
  ) WHERE rn = 1
),
qcell AS (
  SELECT vec_id AS query_id, ci AS cell FROM (
    SELECT v.vec_id, c.ci,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY {dot} DESC, c.ci ASC) AS rn
    FROM u9 v CROSS JOIN c{n_iter} c
  ) WHERE rn <= {nprobe}
),
unit AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE /
           sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
),
sq8 AS (
  SELECT vec_id,
         CASE WHEN mx > 0 THEN mx / 127.0 / 1000000000.0 ELSE 0.0 END AS scale,
         CASE WHEN mx > 0
              THEN list_transform(u, x -> CAST(floor(x / (mx / 127.0) + 0.5) AS BIGINT))
              ELSE list_transform(u, x -> CAST(0 AS BIGINT)) END AS codes
  FROM (SELECT vec_id, u,
               list_max(list_transform(u, x -> abs(x))) AS mx
        FROM u9)
),
scored AS (
  SELECT q.query_id, n.neighbor_id,
         sq.scale * sn.scale
           * list_sum(list_transform(range({dim}),
               i -> sq.codes[i+1] * sn.codes[i+1])) AS approx
  FROM qcell q JOIN ccell n USING (cell)
  JOIN sq8 sq ON sq.vec_id = q.query_id
  JOIN sq8 sn ON sn.vec_id = n.neighbor_id
  WHERE q.query_id <> n.neighbor_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY approx DESC, neighbor_id ASC) AS rn
    FROM scored
  ) WHERE rn <= {refine * k}
),
rer AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_sum(list_transform(range({dim}),
           i -> uq.u[i+1] * un.u[i+1])), 8) AS cosine
  FROM cand
  JOIN unit uq ON uq.vec_id = cand.query_id
  JOIN unit un ON un.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
           ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rer
) WHERE rank <= {k}
"""


def _exif_jpeg_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload) JPEGs with a planted APP1 TIFF block: byte
    order alternating II/MM, orientation/make/model/datetime closed-form
    in the id, and a GPS IFD (integer degrees) on every third id."""
    @F.pandas_udf("binary")
    def gen_jpeg(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.exif import build_exif_jpeg

        out = []
        for mid in ids:
            mid = int(mid)
            gps = None
            if mid % 3 == 0:
                lat = float(1 + mid % 89) * (1.0 if mid % 2 == 0 else -1.0)
                lon = float(mid % 179 - 89)
                gps = (lat, lon)
            out.append(
                build_exif_jpeg(
                    b"\xff\xd8\xff\xd9",
                    orientation=1 + mid % 8,
                    make="graby",
                    model=f"m{mid % 4}",
                    datetime=f"2024:01:{1 + mid % 28:02d} 00:00:00",
                    gps=gps,
                    byte_order="II" if mid % 2 == 0 else "MM",
                )
            )
        return pd.Series(out)

    return docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_jpeg("media_id")
    )


def q_media_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata survey on the correctness gate (queued in PLANS.md
    r04: 'planted EXIF values are closed-form replayable'): per doc a
    structurally-valid APP1 TIFF block is spliced into a JPEG by
    exif.build_exif_jpeg — byte order alternating II/MM so BOTH endian
    walks sit on the oracle hot path — with orientation/make/model/
    datetime planted closed-form and a GPS IFD (integer degrees, so the
    rational-triple round-trip is exact) on every third row.  has_gps is
    the image-side PII flag, the analog of text_pii."""
    _ship(spark)
    from graby_spark.operators import exif

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 9 = 0")
    media = _exif_jpeg_media(docs)
    return exif.image_exif(media)


#: closed-form replay of q_media_exif's planted APP1 values (the parse
#: itself is pinned by test_exif_parse_both_byte_orders + the hypothesis
#: totality property; the oracle checks the planted-value round-trip).
R05_ORACLE_MEDIA_EXIF = """
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
       'graby' AS make,
       'm' || CAST(doc_id % 4 AS VARCHAR) AS model,
       '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
         || ' 00:00:00' AS datetime,
       CASE WHEN doc_id % 3 = 0
            THEN CAST(1 + doc_id % 89 AS DOUBLE)
                 * (CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE -1.0 END) END AS gps_lat,
       CASE WHEN doc_id % 3 = 0
            THEN CAST(doc_id % 179 - 89 AS DOUBLE) END AS gps_lon,
       (doc_id % 3 = 0) AS has_gps
FROM documents WHERE doc_id % 9 = 0
"""


def q_media_exif_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS-scrub round-trip on the correctness gate: the SAME planted
    corpus as media_exif goes through exif.exif_scrub (allowlist APP1
    rebuild — GPS and any non-allowlisted tag cannot survive) and is
    re-surveyed with image_exif.  The oracle is media_exif's closed form
    with gps_lat/gps_lon NULL and has_gps false on EVERY row while
    orientation/make/model/datetime are unchanged — i.e. the oracle
    proves the scrub removed exactly the PII and nothing else."""
    _ship(spark)
    from graby_spark.operators import exif

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 9 = 0")
    media = _exif_jpeg_media(docs)
    return exif.image_exif(exif.exif_scrub(media))


#: media_exif's closed form with the GPS columns forced NULL/false —
#: what a correct scrub must produce from the identical planted corpus.
R05_ORACLE_MEDIA_EXIF_SCRUB = """
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 8 AS INTEGER) AS orientation,
       'graby' AS make,
       'm' || CAST(doc_id % 4 AS VARCHAR) AS model,
       '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
         || ' 00:00:00' AS datetime,
       CAST(NULL AS DOUBLE) AS gps_lat,
       CAST(NULL AS DOUBLE) AS gps_lon,
       FALSE AS has_gps
FROM documents WHERE doc_id % 9 = 0
"""


def q_media_video_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampled video signatures on the correctness gate (the
    registry slot PLANS.md deferred from r04): per doc a REAL 4-frame
    animated GIF (identity grayscale palette, 250 ms cadence, pixel
    values closed-form in (id, frame, row, col)) is synthesized, then
    video_phash REALLY decodes + composes frames (decode_gif_frames),
    samples on the 500 ms schedule (frames 0 and 2 — 'always including
    frame 0' + next_sample accumulation), and aHashes each sampled
    canvas.  The oracle replays sampling schedule, timestamps AND the
    full hash computation (8x8 nearest resize, mean threshold,
    two's-complement packing) in SQL."""
    _ship(spark)
    import numpy as np

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 13 = 0")

    @F.pandas_udf("binary")
    def gen_gif(ids: pd.Series) -> pd.Series:
        from graby_spark.operators.multimodal import encode_gif_anim

        pal = np.array([[v, v, v] for v in range(256)], dtype=np.uint8)
        r = np.arange(8)[:, None]
        c = np.arange(16)[None, :]
        out = []
        for mid in ids:
            mid = int(mid)
            frames = [
                ((mid % 97 + 60 * f + r * 5 + c * 7) % 256).astype(np.uint8)
                for f in range(4)
            ]
            out.append(encode_gif_anim(frames, pal, delays_ms=[250] * 4))
        return pd.Series(out)

    media = docs.select(F.col("doc_id").alias("media_id")).withColumn(
        "payload", gen_gif("media_id")
    )
    hashes = multimodal.video_phash(media)
    return hashes.select(
        "media_id",
        F.col("frame_no").cast("long").alias("frame_no"),
        F.col("ts_ms").cast("long").alias("ts_ms"),
        "phash",
    )


#: full replay of q_media_video_phash: the 500ms-over-250ms schedule keeps
#: frames 0 (ts 0) and 2 (ts 500); each kept frame's aHash samples the
#: 8x16 canvas at (q//8, 2*(q%8)) — the integer nearest-resize map — and
#: packs bits two's-complement, same CTE shape as _PHASH_CAND_CTES.
R05_ORACLE_MEDIA_VIDEO_PHASH = """
WITH ids AS (SELECT doc_id AS id FROM documents WHERE doc_id % 13 = 0),
fr AS (SELECT id, unnest([0, 2]) AS frame_no FROM ids),
samp AS (
  SELECT id, frame_no,
    list_transform(range(64), q ->
      CAST((id % 97 + 60 * frame_no + (q // 8) * 5 + ((q % 8) * 2) * 7) % 256
           AS DOUBLE)) AS s
  FROM fr
)
SELECT id AS media_id,
       CAST(frame_no AS BIGINT) AS frame_no,
       CAST(frame_no * 250 AS BIGINT) AS ts_ms,
       CAST(list_aggregate(list_transform(range(63), q ->
         CASE WHEN s[CAST(q + 1 AS INTEGER)] > list_aggregate(s, 'avg')
              THEN (1::BIGINT << CAST(q AS INTEGER)) ELSE 0 END), 'sum')
       AS BIGINT)
       + CASE WHEN s[64] > list_aggregate(s, 'avg')
              THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END AS phash
FROM samp
"""


#: exact SQL replay of q_ann_ivfpq (k=10, n_cells=8, nprobe=3, m=4,
#: ks=16, refine=8 → 80 candidates; 64-dim embeddings → d_sub=16).
R05_ORACLE_ANN_IVFPQ = """
WITH unitc AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE /
           sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
),
cents AS (
  SELECT row_number() OVER (
           ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
         ) - 1 AS ci, u
  FROM unitc
  QUALIFY row_number() OVER (
    ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
  ) <= 8
),
sample AS (
  SELECT row_number() OVER (
           ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
         ) - 1 AS sidx, u
  FROM unitc
  QUALIFY row_number() OVER (
    ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS VARCHAR)
  ) <= 16
),
subspaces AS (SELECT unnest(range(4)) AS j),
scell AS (
  SELECT sidx, ci FROM (
    SELECT s.sidx, c.ci,
           row_number() OVER (PARTITION BY s.sidx
             ORDER BY list_sum(list_transform(range(64), i -> s.u[i+1] * c.u[i+1])) DESC,
                      c.ci ASC) AS rn
    FROM sample s CROSS JOIN cents c
  ) WHERE rn = 1
),
resid_sample AS (
  SELECT s.sidx, list_transform(range(64), i -> s.u[i+1] - c.u[i+1]) AS r
  FROM sample s JOIN scell USING (sidx) JOIN cents c USING (ci)
),
cb AS (
  SELECT j, sidx AS cx,
         list_slice(r, j * 16 + 1, (j + 1) * 16) AS c,
         list_sum(list_transform(list_slice(r, j * 16 + 1, (j + 1) * 16), v -> v * v)) AS c2
  FROM resid_sample CROSS JOIN subspaces
),
vcell AS (
  SELECT vec_id, ci FROM (
    SELECT v.vec_id, c.ci,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_sum(list_transform(range(64), i -> v.u[i+1] * c.u[i+1])) DESC,
                      c.ci ASC) AS rn
    FROM unitc v CROSS JOIN cents c
  ) WHERE rn = 1
),
vsub AS (
  SELECT v.vec_id, vc.ci, sp.j,
         list_slice(list_transform(range(64), i -> v.u[i+1] - c.u[i+1]),
                    sp.j * 16 + 1, (sp.j + 1) * 16) AS x
  FROM unitc v
  JOIN vcell vc USING (vec_id)
  JOIN cents c ON c.ci = vc.ci
  CROSS JOIN subspaces sp
),
codes AS (
  SELECT vec_id, ci, j, cx FROM (
    SELECT s.vec_id, s.ci, s.j, c.cx,
           row_number() OVER (PARTITION BY s.vec_id, s.j
             ORDER BY c.c2 - 2 * list_sum(list_transform(range(16), i -> s.x[i+1] * c.c[i+1])) ASC,
                      c.cx ASC) AS rn
    FROM vsub s JOIN cb c USING (j)
  ) WHERE rn = 1
),
qprobe AS (
  SELECT qid, ci, score FROM (
    SELECT v.vec_id AS qid, c.ci,
           list_sum(list_transform(range(64), i -> v.u[i+1] * c.u[i+1])) AS score,
           row_number() OVER (PARTITION BY v.vec_id
             ORDER BY list_sum(list_transform(range(64), i -> v.u[i+1] * c.u[i+1])) DESC,
                      c.ci ASC) AS rn
    FROM unitc v CROSS JOIN cents c
    WHERE v.vec_id < 20
  ) WHERE rn <= 3
),
qsub AS (
  SELECT vec_id AS qid, j, list_slice(u, j * 16 + 1, (j + 1) * 16) AS qx
  FROM unitc CROSS JOIN subspaces
  WHERE vec_id < 20
),
adc AS (
  SELECT q.qid, co.vec_id AS nid,
         round(max(p.score) +
               SUM(list_sum(list_transform(range(16), i -> q.qx[i+1] * c.c[i+1]))), 6) AS adc
  FROM qsub q
  JOIN codes co USING (j)
  JOIN qprobe p ON p.qid = q.qid AND p.ci = co.ci
  JOIN cb c ON c.j = co.j AND c.cx = co.cx
  WHERE co.vec_id != q.qid
  GROUP BY q.qid, co.vec_id
),
cand AS (
  SELECT qid, nid FROM (
    SELECT qid, nid,
           row_number() OVER (PARTITION BY qid ORDER BY adc DESC, nid ASC) AS rn
    FROM adc
  ) WHERE rn <= 80
),
rerank AS (
  SELECT cd.qid AS query_id, cd.nid AS neighbor_id,
         round(list_sum(list_transform(range(64), i -> qu.u[i+1] * cu.u[i+1])), 8) AS cosine
  FROM cand cd
  JOIN unitc qu ON qu.vec_id = cd.qid
  JOIN unitc cu ON cu.vec_id = cd.nid
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rerank
) WHERE rank <= 10
"""


def q_key_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis (storage.py key_skew_stats): a planted
    hot key (every fifth doc) over an otherwise uniform domain column —
    max/ratio/salt all closed-form.  The salt's 32 reducers are pinned
    (``storage.SALT_PARTITIONS``) so the result is environment-independent;
    float columns are rounded in BOTH engines.

    PROMOTED at the r05 rotation (formerly staged; pytest-gated in
    tests/test_operators.py::test_key_skew_stats plus the oracle test
    until the rotation promotes it)."""
    _ship(spark)
    from graby_spark.storage import key_skew_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.when(F.col("doc_id") % 5 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("k"), F.col("doc_id") % 50))
        .alias("domain")
    )
    return key_skew_stats(docs).select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.round("p99_key_rows", 4).alias("p99_key_rows"),
        F.round("avg_key_rows", 4).alias("avg_key_rows"),
        "top_key",
        "skew_ratio",
        "suggested_salt",
    )


#: oracle for the query above — registered verbatim in ``oracle_sql()``
#: since the r05 rotation (kept near its query for readability).
R05_ORACLE_KEY_SKEW_STATS = """
WITH keyed AS (
  SELECT CASE WHEN doc_id % 5 = 0 THEN 'hot'
              ELSE 'k' || (doc_id % 50) END AS domain
  FROM documents
), per_key AS (
  SELECT domain, COUNT(*) AS c FROM keyed GROUP BY domain
)
SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       ROUND(quantile_cont(c, 0.99), 4) AS p99_key_rows,
       ROUND(SUM(c) * 1.0 / COUNT(*), 4) AS avg_key_rows,
       arg_max(domain, c) AS top_key,
       ROUND(MAX(c) / (SUM(c) * 1.0 / COUNT(*)), 4) AS skew_ratio,
       CAST(GREATEST(1, CEIL(MAX(c) / (SUM(c) / 32.0))) AS INT)
         AS suggested_salt
FROM per_key
"""


def q_pipeline_imagetext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image–text curation pipeline composed end-to-end:
    mine pairs (operators/imagetext.py) → quality features → keep rows a
    curator would train on (a real description of ≥2 words that is not
    the filename, not a data URI, and not a tracking-pixel area).  The
    deterministic pages plant one keeper and a rotating junk case per
    doc (filename alt / 1×1 pixel / data URI / empty alt), so the filter
    logic itself is on the closed-form oracle.

    PROMOTED at the r05 rotation (formerly staged; pytest-gated in
    tests/test_imagetext.py until the rotation promotes it)."""
    _ship(spark)
    from graby_spark.operators.imagetext import image_text_pairs, pair_quality

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 4 = 0")

    @F.pandas_udf("string")
    def gen_html(ids: pd.Series) -> pd.Series:
        def page(i: int) -> str:
            i = int(i)
            keeper = (
                f'<figure><img src="/keep{i}.jpg" alt="a fine picture number {i}" '
                f'width="{64 + i % 32}" height="64"></figure>'
            )
            junk = [
                f'<img src="/j{i}.png" alt="j{i}.png">',  # filename alt
                f'<img src="/j{i}.png" alt="tiny but named" width="1" height="1">',
                f'<img src="data:image/gif;base64,R0lGOD" alt="inline payload">',
                f'<img src="/j{i}.png" alt="">',  # no text at all
            ][i % 4]
            return f"<html><body>{keeper}{junk}</body></html>"

        return pd.Series([page(i) for i in ids])

    pages = docs.select(
        F.concat(F.lit("http://pairs.example/"), F.col("doc_id")).alias("url"),
        gen_html("doc_id").alias("html"),
    )
    q = pair_quality(image_text_pairs(pages))
    kept = q.where(
        (F.col("text_words") >= 2)
        & ~F.col("alt_is_filename")
        & ~F.col("is_data_uri")
        & (F.coalesce(F.col("area"), F.lit(10**9)) >= 1024)
    )
    return kept.select("url", "src", "text", "text_words", "width", "height")


#: oracle for the query above — registered verbatim in ``oracle_sql()``
#: since the r05 rotation (kept near its query for readability).
R05_ORACLE_PIPELINE_IMAGETEXT = """
SELECT 'http://pairs.example/' || doc_id AS url,
       'http://pairs.example/keep' || doc_id || '.jpg' AS src,
       'a fine picture number ' || doc_id AS text,
       CAST(5 AS INT) AS text_words,
       CAST(64 + doc_id % 32 AS INT) AS width,
       CAST(64 AS INT) AS height
FROM documents WHERE doc_id % 4 = 0
"""


def q_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Translation-variant mining (operators/graph.py hreflang_clusters):
    deterministic 3-language sets (en/fr/de paths under one doc id, each
    page declaring the other two symmetrically plus x-default on the en
    page) — the local min-key derivation and variant counting are on a
    closed-form oracle.

    PROMOTED at the r05 rotation (formerly staged; pytest-gated in
    tests/test_linkrel.py until the rotation promotes it)."""
    _ship(spark)
    from graby_spark.operators.graph import hreflang_clusters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id % 11 = 0")
    langs = ["de", "en", "fr"]

    @F.pandas_udf("string")
    def gen_html(pairs: pd.Series) -> pd.Series:
        def page(p: str) -> str:
            i, lang = p.split(":")
            links = [
                f'<link rel="alternate" hreflang="{o}" '
                f'href="http://hl.example/{o}/{i}">'
                for o in langs
                if o != lang
            ]
            if lang == "en":
                links.append(
                    '<link rel="alternate" hreflang="x-default" '
                    f'href="http://hl.example/en/{i}">'
                )
            return f"<html><head>{''.join(links)}</head><body>x</body></html>"

        return pd.Series([page(p) for p in pairs])

    pages = docs.select(
        F.explode(F.array(*[F.lit(lg) for lg in langs])).alias("lang"),
        F.col("doc_id"),
    ).select(
        F.concat(
            F.lit("http://hl.example/"), F.col("lang"), F.lit("/"), F.col("doc_id")
        ).alias("url"),
        gen_html(F.concat(F.col("doc_id"), F.lit(":"), F.col("lang"))).alias("html"),
    )
    return hreflang_clusters(pages)


#: oracle for the query above — registered verbatim in ``oracle_sql()``
#: since the r05 rotation (kept near its query for readability).
R05_ORACLE_HREFLANG_CLUSTERS = """
WITH m AS (
  SELECT doc_id AS id, unnest(['de', 'en', 'fr']) AS lang
  FROM documents WHERE doc_id % 11 = 0
), variants AS (
  SELECT a.id, a.lang,
         'http://hl.example/' || a.lang || '/' || a.id AS url,
         b.lang AS other,
         'http://hl.example/' || b.lang || '/' || a.id AS variant_url
  FROM m a JOIN m b ON a.id = b.id AND a.lang <> b.lang
  UNION ALL
  SELECT id, 'en', 'http://hl.example/en/' || id, 'x-default',
         'http://hl.example/en/' || id
  FROM m WHERE lang = 'en'
)
SELECT url,
       'http://hl.example/de/' || id AS cluster_key,
       other AS hreflang,
       variant_url,
       CAST(CASE WHEN lang = 'en' THEN 3 ELSE 2 END AS BIGINT) AS n_variants
FROM variants
"""


#: planted page-body text for the pipeline_translate fixture, shared
#: verbatim by the Spark query and the DuckDB oracle (columns ``id``,
#: ``lang`` in scope).  Each language's phrase uses ONLY words unique to
#: that language's stopword list (no en/fr/es/de cross-hits), so langid
#: is closed-form; the three planted defects rotate by id % 3:
#:   0 → the fr page carries ENGLISH text (langid disagreement; fr
#:       member drops, only the de-en pair survives)
#:   1 → the de page is 3x longer (length-ratio kill for both de pairs,
#:       only en-fr survives)
#:   2 → clean (all three pairs survive)
_TRANSLATE_TEXT_SYNTH = (
    "CASE "
    "WHEN lang = 'en' OR (lang = 'fr' AND id % 3 = 0) "
    "THEN repeat('the of and to that ', 3 + id % 4) "
    "WHEN lang = 'fr' THEN repeat('le les et est une ', 3 + id % 4) "
    "WHEN id % 3 = 1 THEN repeat('der die und das von ', (3 + id % 4) * 3) "
    "ELSE repeat('der die und das von ', 3 + id % 4) END"
)


def q_pipeline_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MT-corpus showcase (VERDICT r04 #7): the full bitext-mining
    composition — hreflang declarations (graph.hreflang_clusters) ∧
    langid agreement (textstats.language_id) ∧ length-ratio filter —
    via graph.translation_pairs over deterministic 3-language sets with
    one planted defect per cluster rotating by id (language mislabel /
    length blow-up / clean); see _TRANSLATE_TEXT_SYNTH."""
    _ship(spark)
    from graby_spark.operators.graph import translation_pairs

    def link(o: str) -> str:
        return (
            f"'<link rel=\"alternate\" hreflang=\"{o}\" "
            f"href=\"http://hl.example/{o}/', id, '\">'"
        )

    xdef = (
        "'<link rel=\"alternate\" hreflang=\"x-default\" "
        "href=\"http://hl.example/en/', id, '\">'"
    )
    pages = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id % 11 = 0")
        .selectExpr("doc_id AS id")
        .selectExpr("id", "explode(array('de', 'en', 'fr')) AS lang")
        .selectExpr(
            "concat('http://hl.example/', lang, '/', id) AS url",
            f"concat('<html><head>', CASE lang "
            f"WHEN 'de' THEN concat({link('en')}, {link('fr')}) "
            f"WHEN 'en' THEN concat({link('de')}, {link('fr')}, concat({xdef})) "
            f"ELSE concat({link('de')}, {link('en')}) END, "
            "'</head><body>x</body></html>') AS html",
            f"({_TRANSLATE_TEXT_SYNTH}) AS text",
        )
    )
    return translation_pairs(pages)


def _translate_oracle() -> str:
    """Exact SQL replay of q_pipeline_translate: reconstructs the pages,
    replays the langid stopword vote (same lists, same tie order as
    textstats.language_id), derives the symmetric cluster key, applies
    the agreement and length-ratio filters."""
    from graby_spark.operators.textstats import STOPWORDS

    def hits(lang: str) -> str:
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_filter(toks, x -> list_contains([{words}], x)))"

    return f"""
WITH m AS (
  SELECT doc_id AS id, unnest(['de', 'en', 'fr']) AS lang
  FROM documents WHERE doc_id % 11 = 0
), t AS (
  SELECT id, lang,
         'http://hl.example/' || lang || '/' || id AS url,
         {_TRANSLATE_TEXT_SYNTH} AS text
  FROM m
), s AS (
  SELECT id, lang, url,
         length(trim(text)) AS text_len,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks,
         length(regexp_replace(lower(trim(text)), '[^一-鿿]', '', 'g')) AS cjk,
         length(lower(trim(text))) AS n
  FROM t
), g AS (
  SELECT id, lang, url, text_len,
         {hits('en')} AS en_hits, {hits('fr')} AS fr_hits,
         {hits('es')} AS es_hits, {hits('de')} AS de_hits, cjk, n
  FROM s
), agreed AS (
  SELECT id, lang, url, text_len,
         'http://hl.example/de/' || id AS cluster_key
  FROM g
  WHERE lang = CASE WHEN cjk * 4 > n THEN 'zh'
               WHEN greatest(en_hits, fr_hits, es_hits, de_hits) = 0 THEN 'unknown'
               WHEN en_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'en'
               WHEN fr_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'fr'
               WHEN es_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'es'
               ELSE 'de' END
)
SELECT a.cluster_key AS cluster_key,
       a.lang AS lang_a, a.url AS url_a, CAST(a.text_len AS BIGINT) AS len_a,
       b.lang AS lang_b, b.url AS url_b, CAST(b.text_len AS BIGINT) AS len_b,
       round(least(a.text_len, b.text_len) * 1.0 / greatest(a.text_len, b.text_len, 1), 4) AS len_ratio
FROM agreed a JOIN agreed b ON a.id = b.id AND a.lang < b.lang
WHERE least(a.text_len, b.text_len) * 1.0 / greatest(a.text_len, b.text_len, 1) >= 0.5
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS for the driver's correctness sweep, which caps at 50
    # queries taken in dict order (VERDICT r03 #2).  r05 rotation: the
    # eight r04-staged queries plus the new pipeline_translate lead
    # (never driver-verified; everything else has a green row in the
    # union of CORRECTNESS_r01..r04), so this round's sweep completes
    # driver coverage of the full 122-key registry.  Everything also has
    # a green row in the locally-published full-registry artifact
    # regardless of this rotation.
    return {
        # --- never driver-verified (staged in r04, promoted r05): MUST
        # --- sit within the driver sweep's 50-query cap (pinned by test)
        "extract_html_tables": q_extract_html_tables,
        "image_text_pairs": q_image_text_pairs,
        "canonical_dedup": q_canonical_dedup,
        "extract_microdata": q_extract_microdata,
        "key_skew_stats": q_key_skew_stats,
        "pipeline_imagetext": q_pipeline_imagetext,
        "hreflang_clusters": q_hreflang_clusters,
        "ann_pq": q_ann_pq,
        # --- new in r05: MT bitext-mining composition (VERDICT r04 #7)
        # --- and IVF-PQ residual ANN (the bolt-on VERDICT r04 named)
        "pipeline_translate": q_pipeline_translate,
        "ann_ivfpq": q_ann_ivfpq,
        # --- new in r05 session 2: SemDeDup semantic dedup
        "dedup_semantic": q_dedup_semantic,
        "embed_kmeans": q_embed_kmeans,
        "dedup_semantic_kmeans": q_dedup_semantic_kmeans,
        "ann_ivf_kmeans": q_ann_ivf_kmeans,
        "ann_ivf_sq8": q_ann_ivf_sq8,
        "media_exif": q_media_exif,
        "media_exif_scrub": q_media_exif_scrub,
        "media_video_phash": q_media_video_phash,
        # --- driver-verified in r04; re-verified as sweep room allows
        "media_avi_frames": q_media_avi_frames,
        "media_g711_decode": q_media_g711_decode,
        "pipeline_media": q_pipeline_media,
        "media_phash_clusters": q_media_phash_clusters,
        "source_wet": q_source_wet,
        "source_wat": q_source_wat,
        "source_cdx": q_source_cdx,
        "source_feed": q_source_feed,
        "text_markdown": q_text_markdown,
        "dedup_sentences": q_dedup_sentences,
        "dedup_boilerplate": q_dedup_boilerplate,
        "search_phrase": q_search_phrase,
        "graph_hostgraph": q_graph_hostgraph,
        "text_chunks": q_text_chunks,
        "extract_markdown": q_extract_markdown,
        "url_features": q_url_features,
        "pipeline_chunks": q_pipeline_chunks,
        "source_cdx_incremental": q_source_cdx_incremental,
        "text_scripts": q_text_scripts,
        "corpus_stats": q_corpus_stats,
        "extract_trace_stats": q_extract_trace_stats,
        "feed_discovery": q_feed_discovery,
        "pipeline_index": q_pipeline_index,
        "graph_anchors": q_graph_anchors,
        "graph_sitemaps": q_graph_sitemaps,
        "graph_pagerank": q_graph_pagerank,
        "pipeline_curate": q_pipeline_curate,
        "pack_sequences": q_pack_sequences,
        "sample_mix": q_sample_mix,
        "media_png_decode": q_media_png_decode,
        "media_gif_decode": q_media_gif_decode,
        "media_wav_decode": q_media_wav_decode,
        "media_jpeg_decode": q_media_jpeg_decode,
        "media_resize": q_media_resize,
        "media_mp4_meta": q_media_mp4_meta,
        "media_phash_dedup": q_media_phash_dedup,
        "media_audio_features": q_media_audio_features,
        "media_gif_frames": q_media_gif_frames,
        "stream_dedup": q_stream_dedup,
        "text_perplexity_bigram": q_text_perplexity_bigram,
        "text_perplexity_trigram": q_text_perplexity_trigram,
        "pipeline_frontier": q_pipeline_frontier,
        "crawl_diff": q_crawl_diff,
        "crawl_churn": q_crawl_churn,
        "text_ccnet_buckets": q_text_ccnet_buckets,
        "text_bpe_merges": q_text_bpe_merges,
        "text_bpe_tokenize": q_text_bpe_tokenize,
        "dedup_keep_best": q_dedup_keep_best,
        "pipeline_ccnet": q_pipeline_ccnet,
        "search_bm25": q_search_bm25,
        # --- driver-verified in r01/r02/r03; re-verified as sweep room allows
        # --- (the r01-only six lead so they re-verify first)
        "media_mime_sniff": q_media_mime_sniff,
        "media_features": q_media_features,
        "agg_lineitem_pricing": q_agg_lineitem_pricing,
        "events_windowed": q_events_windowed,
        "events_sessionize": q_events_sessionize,
        "join_orders_by_nation": q_join_orders_by_nation,
        "source_warc": q_source_warc,
        "dedup_incremental": q_dedup_incremental,
        "extract_lite": q_extract_lite,
        "text_tfidf": q_text_tfidf,
        "pipeline_pretrain": q_pipeline_pretrain,
        "graph_outlinks": q_graph_outlinks,
        "extract_meta": q_extract_meta,
        "extract_redirects": q_extract_redirects,
        "extract_text": q_extract_text,
        "extract_summary": q_extract_summary,
        "extract_metrics_by_domain": q_extract_metrics_by_domain,
        "extract_then_quality": q_extract_then_quality,
        "extract_xss": q_extract_xss,
        "mime_route": q_mime_route,
        "mime_pdf": q_mime_pdf,
        "multipage_stitch": q_multipage_stitch,
        "singlepage_replace": q_singlepage_replace,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_clusters": q_dedup_clusters,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "extract_spans": q_extract_spans,
        "embedding_near_dups": q_embedding_near_dups,
        "ann_topk": q_ann_topk,
        "ann_topk_lsh": q_ann_topk_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "text_token_stats": q_text_token_stats,
        "text_quality": q_text_quality,
        "text_classifier": q_text_classifier,
        "text_classifier_weighted": q_text_classifier_weighted,
        "text_perplexity": q_text_perplexity,
        "pipeline_quality": q_pipeline_quality,
        "text_langid": q_text_langid,
        "text_logprob": q_text_logprob,
        "text_fingerprint": q_text_fingerprint,
        "text_repetition": q_text_repetition,
        "text_gopher": q_text_gopher,
        "dedup_paragraphs": q_dedup_paragraphs,
        "dedup_substrings": q_dedup_substrings,
        "text_importance": q_text_importance,
        "dedup_urls": q_dedup_urls,
        "text_contamination": q_text_contamination,
        "text_pii": q_text_pii,
        "text_c4": q_text_c4,
        "split_assign": q_split_assign,
        "text_normalize": q_text_normalize,
        "text_sentences": q_text_sentences,
        "text_readability": q_text_readability,
        "text_grep": q_text_grep,
        "domain_prior": q_domain_prior,
        "graph_frontier": q_graph_frontier,
        "graph_robots": q_graph_robots,
        "graph_robots_directives": q_graph_robots_directives,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def oracle_sql() -> dict[str, str]:
    expected = oracle_pages_cte()
    excerpt = oracle_excerpt_sql("expected_text")

    dup_corpus = (
        "dup_corpus AS (SELECT doc_id, text FROM documents "
        "UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0)"
    )
    tokens = (
        "tokens AS (SELECT doc_id AS doc, unnest(list_distinct("
        "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> ''))) AS token "
        "FROM dup_corpus)"
    )

    from graby_spark.operators.textstats import STOPWORDS
    stop_en = ",".join(f"'{w}'" for w in STOPWORDS["en"])

    # 60-bit md5 token-hash simhash, computable identically in DuckDB
    def simhash_cte(src: str) -> str:
        return f"""toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS tok
  FROM {src}
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
), votes AS (
  SELECT doc_id, bits.i AS i,
         sum(CASE WHEN (h >> bits.i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(range(60)) AS i) bits
  GROUP BY doc_id, bits.i
), sim AS (
  SELECT doc_id, cast(sum(CASE WHEN vote > 0 THEN (1::BIGINT << i::INT) ELSE 0 END) as BIGINT) AS simhash
  FROM votes GROUP BY doc_id
), allsim AS (
  SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
  FROM {src} d LEFT JOIN sim s USING (doc_id)
)"""

    unitize = (
        "list_transform(embedding, x -> x / "
        "sqrt(list_sum(list_transform(embedding, y -> y * y))))"
    )

    # staged PII oracle generated from the SAME pattern table the Spark
    # operator uses (patterns are in the Java-regex/RE2 common subset)
    def pii_oracle() -> str:
        synth = _PII_SYNTH.format(c="varchar")
        parts = [f"WITH planted AS (SELECT doc_id, {synth} AS t0 FROM documents)"]
        prev = "planted"
        for i, (name, pat, rep) in enumerate(pii.PII_PATTERNS):
            carry = "".join(f"n_{n}, " for n, _, _ in pii.PII_PATTERNS[:i])
            parts.append(
                f", s{i} AS (SELECT doc_id, {carry}"
                f"CAST(len(regexp_extract_all(t{i}, '{pat}')) AS BIGINT) AS n_{name}, "
                f"regexp_replace(t{i}, '{pat}', '{rep}', 'g') AS t{i + 1} FROM {prev})"
            )
            prev = f"s{i}"
        names = ", ".join(f"n_{n}" for n, _, _ in pii.PII_PATTERNS)
        total = " + ".join(f"n_{n}" for n, _, _ in pii.PII_PATTERNS)
        parts.append(
            f"\nSELECT doc_id AS doc, {names}, CAST({total} AS BIGINT) AS n_pii, "
            f"md5(t{len(pii.PII_PATTERNS)}) AS redacted_md5 FROM {prev}"
        )
        return "\n".join(parts)

    def _collapse_sql(expr: str) -> str:
        # identical bounded unroll of RFC 3986 remove_dot_segments as
        # graph._collapse_dot_segments (RE2-safe, no lookarounds)
        collapse = expr
        for _ in range(4):
            collapse = f"regexp_replace({collapse}, '/\\./', '/', 'g')"
            collapse = f"regexp_replace({collapse}, '/\\./', '/', 'g')"
            collapse = f"regexp_replace({collapse}, '/\\.$', '/', 'g')"
            collapse = f"regexp_replace({collapse}, '/[^/]+/\\.\\./', '/', 'g')"
            collapse = f"regexp_replace({collapse}, '/[^/]+/\\.\\.$', '/', 'g')"
            collapse = f"regexp_replace({collapse}, '^/\\.\\./', '/', 'g')"
            collapse = f"regexp_replace({collapse}, '^/\\.\\.$', '/', 'g')"
        return collapse

    def outlinks_oracle() -> str:
        url = _LINK_URL.format(c="varchar")
        html = _LINK_HTML.format(c="varchar")
        collapse = _collapse_sql("p0")
        return f"""
WITH pages AS (SELECT {url} AS url, {html} AS html FROM documents),
links AS (
  SELECT url AS src,
         unnest(regexp_extract_all(html, '(?i)(^|[^\\w:-])href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s"''>]+)', 2)) AS rawlink
  FROM pages
),
stripped AS (
  SELECT src, regexp_replace(rawlink, '^["'']|["'']$', '', 'g') AS link FROM links
),
kept AS (
  SELECT src, link FROM stripped
  WHERE link <> '' AND link NOT LIKE '#%' AND link NOT LIKE 'mailto:%'
    AND link NOT LIKE 'javascript:%' AND link NOT LIKE 'data:%' AND link NOT LIKE 'tel:%'
),
resolved AS (
  SELECT src,
    CASE WHEN link LIKE 'http://%' OR link LIKE 'https://%' THEN link
         WHEN link LIKE '//%' THEN concat(regexp_extract(src, '^([a-z][a-z0-9+.\\-]*):', 1), ':', link)
         WHEN link LIKE '/%' THEN concat(regexp_extract(src, '^([a-z][a-z0-9+.\\-]*://[^/]+)', 1), link)
         ELSE concat(regexp_replace(src, '[^/]*$', ''), link) END AS dst0
  FROM kept
),
nofrag AS (
  SELECT src, regexp_replace(dst0, '#.*$', '') AS nf FROM resolved
),
split AS (
  SELECT src, nf, regexp_extract(nf, '^([a-z][a-z0-9+.\\-]*://[^/]*)', 1) AS dorigin,
         substring(nf, length(regexp_extract(nf, '^([a-z][a-z0-9+.\\-]*://[^/]*)', 1)) + 1) AS p0
  FROM nofrag
)
SELECT src, concat(dorigin, {collapse}) AS dst
FROM split
WHERE concat(dorigin, {collapse}) <> src
"""

    def anchors_oracle() -> str:
        url = _LINK_URL.format(c="varchar")
        html = _LINK_HTML.format(c="varchar")
        collapse = _collapse_sql("p0")
        return f"""
WITH pages AS (SELECT {url} AS url, {html} AS html FROM documents),
els AS (
  SELECT url AS src,
         unnest(regexp_extract_all(html, '(?is)<a\\s[^>]*>.*?</a>', 0)) AS el
  FROM pages
),
parts AS (
  SELECT src,
    regexp_replace(regexp_extract(el, '(?i)(^|[^\\w:-])href\\s*=\\s*("[^"]*"|''[^'']*''|[^\\s"''>]+)', 2), '^["'']|["'']$', '', 'g') AS link,
    trim(regexp_replace(regexp_replace(regexp_extract(el, '(?is)<a\\s[^>]*>(.*)</a>', 1), '(?s)<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS anchor
  FROM els
),
kept AS (
  SELECT src, link, anchor FROM parts
  WHERE link <> '' AND link NOT LIKE '#%' AND link NOT LIKE 'mailto:%'
    AND link NOT LIKE 'javascript:%' AND link NOT LIKE 'data:%' AND link NOT LIKE 'tel:%'
),
resolved AS (
  SELECT src, anchor,
    CASE WHEN link LIKE 'http://%' OR link LIKE 'https://%' THEN link
         WHEN link LIKE '//%' THEN concat(regexp_extract(src, '^([a-z][a-z0-9+.\\-]*):', 1), ':', link)
         WHEN link LIKE '/%' THEN concat(regexp_extract(src, '^([a-z][a-z0-9+.\\-]*://[^/]+)', 1), link)
         ELSE concat(regexp_replace(src, '[^/]*$', ''), link) END AS dst0
  FROM kept
),
nofrag AS (
  SELECT src, anchor, regexp_replace(dst0, '#.*$', '') AS nf FROM resolved
),
split AS (
  SELECT src, anchor, nf, regexp_extract(nf, '^([a-z][a-z0-9+.\\-]*://[^/]*)', 1) AS dorigin,
         substring(nf, length(regexp_extract(nf, '^([a-z][a-z0-9+.\\-]*://[^/]*)', 1)) + 1) AS p0
  FROM nofrag
)
SELECT src, concat(dorigin, {collapse}) AS dst, anchor
FROM split
WHERE concat(dorigin, {collapse}) <> src
"""

    # PageRank oracle: the power iteration unrolled as chained CTEs (one
    # per iteration), numerically identical to the Spark loop (12-dp round
    # per iteration, leaky dangling mass, (1-d)/N floor via LEFT JOIN)
    def pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
        parts = [
            """
WITH nn AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT doc_id AS src, (doc_id*31+7) % nn.n AS dst FROM documents, nn
    UNION ALL
    SELECT doc_id AS src, (doc_id*17+3) % nn.n AS dst FROM documents, nn WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id AS src, doc_id % 7 AS dst FROM documents WHERE doc_id % 10 = 0
  ) WHERE src <> dst
),
nodes AS (SELECT DISTINCT node FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
nc AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM nodes),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, round(CAST(1.0 AS DOUBLE) / nc.m, 12) AS rank FROM nodes, nc)"""
        ]
        for i in range(1, n_iter + 1):
            parts.append(
                f""",
r{i} AS (
  SELECT n.node,
         round(CAST({1.0 - damping!r} AS DOUBLE) / nc.m
               + CAST({damping!r} AS DOUBLE) * coalesce(s.x, CAST(0 AS DOUBLE)), 12) AS rank
  FROM nodes n CROSS JOIN nc
  LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank / d.deg) AS x
    FROM edges e JOIN r{i - 1} r ON e.src = r.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)"""
            )
        parts.append(f"\nSELECT node, round(rank, 6) AS rank FROM r{n_iter}\n")
        return "".join(parts)

    c4_oracle = f"""
WITH planted AS (SELECT doc_id, {_C4_SYNTH} AS text FROM documents),
l AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> x <> '') AS lines
  FROM planted
),
k AS (
  SELECT doc_id, text, lines,
         list_filter(lines, x -> regexp_matches(x, '[.!?"]$')
           AND len(list_filter(string_split_regex(x, '\\s+'), w -> w <> '')) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM l
),
c AS (
  SELECT doc_id, text, lines, kept, array_to_string(kept, chr(10)) AS cleaned,
         len(string_split_regex(array_to_string(kept, chr(10)), '[.!?]+')) - 1 AS n_sentences,
         contains(lower(text), 'lorem ipsum') AS has_lorem,
         contains(text, '{{') AS has_brace
  FROM k
)
SELECT doc_id AS doc,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       CAST(n_sentences AS BIGINT) AS n_sentences,
       has_lorem, has_brace,
       (n_sentences >= 3 AND NOT has_lorem AND NOT has_brace) AS passes_c4,
       md5(cleaned) AS cleaned_md5
FROM c
"""

    split_oracle = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(concat('v1:', cast(doc_id AS varchar))), 1, 15))::BIGINT % 10000 AS bucket
  FROM documents
)
SELECT doc_id AS doc, bucket,
       CASE WHEN bucket < 9800 THEN 'train'
            WHEN bucket < 9900 THEN 'validation'
            ELSE 'test' END AS split
FROM b
"""

    # normalize_text oracle: the identical transform chain, character
    # classes built with chr() so no literal/escape ambiguity can diverge
    # between the engines
    zw = "'[' || chr(8203) || chr(8204) || chr(8205) || chr(8288) || chr(65279) || ']'"
    sp = "'[' || chr(160) || chr(8192) || '-' || chr(8202) || chr(8239) || chr(12288) || ']'"
    qsrc = "chr(8216) || chr(8217) || chr(8220) || chr(8221) || chr(8211) || chr(8212)"
    qdst = "chr(39) || chr(39) || chr(34) || chr(34) || '--'"
    normalize_oracle = f"""
WITH planted AS (SELECT doc_id, {_NORM_SYNTH} AS text FROM documents),
c AS (
  SELECT doc_id, text,
    trim(regexp_replace(
      regexp_replace(
        regexp_replace(
          translate(
            regexp_replace(
              regexp_replace(text, {zw}, '', 'g'),
              {sp}, ' ', 'g'),
            {qsrc}, {qdst}),
          chr(8230), '...', 'g'),
        '[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]', '', 'g'),
      '[ \\t]+', ' ', 'g')) AS normalized
  FROM planted
)
SELECT doc_id AS doc,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(normalized) AS BIGINT) AS n_chars_clean,
       md5(normalized) AS normalized_md5
FROM c
"""

    sentences_oracle = f"""
WITH planted AS (SELECT doc_id, {_SENT_SYNTH} AS text FROM documents),
s AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_extract_all(text, '[^.!?]+[.!?]*'), x -> trim(x)), x -> x <> '') AS sents
  FROM planted
)
SELECT doc_id AS doc, CAST(sent_idx AS BIGINT) AS sent_idx, sentence
FROM (SELECT doc_id, unnest(range(len(sents))) AS sent_idx, unnest(sents) AS sentence FROM s)
"""

    # expression-chain twins of normalize_text and pii.redact_expr, used
    # by the composed pretrain-pipeline oracle
    def norm_chain_sql(expr: str) -> str:
        e = f"regexp_replace({expr}, {zw}, '', 'g')"
        e = f"regexp_replace({e}, {sp}, ' ', 'g')"
        e = f"translate({e}, {qsrc}, {qdst})"
        e = f"regexp_replace({e}, chr(8230), '...', 'g')"
        e = f"regexp_replace({e}, '[\\x00-\\x08\\x0b-\\x1f\\x7f-\\x9f]', '', 'g')"
        return f"trim(regexp_replace({e}, '[ \\t]+', ' ', 'g'))"

    def pii_chain_sql(expr: str) -> str:
        out = expr
        for _, pat, rep in pii.PII_PATTERNS:
            out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
        return out

    pretrain_oracle = f"""
WITH planted0 AS (SELECT doc_id, {_PRETRAIN_SYNTH.format(c='varchar')} AS text FROM documents),
corpus AS (
  SELECT doc_id, text FROM planted0
  UNION ALL SELECT doc_id + 1000000, text FROM planted0 WHERE doc_id % 10 = 0
),
red AS (SELECT doc_id, {pii_chain_sql(norm_chain_sql('text'))} AS raw_text FROM corpus),
l AS (
  SELECT doc_id, raw_text,
         list_filter(list_transform(string_split(raw_text, chr(10)), x -> trim(x)), x -> x <> '') AS lines
  FROM red
),
k AS (
  SELECT doc_id, raw_text,
         list_filter(lines, x -> regexp_matches(x, '[.!?"]$')
           AND len(list_filter(string_split_regex(x, '\\s+'), w -> w <> '')) >= 5
           AND NOT contains(lower(x), 'javascript')) AS kept
  FROM l
),
c4kept AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS text
  FROM k
  WHERE len(string_split_regex(array_to_string(kept, chr(10)), '[.!?]+')) - 1 >= 3
    AND NOT contains(lower(raw_text), 'lorem ipsum')
    AND NOT contains(raw_text, '{{')
),
scored AS (
  SELECT doc_id, text,
    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS n_tokens,
    len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> list_contains([{stop_en}], x))) AS stop_hits,
    length(trim(text)) AS n_chars,
    length(regexp_replace(trim(text), '[^.,;:!?]', '', 'g')) AS punct
  FROM c4kept
),
qkept AS (
  SELECT doc_id, text FROM scored
  WHERE (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0 END)
      + (CASE WHEN punct * 1.0 / greatest(n_chars, 1) <= 0.2 THEN 0.25 ELSE 0 END)
      + (CASE WHEN stop_hits * 1.0 / greatest(n_tokens, 1) >= 0.05 THEN 0.25 ELSE 0 END)
      + (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END)
      >= 0.5
),
survivors AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      row_number() OVER (
        PARTITION BY ('0x' || substr(md5(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 15))::BIGINT
        ORDER BY doc_id) AS rn
    FROM qkept) WHERE rn = 1
),
packed AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16) AS bucket
  FROM survivors
)
SELECT p.doc_id, CAST(p.n_tokens AS BIGINT) AS n_tokens, CAST(p.bucket AS BIGINT) AS bucket,
       cast(floor((sum(p.n_tokens) OVER (PARTITION BY p.bucket ORDER BY p.doc_id) - 1) / 512) as BIGINT) AS bin_id,
       CASE WHEN b.bucket10k < 9800 THEN 'train'
            WHEN b.bucket10k < 9900 THEN 'validation'
            ELSE 'test' END AS split
FROM packed p JOIN (
  SELECT doc_id,
         ('0x' || substr(md5(concat('v1:', cast(doc_id AS varchar))), 1, 15))::BIGINT % 10000 AS bucket10k
  FROM survivors
) b USING (doc_id)
"""

    return {
        # --- promoted from staged_queries() at the r05 rotation, listed
        # --- first to mirror queries() order; ann_pq gained a value
        # --- oracle this round (exact SQL replay of the PQ/ADC pipeline)
        "ann_pq": R05_ORACLE_ANN_PQ,
        "extract_html_tables": R05_ORACLE_EXTRACT_HTML_TABLES,
        "image_text_pairs": R05_ORACLE_IMAGE_TEXT_PAIRS,
        "canonical_dedup": R05_ORACLE_CANONICAL_DEDUP,
        "extract_microdata": R05_ORACLE_EXTRACT_MICRODATA,
        "key_skew_stats": R05_ORACLE_KEY_SKEW_STATS,
        "pipeline_imagetext": R05_ORACLE_PIPELINE_IMAGETEXT,
        "hreflang_clusters": R05_ORACLE_HREFLANG_CLUSTERS,
        "pipeline_translate": _translate_oracle(),
        "ann_ivfpq": R05_ORACLE_ANN_IVFPQ,
        "dedup_semantic": R05_ORACLE_DEDUP_SEMANTIC,
        "embed_kmeans": _kmeans_oracle(),
        "dedup_semantic_kmeans": _semantic_kmeans_oracle(),
        "ann_ivf_kmeans": _ivf_kmeans_oracle(),
        "ann_ivf_sq8": _ivf_sq8_oracle(),
        "media_exif": R05_ORACLE_MEDIA_EXIF,
        "media_exif_scrub": R05_ORACLE_MEDIA_EXIF_SCRUB,
        "media_video_phash": R05_ORACLE_MEDIA_VIDEO_PHASH,
        "pipeline_pretrain": pretrain_oracle,
        "text_pii": pii_oracle(),
        "text_c4": c4_oracle,
        "split_assign": split_oracle,
        "text_normalize": normalize_oracle,
        "text_sentences": sentences_oracle,
        "text_grep": (
            "WITH planted AS (SELECT doc_id, case when doc_id % 9 = 0 "
            "then concat(text, ' NEEDLE_ALPHA NEEDLE_BETA') else text end AS text FROM documents)\n"
            + "\nUNION ALL\n".join(
                f"SELECT doc_id AS doc, '{p}' AS pattern, "
                f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_matches "
                f"FROM planted WHERE len(regexp_extract_all(text, '{p}')) > 0"
                for p in _GREP_PATTERNS
            )
        ),
        "text_readability": f"""
WITH planted AS (SELECT doc_id, {_SENT_SYNTH} AS text FROM documents),
c AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS words,
         greatest(len(string_split_regex(lower(trim(text)), '[.!?]+')) - 1, 1) AS sentences,
         len(regexp_extract_all(lower(trim(text)), '[aeiouy]+')) AS syllables
  FROM planted
)
SELECT doc_id AS doc,
       CAST(words AS BIGINT) AS n_words,
       CAST(sentences AS BIGINT) AS n_sentences,
       CAST(syllables AS BIGINT) AS n_syllables,
       floor((206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences) - 84.6 * (CAST(syllables AS DOUBLE) / greatest(words, 1))) * 10000 + 0.5) / 10000 AS flesch_ease,
       floor((0.39 * (CAST(words AS DOUBLE) / sentences) + 11.8 * (CAST(syllables AS DOUBLE) / greatest(words, 1)) - 15.59) * 10000 + 0.5) / 10000 AS fk_grade
FROM c
""",
        "domain_prior": """
WITH t AS (
  SELECT doc_id, source,
         trim(text) AS text,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id, source,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it','that','was'], x))) AS stop_hits,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
  FROM t
), q AS (
  SELECT doc_id, source,
         CAST(round(
           (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0 END)
         + (CASE WHEN punct * 1.0 / greatest(n_chars, 1) <= 0.2 THEN 0.25 ELSE 0 END)
         + (CASE WHEN stop_hits * 1.0 / greatest(n_tokens, 1) >= 0.05 THEN 0.25 ELSE 0 END)
         + (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END)
         , 2) AS DOUBLE) AS quality
  FROM s
), per AS (
  SELECT source, count(*) AS n_domain_docs, sum(quality) AS q_sum FROM q GROUP BY source
), g AS (SELECT sum(quality) / count(*) AS mu FROM q)
SELECT q.doc_id AS doc, q.source AS domain,
       CAST(per.n_domain_docs AS BIGINT) AS n_domain_docs,
       round((per.q_sum + 20.0 * g.mu) / (per.n_domain_docs + 20), 6) AS domain_prior
FROM q JOIN per USING (source) CROSS JOIN g
""",
        "extract_lite": f"""
WITH pages AS (
  SELECT {_LITE_URL.format(c='varchar')} AS url, {_LITE_HTML.format(c='varchar')} AS html
  FROM documents
)
SELECT url,
       regexp_extract(html, '(?i)<title[^>]*>([^<]*)</title>', 1) AS title,
       regexp_extract(html, '(?i)<meta[^>]*property="og:title"[^>]*content="([^"]*)"', 1) AS og_title,
       regexp_extract(html, '(?i)<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1) AS canonical,
       regexp_extract(html, '(?i)<meta[^>]*name="description"[^>]*content="([^"]*)"', 1) AS meta_description,
       regexp_extract(html, '(?i)<html[^>]*\\blang="([^"]*)"', 1) AS html_lang
FROM pages
""",
        "text_tfidf": """
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents
),
tf AS (SELECT doc, token, count(*) AS tf FROM toks GROUP BY doc, token),
dfq AS (SELECT token, count(DISTINCT doc) AS doc_freq FROM toks GROUP BY token),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc, tf.token, tf.tf, dfq.doc_freq,
         round(tf.tf * log10(nd.n / dfq.doc_freq), 6) AS tfidf
  FROM tf JOIN dfq USING (token) CROSS JOIN nd
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc ORDER BY tfidf DESC, token) AS rnk
  FROM scored
)
SELECT doc, CAST(rnk AS BIGINT) AS rank, token, CAST(tf AS BIGINT) AS tf,
       CAST(doc_freq AS BIGINT) AS doc_freq, tfidf
FROM ranked WHERE rnk <= 3
""",
        "dedup_incremental": """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
),
shc AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(lower(text)) - 5 + 2, 2)),
           i -> substr(lower(text), i::INT, 5))) AS s
  FROM corpus
),
shn AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(lower(text)) - 5 + 2, 2)),
           i -> substr(lower(text), i::INT, 5))) AS s
  FROM newb
),
pairs AS (
  SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc,
         len(list_intersect(n.s, c.s)) * 1.0 /
         (len(n.s) + len(c.s) - len(list_intersect(n.s, c.s))) AS j
  FROM shn n JOIN shc c ON TRUE
)
SELECT new_doc, corpus_doc, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.9
""",
        "text_bpe_merges": bpe.oracle_merges_sql(8),
        "text_bpe_tokenize": bpe.oracle_token_counts_sql(8),
        "text_ccnet_buckets": """
WITH ttoks AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents WHERE doc_id % 2 = 0
),
vocab AS (SELECT token, count(*) AS tf FROM ttoks GROUP BY token),
params AS (
  SELECT (SELECT count(*) FROM ttoks) + 0.5 * ((SELECT count(*) FROM vocab) + 1) AS denom
),
lm AS (SELECT token, round(log10((tf + 0.5) / denom), 9) AS logp10 FROM vocab, params),
unk AS (SELECT round(log10(0.5 / denom), 9) AS logp10 FROM params),
stoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents WHERE doc_id % 2 = 1
),
agg AS (
  SELECT s.doc_id, count(*) AS n,
         sum(CAST(round((coalesce(l.logp10, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT)) AS total
  FROM stoks s LEFT JOIN lm l USING (token)
  GROUP BY s.doc_id
),
ppl AS (
  SELECT d.doc_id AS doc, d.lang,
         CASE WHEN a.n > 0 THEN round(power(10, -(a.total / a.n / 1000000000)), 3) END AS perplexity
  FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 1) d
  LEFT JOIN agg a USING (doc_id)
),
tiled AS (
  SELECT doc, lang, perplexity,
         ntile(3) OVER (PARTITION BY lang ORDER BY perplexity ASC NULLS LAST, doc) AS tile
  FROM ppl
)
SELECT doc, lang, perplexity,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM tiled
""",
        "crawl_diff": """
WITH old_t AS (SELECT 'http://' || source || '/p' || doc_id AS url, text FROM documents),
new_t AS (
  SELECT 'http://' || source || '/p' || doc_id AS url,
         CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 11 != 0
  UNION ALL
  SELECT 'http://' || source || '/new' || doc_id, text FROM documents WHERE doc_id % 13 = 0
),
o AS (SELECT url, ('0x' || substr(md5(text), 1, 15))::BIGINT AS old_hash FROM old_t),
n AS (SELECT url, ('0x' || substr(md5(text), 1, 15))::BIGINT AS new_hash FROM new_t)
SELECT url,
       CASE WHEN old_hash IS NULL THEN 'added'
            WHEN new_hash IS NULL THEN 'removed'
            WHEN old_hash = new_hash THEN 'unchanged'
            ELSE 'changed' END AS status,
       old_hash, new_hash
FROM o FULL OUTER JOIN n USING (url)
""",
        "crawl_churn": """
WITH old_t AS (SELECT 'http://' || source || '/p' || doc_id AS url, text FROM documents),
new_t AS (
  SELECT 'http://' || source || '/p' || doc_id AS url,
         CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 11 != 0
  UNION ALL
  SELECT 'http://' || source || '/new' || doc_id, text FROM documents WHERE doc_id % 13 = 0
),
o AS (SELECT url, ('0x' || substr(md5(text), 1, 15))::BIGINT AS old_hash FROM old_t),
n AS (SELECT url, ('0x' || substr(md5(text), 1, 15))::BIGINT AS new_hash FROM new_t),
d AS (
  SELECT url,
         CASE WHEN old_hash IS NULL THEN 'added'
              WHEN new_hash IS NULL THEN 'removed'
              WHEN old_hash = new_hash THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM o FULL OUTER JOIN n USING (url)
),
agg AS (
  SELECT regexp_extract(url, '^[a-z][a-z0-9+.\\-]*://([^/]+)', 1) AS domain,
         CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS added,
         CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS removed,
         CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS changed,
         CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
  FROM d GROUP BY 1
)
SELECT domain, added, removed, changed, unchanged,
       round((added + removed + changed) * 1.0 / (added + removed + changed + unchanged), 6) AS churn_ratio
FROM agg
""",
        "pipeline_frontier": f"""
WITH domains AS (SELECT DISTINCT source AS domain FROM documents),
waves AS (
  SELECT domain, 'http://' || domain || '/a' AS url, 0.8 AS score, 1 AS wave FROM domains
  UNION ALL
  SELECT domain, 'http://' || domain || '/b', 0.5, 2 FROM domains
  UNION ALL
  SELECT domain, 'http://' || domain || '/public/z', 0.5, 3 FROM domains
  WHERE NOT ({_DUCK_MD5_PARITY})
)
SELECT url, domain, score,
       CAST(wave AS BIGINT) AS wave,
       CASE WHEN {_DUCK_MD5_PARITY} THEN 7.5 ELSE 2.0 END AS crawl_delay,
       CAST((wave - 1) * (CASE WHEN {_DUCK_MD5_PARITY} THEN 7.5 ELSE 2.0 END) * 1000 AS BIGINT) AS not_before_ms
FROM waves
""",
        "graph_robots_directives": f"""
WITH domains AS (SELECT DISTINCT source AS domain FROM documents)
SELECT domain,
       CASE WHEN {_DUCK_MD5_PARITY} THEN 7.5 ELSE 2.0 END AS crawl_delay,
       CASE WHEN {_DUCK_MD5_PARITY}
            THEN 'http://' || domain || '/s2.xml,http://' || domain || '/sitemap.xml'
            ELSE 'http://' || domain || '/sitemap.xml' END AS sitemaps,
       CAST(CASE WHEN {_DUCK_MD5_PARITY} THEN 2 ELSE 1 END AS BIGINT) AS n_sitemaps
FROM domains
""",
        "graph_robots": f"""
WITH domains AS (SELECT DISTINCT source AS domain FROM documents),
robots AS (SELECT domain, {_ROBOTS_SYNTH.format(h=_DUCK_MD5_PARITY)} AS robots_txt FROM domains),
lines AS (
  SELECT domain, unnest(range(len(ls))) AS idx, unnest(ls) AS line
  FROM (SELECT domain, list_transform(string_split_regex(robots_txt, '\r?\n'), x -> trim(regexp_replace(x, '#.*$', ''))) AS ls FROM robots)
),
tagged AS (
  SELECT domain, idx,
    CASE WHEN lower(line) LIKE 'user-agent:%' THEN trim(substring(line, 12)) END AS ua,
    CASE WHEN lower(line) LIKE 'disallow:%' THEN 'disallow'
         WHEN lower(line) LIKE 'allow:%' THEN 'allow' END AS rule,
    CASE WHEN lower(line) LIKE 'disallow:%' THEN trim(substring(line, 10))
         WHEN lower(line) LIKE 'allow:%' THEN trim(substring(line, 7)) END AS path_prefix
  FROM lines
),
r1 AS (
  SELECT domain, idx, ua, rule, path_prefix, (ua IS NOT NULL) AS is_ua,
         coalesce(lag(ua IS NOT NULL) OVER (PARTITION BY domain ORDER BY idx), FALSE) AS prev_ua
  FROM tagged WHERE ua IS NOT NULL OR rule IS NOT NULL
),
r2 AS (
  SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END) OVER (
    PARTITION BY domain ORDER BY idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
  FROM r1
),
star AS (SELECT DISTINCT domain, gid FROM r2 WHERE ua = '*'),
rules AS (
  SELECT r2.domain, r2.rule, r2.path_prefix, CAST(length(r2.path_prefix) AS BIGINT) AS prefix_len
  FROM r2 JOIN star USING (domain, gid)
  WHERE r2.rule IS NOT NULL AND r2.path_prefix <> ''
),
urls AS (
  SELECT concat('http://', source, {_ROBOTS_PATH_SYNTH.format(c='varchar')}) AS url,
         source AS domain,
         {_ROBOTS_PATH_SYNTH.format(c='varchar')} AS path
  FROM documents
),
cand AS (
  SELECT u.url, u.domain, u.path, r.rule, r.path_prefix, r.prefix_len
  FROM urls u LEFT JOIN rules r USING (domain)
),
wild AS (
  SELECT *,
    (path_prefix LIKE '%*%' OR path_prefix LIKE '%$') AS haswild,
    '^' || regexp_replace(
             replace(
               regexp_replace(path_prefix, '{_RB_ESC_CLASS}', '{_RB_ESC_REPL}', 'g'),
               '*', '.*'),
             '{_RB_TRAIL_PAT}', '$') AS rx
  FROM cand
),
scored AS (
  SELECT *, CASE WHEN rule IS NULL THEN 0
                 WHEN haswild THEN CASE WHEN regexp_matches(path, rx) THEN 1 ELSE 0 END
                 WHEN starts_with(path, path_prefix) THEN 1 ELSE 0 END AS m
  FROM wild
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY url ORDER BY m DESC, prefix_len DESC NULLS LAST, rule ASC NULLS LAST) AS rn
  FROM scored
)
SELECT url, domain,
       CASE WHEN m = 1 THEN rule = 'allow' ELSE TRUE END AS allowed,
       CASE WHEN m = 1 THEN rule ELSE 'default' END AS matched_rule,
       CAST(CASE WHEN m = 1 THEN prefix_len ELSE -1 END AS BIGINT) AS matched_len
FROM best WHERE rn = 1
""",
        "url_features": """
WITH pages AS (
  SELECT doc_id,
    CASE doc_id % 6
    WHEN 0 THEN 'http://www.news.co.uk/'
    WHEN 1 THEN concat('http://ex.com/a/b/my-article-', doc_id, '.html')
    WHEN 2 THEN 'http://ex.com/blog/index.html'
    WHEN 3 THEN concat('http://a.blog.example.org/~user', doc_id % 5, '/page', doc_id)
    WHEN 4 THEN concat('http://192.168.4.21/search?q=spark&page=', doc_id % 9)
    ELSE concat('http://ex.com/p/', doc_id, '/')
    END AS url
  FROM documents
), f AS (
  SELECT doc_id, url,
    regexp_replace(regexp_replace(url, '^[a-z][a-z0-9+.\\-]*://[^/?#]*', ''), '[?#].*$', '') AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS query,
    length(regexp_replace(url, '[^0-9]', '', 'g')) AS n_digits,
    regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?#]+)', 1)), '\\.$', '') AS host
  FROM pages
), g AS (
  SELECT *, list_filter(string_split(path, '/'), s -> s <> '') AS segs,
    regexp_extract(path, '([^/]+)/?$', 1) AS slug,
    string_split(host, '.') AS parts
  FROM f
)
SELECT doc_id, url,
  len(segs)::BIGINT AS path_depth,
  length(path)::BIGINT AS path_len,
  (CASE WHEN query = '' THEN 0 ELSE len(string_split(query, '&')) END)::BIGINT AS n_query_params,
  n_digits / greatest(length(url), 1) AS digit_ratio,
  contains(path, '~') AS has_tilde,
  (query = '' AND len(segs) >= 1
   AND regexp_matches(slug, '^[A-Za-z0-9][A-Za-z0-9_\\-]*(\\.html?)?$')
   AND NOT regexp_matches(lower(slug), '^(index|default)(\\.html?)?$')) AS is_article_like,
  CASE WHEN regexp_matches(host, '^\\d{1,3}(\\.\\d{1,3}){3}$') OR len(parts) <= 2 THEN host
       WHEN array_to_string(parts[len(parts)-1:len(parts)], '.') IN (@SUFFIXES@)
         THEN array_to_string(parts[len(parts)-2:len(parts)], '.')
       ELSE array_to_string(parts[len(parts)-1:len(parts)], '.')
  END AS registrable_domain
FROM g
""".replace("@SUFFIXES@", _suffixes_sql()),
        "text_chunks": """
WITH base AS (
  SELECT doc_id AS doc,
         list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '') AS toks
  FROM documents
), windows AS (
  SELECT doc, toks,
         unnest(range(0, greatest(len(toks) - 4, 1), 12)) AS start_token
  FROM base
), sliced AS (
  SELECT doc,
         start_token // 12 AS chunk_idx,
         start_token,
         toks[start_token + 1 : start_token + 16] AS piece
  FROM windows
)
SELECT doc, chunk_idx, start_token,
       len(piece)::BIGINT AS n_tokens,
       array_to_string(piece, ' ') AS chunk
FROM sliced
WHERE len(piece) > 0
""",
        "dedup_sentences": r"""
WITH planted AS (
  SELECT doc_id, concat('Subscribe to our newsletter today. ',
    CASE WHEN doc_id % 3 = 0 THEN 'All rights reserved. ' ELSE '' END,
    text, '.') AS text
  FROM documents
), base AS (
  SELECT doc_id AS doc,
    list_filter(list_transform(regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)), s -> s <> '') AS sents
  FROM planted
), sx AS (
  SELECT doc, i - 1 AS idx, sents[i] AS sent,
    ('0x' || substr(md5(regexp_replace(sents[i], '\s+', ' ', 'g')), 1, 15))::BIGINT AS sent_hash
  FROM (SELECT doc, unnest(range(1, len(sents) + 1)) AS i, sents FROM base)
), owned AS (
  SELECT doc, idx, sent, row_number() OVER (PARTITION BY sent_hash ORDER BY doc, idx) AS rn FROM sx
), rebuilt AS (
  SELECT doc, count(*) AS n_kept, string_agg(sent, ' ' ORDER BY idx) AS text_dedup
  FROM owned WHERE rn = 1 GROUP BY doc
)
SELECT b.doc, len(b.sents)::BIGINT AS n_sents,
  coalesce(r.n_kept, 0)::BIGINT AS n_kept,
  md5(coalesce(r.text_dedup, '')) AS text_md5
FROM base b LEFT JOIN rebuilt r USING (doc)
""",
        "text_markdown": """
WITH t AS (
    SELECT doc_id, trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS tx
    FROM documents
)
SELECT doc_id,
    CASE doc_id % 5
    WHEN 0 THEN '# Doc ' || doc_id || chr(10) || chr(10) || tx
    WHEN 1 THEN '## Doc ' || doc_id || chr(10) || chr(10)
                || '**Key ' || doc_id || '** and *notes*'
                || chr(10) || chr(10) || tx
    WHEN 2 THEN 'See [story ' || doc_id || '](http://site-' || (doc_id % 7)
                || '.example.com/' || doc_id || ')' || chr(10) || chr(10)
                || '- alpha' || chr(10) || '- beta ' || doc_id
    WHEN 3 THEN '> ' || tx || chr(10) || chr(10) || '---'
                || chr(10) || chr(10) || 'End ' || doc_id
    ELSE '```' || chr(10) || 'val x = ' || doc_id || chr(10) || '```'
         || chr(10) || chr(10) || '![fig ' || doc_id || '](/img/' || doc_id
         || '.png) done'
    END AS markdown
FROM t
""",
        "text_scripts": _text_scripts_oracle(),
        "extract_trace_stats": """
WITH journal AS (
  SELECT doc_id,
    CASE doc_id % 4
      WHEN 0 THEN 'configured.example.com'
      WHEN 1 THEN 'news-' || (doc_id % 7) || '.example.org'
      WHEN 2 THEN 'blog-' || (doc_id % 13) || '.example.net'
      ELSE 'legacy.example.info'
    END AS domain,
    CASE doc_id % 4
      WHEN 0 THEN [
        ['config', 'host=configured.example.com'],
        ['parse', 'parser=libxml tidy=on'],
        ['title', 'siteconfig //h1'],
        ['strip', '//div[@class=''ads''] removed=1'],
        ['body', 'siteconfig //div[@class=''article-body'']'],
        ['result', 'success=True']]
      WHEN 1 THEN [
        ['config', 'host=news-' || (doc_id % 7) || '.example.org'],
        ['parse', 'parser=libxml tidy=on'],
        ['defined', 'og/json-ld -> title,date,authors'],
        ['body', 'schema.org articleBody'],
        ['title', 'autodetect (og/json-ld/hnews/readability)'],
        ['result', 'success=True']]
      WHEN 2 THEN [
        ['config', 'host=blog-' || (doc_id % 13) || '.example.net'],
        ['parse', 'parser=libxml tidy=on'],
        ['body', 'hnews entry-content'],
        ['title', 'autodetect (og/json-ld/hnews/readability)'],
        ['result', 'success=True']]
      ELSE [
        ['config', 'host=legacy.example.info'],
        ['parse', 'parser=libxml tidy=on'],
        ['body', 'schema.org articleBody'],
        ['title', 'autodetect (og/json-ld/hnews/readability)'],
        ['result', 'success=True']]
    END AS entries
  FROM documents
), x AS (
  SELECT domain, unnest(entries) AS e FROM journal
)
SELECT domain, e[1] AS step, e[2] AS detail, count(*) AS n
FROM x GROUP BY domain, e[1], e[2]
""",
        "corpus_stats": """
WITH per_doc AS (
  SELECT lang, source,
         len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'), t -> t <> ''))::BIGINT AS toks,
         length(coalesce(text, ''))::BIGINT AS chars
  FROM documents
), agg AS (
  SELECT lang, source, count(*) AS n_docs,
         sum(toks)::BIGINT AS n_tokens, sum(chars)::BIGINT AS n_chars
  FROM per_doc GROUP BY lang, source
)
SELECT lang, source, n_docs, n_tokens, n_chars,
       n_tokens / (SELECT sum(n_tokens) FROM agg) AS token_share
FROM agg
""",
        "source_cdx_incremental": """
WITH caps AS (
    SELECT doc_id, text, n_chars, unnest(range(doc_id % 3 + 1)) AS k
    FROM documents
), rec AS (
    SELECT
        'com,example,cdx-' || (doc_id % 5) || ')/page/' || doc_id AS urlkey,
        strftime(TIMESTAMP '2024-01-01 00:00:00'
                 + to_seconds(doc_id * 7 + k * 86400), '%Y%m%d%H%M%S') AS ts,
        'http://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
            || 'cdx-' || (doc_id % 5) || '.example.com/page/' || doc_id AS url,
        CASE WHEN doc_id % 11 = 0 THEN 'application/pdf' ELSE 'text/html' END AS mime,
        CASE WHEN (doc_id + k) % 7 = 3 THEN 503 ELSE 200 END AS status,
        md5(text) AS digest,
        doc_id * 1000 + k * 200 AS "offset",
        'crawl-' || (doc_id % 4) || '.warc.gz' AS filename
    FROM caps
), latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY urlkey
        ORDER BY ts DESC, filename DESC, "offset" DESC) AS rn
    FROM rec
    WHERE status = 200 AND mime = 'text/html'
), plan AS (
    SELECT urlkey, ts, url, digest, filename FROM latest WHERE rn = 1
), seen AS (
    SELECT 'com,example,cdx-' || (doc_id % 5) || ')/page/' || doc_id AS urlkey,
           CASE WHEN doc_id % 4 = 1 THEN md5(text || 'old') ELSE md5(text) END AS seen_digest
    FROM documents WHERE doc_id % 5 <> 0
)
SELECT p.urlkey, p.ts, p.url, p.digest, p.filename,
       CASE WHEN s.seen_digest IS NULL THEN 'new' ELSE 'changed' END AS fetch_reason
FROM plan p LEFT JOIN seen s USING (urlkey)
WHERE s.seen_digest IS NULL OR s.seen_digest <> p.digest
""",
        "source_feed": """
SELECT 'Feed ' || (doc_id // 5) AS feed_title,
       CASE WHEN (doc_id // 5) % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
       doc_id % 5 AS pos,
       'Entry ' || doc_id AS title,
       'http://feed-' || ((doc_id // 5) % 7) || '.example.com/post/' || doc_id AS link,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds((doc_id % 2880) * 60),
                '%Y-%m-%dT%H:%M:%SZ') AS published,
       substr(text, 1, 80) AS summary,
       true AS aligned
FROM documents
""",
        "source_cdx": """
WITH caps AS (
    SELECT doc_id, text, n_chars, unnest(range(doc_id % 3 + 1)) AS k
    FROM documents
), rec AS (
    SELECT
        'com,example,cdx-' || (doc_id % 5) || ')/page/' || doc_id AS urlkey,
        strftime(TIMESTAMP '2024-01-01 00:00:00'
                 + to_seconds(doc_id * 7 + k * 86400), '%Y%m%d%H%M%S') AS ts,
        'http://' || CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END
            || 'cdx-' || (doc_id % 5) || '.example.com/page/' || doc_id AS url,
        CASE WHEN doc_id % 11 = 0 THEN 'application/pdf' ELSE 'text/html' END AS mime,
        CASE WHEN (doc_id + k) % 7 = 3 THEN 503 ELSE 200 END AS status,
        md5(text) AS digest,
        n_chars + 100 AS length,
        doc_id * 1000 + k * 200 AS "offset",
        'crawl-' || (doc_id % 4) || '.warc.gz' AS filename
    FROM caps
), latest AS (
    SELECT *, row_number() OVER (
        PARTITION BY urlkey
        ORDER BY ts DESC, filename DESC, "offset" DESC) AS rn
    FROM rec
    WHERE status = 200 AND mime = 'text/html'
)
SELECT urlkey, ts, url, digest, length, "offset", filename
FROM latest WHERE rn = 1
""",
        "source_warc": """
SELECT concat('http://warc.example.com/doc/', cast(doc_id AS varchar)) AS url,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       CAST(200 AS BIGINT) AS http_status,
       'text/html; charset=utf-8' AS content_type,
       md5(concat('<html><body><p>', text, '</p></body></html>')) AS html_md5
FROM documents
""",
        "source_wet": """
SELECT concat('http://warc.example.com/doc/', cast(doc_id AS varchar)) AS url,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       concat('<urn:uuid:', md5(concat('warc:', cast(doc_id AS varchar))), '>') AS refers_to,
       md5(text) AS text_md5,
       CAST(length(text) AS BIGINT) AS text_chars
FROM documents
""",
        "source_wat": """
WITH l AS (SELECT doc_id, unnest([0, 1]) AS j FROM documents)
SELECT concat('http://warc.example.com/doc/', cast(doc_id AS varchar)) AS url,
       strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
       concat('Doc ', cast(doc_id AS varchar)) AS title,
       CAST(j AS BIGINT) AS link_no,
       'A@/href' AS link_path,
       concat('http://site-', cast((doc_id + j) % 7 AS varchar),
              '.example.com/p/', cast(doc_id * 2 + j AS varchar)) AS link_url,
       concat('anchor ', cast(doc_id AS varchar), ' ', cast(j AS varchar)) AS link_text
FROM l
""",
        "graph_frontier": """
WITH cands AS (
  SELECT concat('http://', source, '/p', cast(doc_id AS varchar)) AS url,
         source AS domain,
         ('0x' || substr(md5(concat('s:', cast(doc_id AS varchar))), 1, 15))::BIGINT
           % 10000 / CAST(10000 AS DOUBLE) AS score
  FROM documents
)
SELECT url, domain, score,
       CAST(row_number() OVER (PARTITION BY domain ORDER BY score DESC, url) AS BIGINT) AS wave
FROM cands
""",
        "graph_outlinks": outlinks_oracle(),
        "graph_hostgraph": f"""
WITH edges AS ({outlinks_oracle()}),
hosted AS (
  SELECT src,
         lower(regexp_extract(src, '^[a-z][a-z0-9+.\\-]*://([^/:?#]+)', 1)) AS src_host,
         lower(regexp_extract(dst, '^[a-z][a-z0-9+.\\-]*://([^/:?#]+)', 1)) AS dst_host
  FROM edges
)
SELECT src_host, dst_host,
       count(*) AS weight,
       count(DISTINCT src) AS n_src_pages
FROM hosted
WHERE src_host <> '' AND dst_host <> '' AND src_host <> dst_host
GROUP BY src_host, dst_host
""",
        "graph_anchors": anchors_oracle(),
        "graph_sitemaps": f"""
WITH domains AS (SELECT DISTINCT source AS domain FROM documents)
SELECT domain, 'http://' || domain || '/a' AS loc, '2024-03-01' AS lastmod,
       CAST(0.8 AS DOUBLE) AS priority, FALSE AS is_index FROM domains
UNION ALL
SELECT domain, 'http://' || domain || '/b', NULL, NULL, FALSE FROM domains
UNION ALL
SELECT domain, 'http://' || domain || '/sitemap2.xml', NULL, NULL, TRUE
FROM domains WHERE {_DUCK_MD5_PARITY}
""",
        "graph_pagerank": pagerank_oracle(),
        "extract_meta": f"""
WITH {expected}
SELECT url, title, language, pub_date, coalesce(author_names, '') AS author_names, cast(1 as bigint) AS ok
FROM expected
""",
        "extract_text": f"""
WITH {expected}
SELECT url, expected_text AS extracted_text FROM expected
""",
        "extract_markdown": f"""
WITH {expected}
SELECT url, expected_text AS markdown FROM expected
""",
        "pipeline_chunks": f"""
WITH {expected},
base AS (
  SELECT url AS doc,
         list_filter(regexp_split_to_array(expected_text, '\\s+'), t -> t <> '') AS toks
  FROM expected
), windows AS (
  SELECT doc, toks,
         unnest(range(0, greatest(len(toks) - 6, 1), 18)) AS start_token
  FROM base
), sliced AS (
  SELECT doc, start_token // 18 AS chunk_idx, start_token,
         toks[start_token + 1 : start_token + 24] AS piece
  FROM windows
)
SELECT doc, chunk_idx, start_token,
       len(piece)::BIGINT AS n_tokens,
       array_to_string(piece, ' ') AS chunk
FROM sliced
WHERE len(piece) > 0
""",
        "extract_summary": f"""
WITH {expected}
SELECT url, {excerpt} AS summary FROM expected
""",
        "extract_redirects": """
SELECT 'http://refresh.example.com/article/' || doc_id AS url,
       CASE doc_id % 3
         WHEN 0 THEN 'http://target.example.com/t/' || doc_id
         WHEN 1 THEN 'http://refresh.example.com/land/' || doc_id || '?a=1&b=2'
         ELSE NULL END AS redirect_target
FROM documents WHERE doc_id % 10 = 7
""",
        "extract_metrics_by_domain": f"""
WITH {expected}
SELECT regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS domain,
       count(*) AS docs, count(*) AS ok_docs
FROM expected GROUP BY 1 ORDER BY 1
""",
        "extract_xss": """
SELECT 'http://news-0.example.org/article/' || doc_id AS url,
       '<p>' || trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g'))
            || ' <a>link</a>' || chr(10)
            || '<img src="http://img.example/i.jpg" alt="image" /></p>' AS sanitized_html
FROM documents WHERE doc_id < 100
""",
        "mime_route": """
SELECT 'http://files.example.com/item/' || doc_id AS url,
       CASE doc_id % 3 WHEN 0 THEN 'Image' WHEN 1 THEN 'ZIP' ELSE 'Plain text' END AS title,
       CASE doc_id % 3
         WHEN 0 THEN '<a href="http://files.example.com/item/' || doc_id || '"><img src="http://files.example.com/item/' || doc_id || '" alt="Image" /></a>'
         WHEN 1 THEN '<a href="http://files.example.com/item/' || doc_id || '">Download ZIP</a>'
         ELSE '<pre>' || text || '</pre>' END AS routed_html
FROM documents
""",
        "mime_pdf": """
SELECT 'http://files.example.com/doc/' || i || '.pdf' AS url,
       'Document1' AS title,
       '2013-09-01T22:20:38+02:00' AS pub_date,
       'Sebastien MALOT' AS author_names,
       'fe4113bb70d850fa0c4eca50ff6276ad' AS html_md5
FROM range(20) t(i)
""",
        "multipage_stitch": """
SELECT 'http://serial.example.com/article/' || doc_id AS url,
       'Serial ' || doc_id AS title,
       trim(regexp_replace(
           left(text, cast(floor(length(text)/2) as int)) || ' ' ||
           substr(text, cast(floor(length(text)/2) as int) + 1),
           '[ \t\r\n]+', ' ', 'g')) AS stitched_text,
       cast(2 as bigint) AS page_count
FROM documents WHERE doc_id % 10 = 0
""",
        "singlepage_replace": """
SELECT 'http://printable.example.com/article/' || doc_id AS url,
       'Printable ' || doc_id AS title,
       trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS full_text
FROM documents WHERE doc_id % 10 = 5
""",
        "extract_spans": """
SELECT doc_id,
       cast(1 as bigint) AS n_spans,
       cast(CASE doc_id % 4 WHEN 0 THEN 39 WHEN 1 THEN 41 WHEN 2 THEN 40 ELSE 41 END
            + length(text) as bigint) AS span_len
FROM documents
""",
        "dedup_exact": """
WITH dup_corpus AS (SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0),
grp AS (
  SELECT trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm,
         count(*) AS dup_count,
         min(doc_id) AS canonical_id,
         list_sort(list(doc_id))[1:10] AS ids
  FROM dup_corpus GROUP BY 1 HAVING count(*) > 1
)
SELECT canonical_id, dup_count, array_to_string(ids, ',') AS sample_ids FROM grp
""",
        "dedup_ngram_jaccard": f"""
WITH {dup_corpus},
{tokens},
sizes AS (SELECT doc, count(*) AS size FROM tokens GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS c
  FROM tokens a JOIN tokens b USING (token)
  WHERE a.doc < b.doc
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(c * 1.0 / (sa.size + sb.size - c), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE c * 1.0 / (sa.size + sb.size - c) >= 0.8
""",
        "dedup_minhash_lsh": f"""
WITH {dup_corpus},
sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(lower(text)) - 5 + 2, 2)),
           i -> substr(lower(text), i::INT, 5))) AS s
  FROM dup_corpus
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.s, b.s)) * 1.0 /
         (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.9
""",
        "dedup_clusters": f"""
WITH RECURSIVE {dup_corpus},
sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(length(lower(text)) - 5 + 2, 2)),
           i -> substr(lower(text), i::INT, 5))) AS s
  FROM dup_corpus
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE len(list_intersect(a.s, b.s)) * 1.0 /
        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.9
),
e AS (SELECT doc_a AS s, doc_b AS d FROM p UNION SELECT doc_b, doc_a FROM p),
reach(node, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT reach.node, e.d FROM reach JOIN e ON reach.r = e.s
)
SELECT node AS doc, min(r) AS canonical FROM reach GROUP BY node
""",
        "dedup_simhash": f"""
WITH {simhash_cte('documents')}
SELECT doc_id AS doc, simhash FROM allsim
""",
        "dedup_keep_best": f"""
WITH RECURSIVE kb_corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text || ' copy edit' FROM documents WHERE doc_id % 50 = 0
),
{simhash_cte('kb_corpus')},
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM allsim a JOIN allsim b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
e AS (SELECT doc_a AS s, doc_b AS d FROM p UNION SELECT doc_b, doc_a FROM p),
reach(node, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT reach.node, e.d FROM reach JOIN e ON reach.r = e.s
),
cl AS (SELECT node AS doc, min(r) AS canonical FROM reach GROUP BY node),
sc AS (SELECT doc_id AS doc, length(text)::BIGINT AS s FROM kb_corpus),
ranked AS (
  SELECT cl.doc, cl.canonical,
         row_number() OVER (PARTITION BY cl.canonical ORDER BY sc.s DESC, cl.doc ASC) AS rn,
         first_value(cl.doc) OVER (PARTITION BY cl.canonical ORDER BY sc.s DESC, cl.doc ASC) AS best
  FROM cl JOIN sc USING (doc)
)
SELECT doc, canonical, best, (rn = 1)::INT AS keep FROM ranked
""",
        "dedup_simhash_pairs": f"""
WITH {dup_corpus},
{simhash_cte('dup_corpus')}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       cast(bit_count(xor(a.simhash, b.simhash)) as BIGINT) AS hamming
FROM allsim a JOIN allsim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
        "text_logprob": """
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS token
  FROM documents
), vocab AS (
  SELECT token, count(*) AS tf FROM toks GROUP BY token
), total AS (SELECT count(*) AS n FROM toks)
SELECT doc, count(*) AS n_tokens,
       round(avg(log10(tf * 1.0 / (SELECT n FROM total))), 6) AS mean_logprob
FROM toks JOIN vocab USING (token)
GROUP BY doc
""",
        "text_fingerprint": """
WITH n AS (
  SELECT doc_id,
         CASE WHEN length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) < 16
              THEN rpad(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), 16, ' ')
              ELSE regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') END AS p
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, length(p) - 16 + 2),
                        i -> ('0x' || substr(md5(substr(p, i::INT, 16)), 1, 15))::BIGINT) AS hs
  FROM n
), m AS (
  SELECT doc_id,
         list_transform(range(0, greatest(floor(len(hs) / 16)::INT, 1)),
                        j -> list_min(hs[(j*16+1)::INT:(j*16+16)::INT])) AS minima
  FROM g
)
SELECT doc_id AS doc,
       ('0x' || substr(md5(array_to_string(minima, ',')), 1, 15))::BIGINT AS fingerprint
FROM m
""",
        "text_repetition": r"""
WITH planted AS (
  SELECT doc_id, CASE WHEN doc_id % 3 = 0
    THEN concat(text, chr(10), chr(10), text, chr(10), chr(10), text)
    ELSE concat(text, chr(10), 'boilerplate line one', chr(10), 'boilerplate line one')
    END AS text
  FROM documents
), base AS (
  SELECT doc_id AS doc,
    length(trim(text)) AS char_count,
    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines,
    list_filter(list_transform(string_split(text, chr(10) || chr(10)), p -> trim(p)), p -> p <> '') AS paras,
    list_filter(string_split_regex(lower(trim(text)), '\s+'), t -> t <> '') AS toks
  FROM planted
), grams AS (
  SELECT doc, char_count, lines, paras,
    list_transform(range(1, greatest(len(toks) - 1, 0) + 1), i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g2,
    list_transform(range(1, greatest(len(toks) - 2, 0) + 1), i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS g3,
    list_transform(range(1, greatest(len(toks) - 4, 0) + 1), i -> array_to_string(list_slice(toks, i, i + 4), ' ')) AS g5
  FROM base
), top AS (
  SELECT doc, max(cnt * length(gram)) AS top_chars FROM (
    SELECT doc, gram, count(*) AS cnt
    FROM (SELECT doc, unnest(g2) AS gram FROM grams)
    GROUP BY doc, gram
  ) GROUP BY doc
)
SELECT g.doc,
  g.char_count::BIGINT AS char_count,
  len(g.lines)::BIGINT AS n_lines,
  CASE WHEN len(g.lines) > 0 THEN round((len(g.lines) - len(list_distinct(g.lines))) / len(g.lines), 6) ELSE 0.0 END AS dup_line_frac,
  CASE WHEN len(g.paras) > 0 THEN round((len(g.paras) - len(list_distinct(g.paras))) / len(g.paras), 6) ELSE 0.0 END AS dup_para_frac,
  CASE WHEN len(g.g2) > 0 THEN round((len(g.g2) - len(list_distinct(g.g2))) / len(g.g2), 6) ELSE 0.0 END AS dup_bigram_frac,
  CASE WHEN len(g.g3) > 0 THEN round((len(g.g3) - len(list_distinct(g.g3))) / len(g.g3), 6) ELSE 0.0 END AS dup_trigram_frac,
  CASE WHEN len(g.g5) > 0 THEN round((len(g.g5) - len(list_distinct(g.g5))) / len(g.g5), 6) ELSE 0.0 END AS dup_5gram_frac,
  CASE WHEN g.char_count > 0 THEN round(coalesce(t.top_chars, 0) / g.char_count, 6) ELSE 0.0 END AS top_bigram_char_frac
FROM grams g LEFT JOIN top t USING (doc)
""",
        "text_gopher": r"""
WITH planted AS (
  SELECT doc_id, CASE WHEN doc_id % 7 = 0
    THEN concat('- bullet item', chr(10), text, '...')
    ELSE text END AS text
  FROM documents
), base AS (
  SELECT doc_id AS doc, trim(text) AS t,
    list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '') AS words,
    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l <> '') AS lines
  FROM planted
), m AS (
  SELECT doc, words, lines,
    len(words) AS n_words,
    CASE WHEN len(words) > 0 THEN list_sum(list_transform(words, w -> length(w))) / len(words) ELSE 0.0 END AS mean_word_len,
    CASE WHEN len(words) > 0 THEN (length(regexp_replace(t, '[^#]', '', 'g')) + len(string_split(t, '...')) - 1) / len(words) ELSE 0.0 END AS symbol_ratio,
    CASE WHEN len(lines) > 0 THEN len(list_filter(lines, l -> starts_with(l, '-') OR starts_with(l, '*') OR starts_with(l, '•'))) / len(lines) ELSE 0.0 END AS bullet_frac,
    CASE WHEN len(lines) > 0 THEN len(list_filter(lines, l -> ends_with(l, '...'))) / len(lines) ELSE 0.0 END AS ellipsis_frac,
    CASE WHEN len(words) > 0 THEN len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) / len(words) ELSE 0.0 END AS alpha_word_frac,
    (list_contains(list_transform(words, w -> lower(w)), 'the')::INT
     + list_contains(list_transform(words, w -> lower(w)), 'of')::INT
     + list_contains(list_transform(words, w -> lower(w)), 'and')::INT
     + list_contains(list_transform(words, w -> lower(w)), 'to')::INT
     + list_contains(list_transform(words, w -> lower(w)), 'in')::INT
     + list_contains(list_transform(words, w -> lower(w)), 'is')::INT) AS stop_hits
  FROM base
)
SELECT doc,
  n_words::BIGINT AS n_words,
  round(mean_word_len, 6) AS mean_word_len,
  round(symbol_ratio, 6) AS symbol_ratio,
  round(bullet_frac, 6) AS bullet_frac,
  round(ellipsis_frac, 6) AS ellipsis_frac,
  round(alpha_word_frac, 6) AS alpha_word_frac,
  stop_hits::BIGINT AS stop_hits,
  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND ellipsis_frac <= 0.3
   AND alpha_word_frac >= 0.8 AND stop_hits >= 2) AS passes_gopher
FROM m
""",
        "pipeline_curate": """
WITH extracted AS (
  SELECT doc_id, trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS text FROM documents
), corpus AS (
  SELECT doc_id, text FROM extracted
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM extracted WHERE doc_id % 10 = 0
), scored AS (
  SELECT doc_id, text,
    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_tokens,
    len(list_filter(string_split_regex(lower(text), '\\s+'), x -> list_contains([{STOP_EN}], x))) AS stop_hits,
    length(text) AS n_chars,
    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
  FROM corpus
), kept AS (
  SELECT doc_id, text FROM scored
  WHERE (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0 END)
      + (CASE WHEN punct * 1.0 / greatest(n_chars, 1) <= 0.2 THEN 0.25 ELSE 0 END)
      + (CASE WHEN stop_hits * 1.0 / greatest(n_tokens, 1) >= 0.05 THEN 0.25 ELSE 0 END)
      + (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END)
      >= 0.5
), survivors AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      row_number() OVER (PARTITION BY regexp_replace(trim(text), '\\s+', ' ', 'g') ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
), packed AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
    (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16) AS bucket
  FROM survivors
)
SELECT doc_id, n_tokens, bucket,
  cast(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - 1) / 512) AS BIGINT) AS bin_id
FROM packed
""".replace("{STOP_EN}", ",".join(f"'{w}'" for w in __import__("graby_spark.operators.textstats", fromlist=["STOPWORDS"]).STOPWORDS["en"])),
        "text_contamination": """
WITH toks AS (
  SELECT doc_id AS doc,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc, i - 1 AS pos,
    ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 12), ' ')), 1, 15))::BIGINT AS gram_hash
  FROM (SELECT doc, unnest(range(1, greatest(len(toks) - 12, 0) + 1)) AS i, toks FROM toks)
), eval_hashes AS (
  SELECT DISTINCT gram_hash FROM grams WHERE doc % 50 = 0
), hits AS (
  SELECT DISTINCT doc, pos FROM grams WHERE gram_hash IN (SELECT gram_hash FROM eval_hashes)
), isl AS (
  SELECT doc, pos, pos - row_number() OVER (PARTITION BY doc ORDER BY pos) AS island FROM hits
)
SELECT doc, min(pos)::BIGINT AS start_tok, (max(pos) + 13)::BIGINT AS end_tok, count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc, island
""",
        "dedup_urls": """
WITH variants AS (
  SELECT doc_id, unnest([
    concat('HTTP://NEWS-', cast(doc_id % 7 AS STRING), '.Example.org/article/', cast(doc_id AS STRING), '?utm_source=feed&ref=1'),
    concat('http://news-', cast(doc_id % 7 AS STRING), '.example.org/article/', cast(doc_id AS STRING), '?ref=1#xtor=RSS-x'),
    concat('http://news-', cast(doc_id % 7 AS STRING), '.example.org/article/', cast(doc_id AS STRING), '?ref=1')
  ]) AS url
  FROM documents
), canon AS (
  SELECT url,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                CASE WHEN regexp_matches(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://')
                  THEN lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
                       || regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '')
                  ELSE url END,
                '#.*$', '', 'g'),
              '&(utm_|mtm_)[^&#]*', '', 'g'),
            '\\?(utm_|mtm_)[^&#]*&', '?', 'g'),
          '\\?(utm_|mtm_)[^&#]*$', '', 'g'),
        '\\?$', '', 'g'),
      '(://[^/?#]+/[^?#]*?)/(\\?|$)', '\\1\\2', 'g') AS canonical_url
  FROM variants
)
SELECT canonical_url, count(*)::BIGINT AS n_urls, min(url) AS first_url
FROM canon GROUP BY canonical_url
""",
        "text_importance": """
WITH toks AS (
  SELECT doc_id AS doc, source,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc, source, array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
  FROM (SELECT doc, source, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS i, toks FROM toks)
), b AS (
  SELECT doc, source, ('0x' || substr(md5(gram), 1, 15))::BIGINT % 10000 AS bucket FROM grams
), sc AS (SELECT bucket, count(*) AS src_n FROM b GROUP BY bucket),
tc AS (SELECT bucket, count(*) AS tgt_n FROM b WHERE source = 'src0' GROUP BY bucket),
ratio AS (
  SELECT bucket,
    log10((coalesce(tgt_n, 0) + 1) / ((SELECT count(*) FROM b WHERE source = 'src0') + 10000.0))
    - log10((coalesce(src_n, 0) + 1) / ((SELECT count(*) FROM b) + 10000.0)) AS log_ratio
  FROM sc FULL JOIN tc USING (bucket)
)
SELECT doc, count(*)::BIGINT AS n_feats, round(sum(log_ratio), 6) AS logweight
FROM b JOIN ratio USING (bucket) GROUP BY doc
""",
        "dedup_substrings": """
WITH planted AS (
  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN concat(text, ' ', 'subscribe to our newsletter for daily updates and follow us on social media for breaking news alerts every single morning') ELSE text END AS text
  FROM documents
), toks AS (
  SELECT doc_id AS doc,
    list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS toks
  FROM planted
), grams AS (
  SELECT doc, i - 1 AS pos,
    ('0x' || substr(md5(array_to_string(list_slice(toks, i, i + 11), ' ')), 1, 15))::BIGINT AS gram_hash
  FROM (SELECT doc, unnest(range(1, greatest(len(toks) - 11, 0) + 1)) AS i, toks FROM toks)
), owned AS (
  SELECT doc, pos,
    row_number() OVER (PARTITION BY gram_hash ORDER BY doc, pos) AS rn,
    count(*) OVER (PARTITION BY gram_hash) AS occ
  FROM grams
), dups AS (
  SELECT DISTINCT doc, pos FROM owned WHERE occ >= 2 AND rn > 1
), isl AS (
  SELECT doc, pos, pos - row_number() OVER (PARTITION BY doc ORDER BY pos) AS island FROM dups
)
SELECT doc, min(pos)::BIGINT AS start_tok, (max(pos) + 12)::BIGINT AS end_tok, count(*)::BIGINT AS n_grams
FROM isl GROUP BY doc, island
""",
        "dedup_paragraphs": r"""
WITH planted AS (
  SELECT doc_id, concat('SHARED HEADER BOILERPLATE', chr(10), chr(10), text, chr(10), chr(10),
    CASE WHEN doc_id % 2 = 0 THEN 'SHARED FOOTER'
    ELSE concat('unique footer ', cast(doc_id AS STRING)) END) AS text
  FROM documents
), base AS (
  SELECT doc_id AS doc,
    list_filter(list_transform(string_split(text, chr(10) || chr(10)), p -> trim(p)), p -> p <> '') AS paras
  FROM planted
), px AS (
  SELECT doc, i - 1 AS idx, paras[i] AS para,
    ('0x' || substr(md5(regexp_replace(paras[i], '\s+', ' ', 'g')), 1, 15))::BIGINT AS para_hash
  FROM (SELECT doc, unnest(range(1, len(paras) + 1)) AS i, paras FROM base)
), owned AS (
  SELECT doc, idx, para, row_number() OVER (PARTITION BY para_hash ORDER BY doc, idx) AS rn FROM px
), rebuilt AS (
  SELECT doc, count(*) AS n_kept, string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text_dedup
  FROM owned WHERE rn = 1 GROUP BY doc
)
SELECT b.doc, len(b.paras)::BIGINT AS n_paras,
  coalesce(r.n_kept, 0)::BIGINT AS n_kept,
  md5(coalesce(r.text_dedup, '')) AS text_md5
FROM base b LEFT JOIN rebuilt r USING (doc)
""",
        "embedding_near_dups_lsh": f"""
WITH {_ND_CORPUS_DUCK},
unitv AS (SELECT vec_id, {unitize} AS u FROM nd_corpus)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(len(a.u)), i -> a.u[i+1] * b.u[i+1])) >= 0.9
""",
        "ann_topk_lsh": f"""
WITH {_ND_CORPUS_DUCK},
q AS (SELECT vec_id, {unitize} AS u FROM nd_corpus WHERE vec_id >= 1000000),
c AS (SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
      FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(len(q.u)), i -> q.u[i+1] * c.u[i+1])), 8) AS cosine
  FROM q CROSS JOIN c
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 1
""",
        "ann_topk_ivf": f"""
WITH {_ND_CORPUS_DUCK},
q AS (SELECT vec_id, {unitize} AS u FROM nd_corpus WHERE vec_id >= 1000000),
c AS (SELECT vec_id,
             list_transform(embedding, x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
      FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(len(q.u)), i -> q.u[i+1] * c.u[i+1])), 8) AS cosine
  FROM q CROSS JOIN c
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 1
""",
        "text_token_stats": """
SELECT doc_id,
       length(trim(text)) AS char_count,
       len(string_split_regex(trim(text), '\\s+')) AS ws_token_count,
       length(regexp_replace(trim(text), '[^.,;:!?]', '', 'g')) AS punct_count,
       length(regexp_replace(trim(text), '[^0-9]', '', 'g')) AS digit_count
FROM documents
""",
        "text_classifier": """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
  FROM documents
),
scored AS (
  SELECT doc_id, len(ts) AS n,
    list_aggregate(list_transform(ts, t ->
      ((('0x' || substr(md5(t), 1, 15))::BIGINT % 1048576)::DOUBLE / 1048575.0) * 2.0 - 1.0
    ), 'sum') AS total
  FROM toks
)
SELECT doc_id AS doc,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN n > 0 THEN round(total / n, 6) END AS logit,
       CASE WHEN n > 0 THEN round(1.0 / (1.0 + exp(-(total / n))), 6) END AS prob,
       coalesce(CASE WHEN n > 0 THEN round(1.0 / (1.0 + exp(-(total / n))), 6) >= 0.5 END, FALSE) AS keep
FROM scored
""",
        "text_classifier_weighted": (
            "WITH w(token, weight) AS (VALUES "
            + ", ".join(
                [f"('{t}', CAST(1.0 AS DOUBLE))" for t in textstats.STOPWORDS["en"]]
                + [f"('{t}', CAST(-1.0 AS DOUBLE))" for t in textstats.STOPWORDS["fr"]]
            )
            + """),
toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents
),
agg AS (
  SELECT t.doc_id, count(*) AS n, sum(coalesce(w.weight, 0.0)) AS total
  FROM toks t LEFT JOIN w USING (token)
  GROUP BY t.doc_id
)
SELECT d.doc_id AS doc,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN a.n > 0 THEN round(a.total / a.n, 6) END AS logit,
       CASE WHEN a.n > 0 THEN round(1.0 / (1.0 + exp(-(a.total / a.n))), 6) END AS prob,
       coalesce(CASE WHEN a.n > 0 THEN round(1.0 / (1.0 + exp(-(a.total / a.n))), 6) >= 0.5 END, FALSE) AS keep
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
"""
        ),
        "text_perplexity": """
WITH ttoks AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents WHERE doc_id % 2 = 0
),
vocab AS (SELECT token, count(*) AS tf FROM ttoks GROUP BY token),
params AS (
  SELECT (SELECT count(*) FROM ttoks) + 0.5 * ((SELECT count(*) FROM vocab) + 1) AS denom
),
lm AS (SELECT token, round(log10((tf + 0.5) / denom), 9) AS logp10 FROM vocab, params),
unk AS (SELECT round(log10(0.5 / denom), 9) AS logp10 FROM params),
stoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents WHERE doc_id % 2 = 1
),
agg AS (
  SELECT s.doc_id, count(*) AS n,
         sum(CAST(round((coalesce(l.logp10, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT)) AS total
  FROM stoks s LEFT JOIN lm l USING (token)
  GROUP BY s.doc_id
)
SELECT d.doc_id AS doc,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN a.n > 0 THEN round(a.total / a.n / 1000000000, 6) END AS mean_logp10,
       CASE WHEN a.n > 0 THEN round(power(10, -(a.total / a.n / 1000000000)), 3) END AS perplexity
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN agg a USING (doc_id)
""",
        "text_perplexity_trigram": """
WITH cdocs AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
  FROM documents WHERE doc_id % 2 = 0
),
ttoks AS (SELECT unnest(ts) AS token FROM cdocs),
vocab AS (SELECT token, count(*) AS tf FROM ttoks GROUP BY token),
params AS (
  SELECT (SELECT count(*) FROM ttoks) + 0.5 * ((SELECT count(*) FROM vocab) + 1) AS denom
),
uni AS (SELECT token, round(log10((tf + 0.5) / denom), 9) AS uni_logp FROM vocab, params),
unk AS (SELECT round(log10(0.5 / denom), 9) AS logp10 FROM params),
bigr AS (
  SELECT u.context AS context1, u.token AS token FROM (
    SELECT unnest(list_transform(ts[2:], (t, i) -> struct_pack(context := ts[i], token := t))) AS u
    FROM cdocs WHERE len(ts) >= 2
  )
),
bic AS (SELECT context1, token, count(*) AS c FROM bigr GROUP BY context1, token),
ctxb AS (SELECT context1, count(*) AS cc FROM bigr GROUP BY context1),
bi AS (SELECT bic.context1, bic.token, round(log10(bic.c * 1.0 / ctxb.cc), 9) AS bi_logp
       FROM bic JOIN ctxb USING (context1)),
trig AS (
  SELECT u.context AS context2, u.token AS token FROM (
    SELECT unnest(list_transform(ts[3:], (t, i) -> struct_pack(context := ts[i] || ' ' || ts[i + 1], token := t))) AS u
    FROM cdocs WHERE len(ts) >= 3
  )
),
tric AS (SELECT context2, token, count(*) AS c FROM trig GROUP BY context2, token),
ctxt AS (SELECT context2, count(*) AS cc FROM trig GROUP BY context2),
tri AS (SELECT tric.context2, tric.token, round(log10(tric.c * 1.0 / ctxt.cc), 9) AS tri_logp
        FROM tric JOIN ctxt USING (context2)),
sdocs AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
  FROM documents WHERE doc_id % 2 = 1
),
stoks AS (
  SELECT doc_id, u.token AS token, u.context1 AS context1, u.context2 AS context2 FROM (
    SELECT doc_id,
           unnest(list_transform(ts, (t, i) -> struct_pack(
             token := t,
             context1 := CASE WHEN i = 1 THEN NULL ELSE ts[i - 1] END,
             context2 := CASE WHEN i <= 2 THEN NULL ELSE ts[i - 2] || ' ' || ts[i - 1] END))) AS u
    FROM sdocs
  )
),
scored AS (
  SELECT s.doc_id,
         CASE WHEN t.tri_logp IS NOT NULL THEN CAST(round((t.tri_logp) * 1000000000) AS BIGINT)
              WHEN s.context2 IS NULL THEN
                CASE WHEN b.bi_logp IS NOT NULL THEN CAST(round((b.bi_logp) * 1000000000) AS BIGINT)
                     WHEN s.context1 IS NULL THEN CAST(round((coalesce(u.uni_logp, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT)
                     ELSE -397940009 + CAST(round((coalesce(u.uni_logp, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT) END
              ELSE -397940009 +
                CASE WHEN b.bi_logp IS NOT NULL THEN CAST(round((b.bi_logp) * 1000000000) AS BIGINT)
                     WHEN s.context1 IS NULL THEN CAST(round((coalesce(u.uni_logp, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT)
                     ELSE -397940009 + CAST(round((coalesce(u.uni_logp, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT) END
         END AS sc
  FROM stoks s
  LEFT JOIN tri t ON s.context2 = t.context2 AND s.token = t.token
  LEFT JOIN bi b ON s.context1 = b.context1 AND s.token = b.token
  LEFT JOIN uni u ON s.token = u.token
),
agg AS (SELECT doc_id, count(*) AS n, sum(sc) AS total FROM scored GROUP BY doc_id)
SELECT d.doc_id AS doc,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN a.n > 0 THEN round(a.total / a.n / 1000000000, 6) END AS mean_logs10,
       CASE WHEN a.n > 0 THEN round(power(10, -(a.total / a.n / 1000000000)), 3) END AS perplexity
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN agg a USING (doc_id)
""",
        # -0.3979400086720376 is python repr(log10(0.4)) — the engine embeds
        # the same pre-computed literal so no libm log10 call can disagree
        "text_perplexity_bigram": """
WITH cdocs AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
  FROM documents WHERE doc_id % 2 = 0
),
ttoks AS (SELECT unnest(ts) AS token FROM cdocs),
vocab AS (SELECT token, count(*) AS tf FROM ttoks GROUP BY token),
params AS (
  SELECT (SELECT count(*) FROM ttoks) + 0.5 * ((SELECT count(*) FROM vocab) + 1) AS denom
),
uni AS (SELECT token, round(log10((tf + 0.5) / denom), 9) AS uni_logp FROM vocab, params),
unk AS (SELECT round(log10(0.5 / denom), 9) AS logp10 FROM params),
bigr AS (
  SELECT u.context AS context, u.token AS token FROM (
    SELECT unnest(list_transform(ts[2:], (t, i) -> struct_pack(context := ts[i], token := t))) AS u
    FROM cdocs WHERE len(ts) >= 2
  )
),
bic AS (SELECT context, token, count(*) AS c FROM bigr GROUP BY context, token),
ctx AS (SELECT context, count(*) AS cc FROM bigr GROUP BY context),
bi AS (SELECT bic.context, bic.token, round(log10(bic.c * 1.0 / ctx.cc), 9) AS bi_logp
       FROM bic JOIN ctx USING (context)),
sdocs AS (
  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
  FROM documents WHERE doc_id % 2 = 1
),
stoks AS (
  SELECT doc_id, u.token AS token, u.context AS context FROM (
    SELECT doc_id,
           unnest(list_transform(ts, (t, i) -> struct_pack(
             token := t,
             context := CASE WHEN i = 1 THEN NULL ELSE ts[i - 1] END))) AS u
    FROM sdocs
  )
),
agg AS (
  SELECT s.doc_id, count(*) AS n,
         sum(CASE WHEN b.bi_logp IS NOT NULL THEN CAST(round((b.bi_logp) * 1000000000) AS BIGINT)
                  WHEN s.context IS NULL THEN CAST(round((coalesce(u.uni_logp, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT)
                  ELSE -397940009 + CAST(round((coalesce(u.uni_logp, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT) END) AS total
  FROM stoks s
  LEFT JOIN bi b ON s.context = b.context AND s.token = b.token
  LEFT JOIN uni u ON s.token = u.token
  GROUP BY s.doc_id
)
SELECT d.doc_id AS doc,
       CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN a.n > 0 THEN round(a.total / a.n / 1000000000, 6) END AS mean_logs10,
       CASE WHEN a.n > 0 THEN round(power(10, -(a.total / a.n / 1000000000)), 3) END AS perplexity
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN agg a USING (doc_id)
""",
        "pipeline_quality": """
WITH ctoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS ts
  FROM documents
),
cls AS (
  SELECT doc_id, len(ts) AS n,
    list_aggregate(list_transform(ts, t ->
      ((('0x' || substr(md5(t), 1, 15))::BIGINT % 1048576)::DOUBLE / 1048575.0) * 2.0 - 1.0
    ), 'sum') AS total
  FROM ctoks
),
cls2 AS (
  SELECT doc_id,
         CASE WHEN n > 0 THEN round(1.0 / (1.0 + exp(-(total / n))), 6) END AS cls_prob,
         coalesce(CASE WHEN n > 0 THEN round(1.0 / (1.0 + exp(-(total / n))), 6) >= 0.5 END, FALSE) AS cls_keep
  FROM cls
),
ttoks AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents WHERE doc_id % 2 = 0
),
vocab AS (SELECT token, count(*) AS tf FROM ttoks GROUP BY token),
params AS (
  SELECT (SELECT count(*) FROM ttoks) + 0.5 * ((SELECT count(*) FROM vocab) + 1) AS denom
),
lm AS (SELECT token, round(log10((tf + 0.5) / denom), 9) AS logp10 FROM vocab, params),
unk AS (SELECT round(log10(0.5 / denom), 9) AS logp10 FROM params),
stoks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM documents
),
pagg AS (
  SELECT s.doc_id, count(*) AS n,
         sum(CAST(round((coalesce(l.logp10, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT)) AS total
  FROM stoks s LEFT JOIN lm l USING (token)
  GROUP BY s.doc_id
),
ppl AS (
  SELECT d.doc_id,
         CASE WHEN a.n > 0 THEN round(power(10, -(a.total / a.n / 1000000000)), 3) END AS perplexity
  FROM documents d LEFT JOIN pagg a USING (doc_id)
)
SELECT c.doc_id AS doc, c.cls_prob, p.perplexity,
       (c.cls_keep AND coalesce(p.perplexity <= 8000.0, FALSE)) AS keep
FROM cls2 c JOIN ppl p USING (doc_id)
""",
        "text_quality": f"""
WITH t AS (
  SELECT doc_id,
         trim(text) AS text,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> list_contains([{stop_en}], x))) AS stop_hits,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
  FROM t
)
SELECT doc_id, n_tokens,
       round(stop_hits * 1.0 / greatest(n_tokens, 1), 6) AS stop_ratio,
       round(
         (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0 END)
       + (CASE WHEN punct * 1.0 / greatest(n_chars, 1) <= 0.2 THEN 0.25 ELSE 0 END)
       + (CASE WHEN stop_hits * 1.0 / greatest(n_tokens, 1) >= 0.05 THEN 0.25 ELSE 0 END)
       + (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END)
       , 2) AS quality
FROM s
""",
        "text_langid": _langid_oracle(),
        "pipeline_ccnet": _ccnet_pipeline_oracle(),
        "feed_discovery": """
SELECT doc_id, '/feed-' || doc_id || '.xml' AS feed_url,
       'application/rss+xml' AS feed_mime
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT doc_id, '/atom-' || doc_id || '.xml', 'application/atom+xml'
FROM documents WHERE doc_id % 3 = 1
""",
        "pipeline_index": search.oracle_bm25_sql(
            ", ".join(
                f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
            ),
            k=10,
            src="chunk_docs",
            id_col="cid",
        ).replace(
            "WITH post AS",
            f"""WITH {expected},
cbase AS (
  SELECT url AS cdoc,
         list_filter(regexp_split_to_array(expected_text, '\\s+'), t -> t <> '') AS toks
  FROM expected
), cwindows AS (
  SELECT cdoc, toks,
         unnest(range(0, greatest(len(toks) - 6, 1), 18)) AS start_token
  FROM cbase
), chunk_docs AS (
  SELECT cdoc || '#' || (start_token // 18) AS cid,
         array_to_string(toks[start_token + 1 : start_token + 24], ' ') AS text
  FROM cwindows
  WHERE len(toks[start_token + 1 : start_token + 24]) > 0
),
post AS""",
            1,
        ),
        "search_bm25": search.oracle_bm25_sql(
            ", ".join(
                f"({qid}, '{t}')" for qid, terms in _BM25_QUERIES for t in terms
            ),
            k=10,
        ),
        "search_phrase": search.oracle_phrase_sql(
            ", ".join(
                f"({qid}, {i}, '{t}', {len(terms)})"
                for qid, terms in _PHRASE_QUERIES
                for i, t in enumerate(terms)
            ),
            src=f"(SELECT doc_id, {_PHRASE_SYNTH} AS text FROM documents) planted",
        ),
        "dedup_boilerplate": f"""
WITH planted AS (
  SELECT doc_id, source, {_BOILER_SYNTH} AS text FROM documents
), base AS (
  SELECT doc_id AS doc, source AS domain,
    list_filter(list_transform(string_split(text, chr(10)), p -> trim(p)), p -> p <> '') AS lines
  FROM planted
), lx AS (
  SELECT doc, domain, i - 1 AS idx, lines[i] AS line,
    ('0x' || substr(md5(regexp_replace(lines[i], '\\s+', ' ', 'g')), 1, 15))::BIGINT AS line_hash
  FROM (SELECT doc, domain, unnest(range(1, len(lines) + 1)) AS i, lines FROM base)
), dsz AS (
  SELECT source AS domain, count(*) AS domain_docs FROM planted GROUP BY 1
), freq AS (
  SELECT domain, line_hash, count(DISTINCT doc) AS n_docs_with FROM lx GROUP BY 1, 2
), boiler AS (
  SELECT f.domain, f.line_hash FROM freq f JOIN dsz USING (domain)
  WHERE n_docs_with >= 2 AND n_docs_with::DOUBLE >= 0.5 * domain_docs::DOUBLE
), kept AS (
  SELECT lx.* FROM lx ANTI JOIN boiler USING (domain, line_hash)
), rebuilt AS (
  SELECT doc, count(*) AS n_kept, string_agg(line, chr(10) ORDER BY idx) AS text_clean
  FROM kept GROUP BY doc
)
SELECT b.doc, len(b.lines)::BIGINT AS n_lines,
  coalesce(r.n_kept, 0)::BIGINT AS n_kept,
  md5(coalesce(r.text_clean, '')) AS clean_md5
FROM base b LEFT JOIN rebuilt r USING (doc)
""",
        "extract_then_quality": r"""
WITH t AS (
  SELECT doc_id,
         trim(regexp_replace(text, '[ \t\r\n]+', ' ', 'g')) AS text
  FROM documents
), tt AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM t
), s AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> list_contains([{STOP_EN}], x))) AS stop_hits,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
  FROM tt
)
SELECT doc_id, n_tokens,
       round(
         (CASE WHEN n_chars BETWEEN 50 AND 20000 THEN 0.25 ELSE 0 END)
       + (CASE WHEN punct * 1.0 / greatest(n_chars, 1) <= 0.2 THEN 0.25 ELSE 0 END)
       + (CASE WHEN stop_hits * 1.0 / greatest(n_tokens, 1) >= 0.05 THEN 0.25 ELSE 0 END)
       + (CASE WHEN (n_chars - (n_tokens - 1)) * 1.0 / n_tokens BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END)
       , 2) AS quality
FROM s
""".replace("{STOP_EN}", ",".join(f"'{w}'" for w in __import__("graby_spark.operators.textstats", fromlist=["STOPWORDS"]).STOPWORDS["en"])),
        "pack_sequences": """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 16) AS bucket
  FROM documents
)
SELECT doc_id, n_tokens, bucket,
       cast(floor((sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) - 1) / 512) as BIGINT) AS bin_id
FROM t
""",
        "sample_mix": """
WITH t AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(doc_id::VARCHAR || '|' || source), 1, 15))::BIGINT % 1000000) / 1000000.0 AS frac,
         CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.25 ELSE 0.1 END AS rate,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 2) AS keep2
  FROM documents
)
SELECT doc_id, source FROM t WHERE frac < rate AND keep2 = 0
""",
        "media_mime_sniff": """
SELECT doc_id AS media_id,
       CASE doc_id % 6 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/jpeg'
            WHEN 2 THEN 'image/gif' WHEN 3 THEN 'audio/wav'
            WHEN 4 THEN 'audio/mpeg'
            ELSE 'application/octet-stream' END AS mime,
       CASE doc_id % 6 WHEN 0 THEN octet_length(encode(text)) + 29
            WHEN 1 THEN octet_length(encode(text)) + 12
            WHEN 2 THEN octet_length(encode(text)) + 10
            WHEN 3 THEN octet_length(encode(text)) + 44
            WHEN 4 THEN octet_length(encode(text)) + 14
            ELSE octet_length(encode(text)) END AS payload_bytes,
       CASE doc_id % 6 WHEN 0 THEN 320 WHEN 1 THEN 128 WHEN 2 THEN 300 END AS width,
       CASE doc_id % 6 WHEN 0 THEN 240 WHEN 1 THEN 64 WHEN 2 THEN 200 END AS height,
       CASE doc_id % 6 WHEN 3 THEN 2000
            WHEN 4 THEN CAST(floor((octet_length(encode(text)) + 4) / 16.0) AS BIGINT)
            END AS duration_ms
FROM documents
""",
        "media_features": """
SELECT doc_id AS media_id, cast(16 as bigint) AS dim FROM documents WHERE doc_id < 200
""",
        "media_png_decode": """
WITH m AS (
  SELECT doc_id AS media_id,
         3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS c
  FROM documents WHERE doc_id % 7 = 0
)
SELECT media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       CAST(c AS BIGINT) AS channels,
       list_aggregate(
         list_transform(range(w * h * c),
                        j -> CAST((media_id * 31 + j) % 256 AS DOUBLE)),
         'avg') AS mean_pixel
FROM m
""",
        "media_gif_decode": """
WITH m AS (
  SELECT doc_id AS media_id,
         3 + doc_id % 6 AS w, 2 + doc_id % 5 AS h, 4 + doc_id % 5 AS ncol
  FROM documents WHERE doc_id % 7 = 0
)
SELECT media_id,
       CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       list_aggregate(
         list_transform(range(w * h * 3),
                        q -> CAST((media_id * 7 + ((media_id * 13 + (q // 3)) % ncol) * 3 + (q % 3)) % 256 AS DOUBLE)),
         'avg') AS mean_pixel
FROM m
""",
        "media_phash_dedup": f"""
WITH {_PHASH_CAND_CTES}
SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 4
""",
        "media_phash_clusters": f"""
WITH RECURSIVE {_PHASH_CAND_CTES},
p AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(ha, hb)) <= 4),
e AS (SELECT doc_a AS s, doc_b AS d FROM p UNION SELECT doc_b, doc_a FROM p),
reach(node, r) AS (
  SELECT s, s FROM e
  UNION
  SELECT reach.node, e.d FROM reach JOIN e ON reach.r = e.s
)
SELECT node AS doc, min(r) AS canonical FROM reach GROUP BY node
""",
        "media_mp4_meta": """
SELECT doc_id AS media_id,
       'video/mp4' AS mime,
       CAST(160 + (doc_id % 5) * 16 AS BIGINT) AS width,
       CAST(90 + (doc_id % 3) * 30 AS BIGINT) AS height,
       CAST(1000 + (doc_id * 7) % 60000 AS BIGINT) AS duration_ms
FROM documents WHERE doc_id % 7 = 0
""",
        "media_resize": """
WITH m AS (
  SELECT doc_id AS media_id,
         3 + doc_id % 6 AS sw, 2 + doc_id % 5 AS sh,
         CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END AS c
  FROM documents WHERE doc_id % 7 = 0
)
SELECT media_id,
       CAST(4 AS BIGINT) AS width, CAST(3 AS BIGINT) AS height,
       CAST(c AS BIGINT) AS channels,
       list_aggregate(
         list_transform(range(3 * 4 * c),
           q -> CAST((media_id * 31 +
                      (((q // (4 * c)) * sh // 3) * sw + (((q // c) % 4) * sw // 4)) * c
                      + (q % c)) % 256 AS DOUBLE)),
         'avg') AS mean_pixel
FROM m
""",
        "media_audio_features": """
WITH m AS (
  SELECT doc_id AS media_id, 20 + doc_id % 50 AS nn, 1 + doc_id % 2 AS ch
  FROM documents WHERE doc_id % 7 = 0
),
wins AS (
  SELECT media_id, nn, ch, unnest(range((nn + 15) // 16)) AS w FROM m
)
SELECT media_id,
       CAST(w AS BIGINT) AS window,
       CAST(least(16, nn - w * 16) AS BIGINT) AS n,
       sqrt(list_aggregate(
         list_transform(range(least(16, nn - w * 16)),
           k -> CAST(((media_id * 17 + (w * 16 + k) * ch) * 97) % 4001 - 2000 AS DOUBLE) ** 2),
         'avg')) AS rms,
       CAST(coalesce(list_aggregate(
         list_transform(range(least(16, nn - w * 16) - 1),
           k -> CASE WHEN ((((media_id * 17 + (w * 16 + k + 1) * ch) * 97) % 4001 - 2000) >= 0)
                      != ((((media_id * 17 + (w * 16 + k) * ch) * 97) % 4001 - 2000) >= 0)
                THEN 1 ELSE 0 END),
         'sum'), 0) AS BIGINT) AS zcr
FROM wins
""",
        "media_gif_frames": """
WITH m AS (
  SELECT doc_id AS media_id, 6 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
         4 + doc_id % 5 AS ncol, 3 + doc_id % 4 AS nf
  FROM documents WHERE doc_id % 13 = 0
),
fr AS (SELECT media_id, w, h, ncol, nf, unnest([0, 2, 4]) AS f FROM m)
SELECT media_id,
       CAST(f AS BIGINT) AS frame_no,
       CAST(f * 250 AS BIGINT) AS ts_ms,
       list_aggregate(
         list_transform(range(w * h * 3),
           q -> CAST((media_id * 7 + 3 * ((media_id * 13 + f * 5 + (q // 3)) % ncol) + (q % 3)) % 256 AS DOUBLE)),
         'avg') AS mean_pixel
FROM fr WHERE f < nf
""",
        "media_avi_frames": """
WITH m AS (
  SELECT doc_id AS media_id,
         (1 + doc_id % 3) * (1 + doc_id % 2) AS nb,
         3 + doc_id % 4 AS nf
  FROM documents WHERE doc_id % 11 = 0
),
fr AS (SELECT media_id, nb, nf, unnest([0, 2, 4]) AS f FROM m)
SELECT media_id,
       CAST(f AS BIGINT) AS frame_no,
       CAST(f * 250 AS BIGINT) AS ts_ms,
       list_aggregate(
         list_transform(range(nb),
                        k -> CAST((media_id * 11 + f * 17 + k) % 256 AS DOUBLE)),
         'avg') AS mean_pixel
FROM fr WHERE f < nf
""",
        "pipeline_media": """
WITH m AS (
  SELECT doc_id AS media_id, (doc_id // 5) % 7 AS kind
  FROM documents WHERE doc_id % 5 = 0
)
SELECT media_id,
       CAST(kind AS BIGINT) AS kind,
       CASE kind WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/gif'
                 WHEN 2 THEN 'image/jpeg' WHEN 3 THEN 'audio/wav'
                 WHEN 4 THEN 'video/mp4' WHEN 5 THEN 'video/x-msvideo'
                 ELSE 'image/webp' END AS mime,
       CAST(CASE kind WHEN 0 THEN 4 + media_id % 5
                      WHEN 1 THEN 5 + media_id % 4
                      WHEN 2 THEN 8 * (1 + media_id % 3)
                      WHEN 4 THEN 160 + (media_id % 5) * 16
                      WHEN 5 THEN 8 * (1 + media_id % 3)
                      WHEN 6 THEN 10 + media_id % 6 END AS BIGINT) AS width,
       CAST(CASE kind WHEN 0 THEN 3 + media_id % 4
                      WHEN 1 THEN 2 + media_id % 3
                      WHEN 2 THEN 8
                      WHEN 4 THEN 90 + (media_id % 3) * 30
                      WHEN 5 THEN 8
                      WHEN 6 THEN 5 + media_id % 5 END AS BIGINT) AS height,
       CAST(CASE kind WHEN 3 THEN ((40 + media_id % 30) * 1000) // 8000
                      WHEN 4 THEN 1000 + (media_id * 7) % 60000
                      WHEN 5 THEN (2 + media_id % 5) * 250 END AS BIGINT) AS duration_ms
FROM m
""",
        "media_g711_decode": """
WITH m AS (
  SELECT doc_id AS media_id, 60 + doc_id % 40 AS n
  FROM documents WHERE doc_id % 9 = 0
),
s AS (SELECT media_id, n, unnest(range(n)) AS k FROM m),
e AS (
  SELECT media_id, n, (media_id * 31 + k * 7) % 256 AS u,
         CASE WHEN media_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS law
  FROM s
),
v AS (
  SELECT media_id, n, law,
    CASE WHEN law = 'mulaw' THEN
      CASE WHEN (255 - u) >= 128
           THEN 132 - ((((255 - u) % 16) * 8 + 132) << (((255 - u) // 16) % 8))
           ELSE ((((255 - u) % 16) * 8 + 132) << (((255 - u) // 16) % 8)) - 132 END
    ELSE
      CASE WHEN xor(u, 85) >= 128 THEN -1 ELSE 1 END *
      (CASE WHEN ((xor(u, 85) // 16) % 8) = 0
            THEN (xor(u, 85) % 16) * 16 + 8
            ELSE (((xor(u, 85) % 16) * 16 + 264) << (((xor(u, 85) // 16) % 8) - 1)) END)
    END AS x
  FROM e
)
SELECT media_id, law,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_frames,
       sum(x) / CAST(n AS DOUBLE) AS mean_sample,
       sqrt(sum(x * x) / CAST(n AS DOUBLE)) AS rms
FROM v GROUP BY media_id, law, n
""",
        "media_jpeg_decode": """
WITH m AS (
  SELECT doc_id AS media_id,
         1 + doc_id % 3 AS nbx, 1 + doc_id % 2 AS nby
  FROM documents WHERE doc_id % 7 = 0
)
SELECT media_id,
       'jpeg' AS format,
       CAST(media_id % 2 AS BIGINT) AS progressive,
       CAST(nbx * 8 AS BIGINT) AS width,
       CAST(nby * 8 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS channels,
       list_aggregate(
         list_transform(range(nbx * nby),
                        k -> CAST((media_id * 11 + k) % 256 AS DOUBLE)),
         'avg') AS mean_pixel
FROM m
""",
        "media_wav_decode": """
WITH m AS (
  SELECT doc_id AS media_id,
         20 + doc_id % 50 AS n, 1 + doc_id % 2 AS ch,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM documents WHERE doc_id % 7 = 0
)
SELECT media_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_frames,
       CAST(ch AS BIGINT) AS channels,
       list_aggregate(
         list_transform(range(n * ch),
                        j -> CAST(((media_id * 17 + j) * 97) % 4001 - 2000 AS DOUBLE)),
         'avg') AS mean_sample,
       sqrt(list_aggregate(
         list_transform(range(n * ch),
                        j -> CAST((((media_id * 17 + j) * 97) % 4001 - 2000) AS DOUBLE) ** 2),
         'avg')) AS rms
FROM m
""",
        "embedding_near_dups": """
WITH unitv AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM unitv a JOIN unitv b ON a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(len(a.u)), i -> a.u[i+1] * b.u[i+1])) >= 0.4
""",
        "ann_topk": """
WITH unitv AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE / sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS u
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         round(list_sum(list_transform(range(len(q.u)), i -> q.u[i+1] * n.u[i+1])), 8) AS cosine
  FROM unitv q JOIN unitv n ON q.vec_id <> n.vec_id
  WHERE q.vec_id < 10
), ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
""",
        "agg_lineitem_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
        "stream_dedup": """
WITH pages AS (
  SELECT 'http://d.example.com/' || doc_id AS url,
         TIMESTAMP '2024-01-01' + to_seconds(doc_id) AS warc_ts,
         text
  FROM documents
  UNION ALL
  SELECT 'http://mirror.example.com/' || doc_id,
         TIMESTAMP '2024-01-01' + to_seconds(doc_id + 5000),
         text
  FROM documents WHERE doc_id % 10 = 0
), ranked AS (
  SELECT url,
         row_number() OVER (
           PARTITION BY trim(regexp_replace(text, '\\s+', ' ', 'g'))
           ORDER BY warc_ts, url
         ) AS rn
  FROM pages
)
SELECT url FROM ranked WHERE rn = 1
""",
        "events_windowed": """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
        "events_sessionize": """
WITH g AS (
  SELECT user_id, ts, value,
    CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 3600
         THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id, ts, value,
    sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM g
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       cast(count(*) as int) AS events, round(sum(value), 4) AS total_value
FROM s GROUP BY user_id, sid
""",
        "join_orders_by_nation": """
SELECT n_name, count(*) AS order_count, round(sum(o_totalprice), 2) AS total_price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""",
    }


def _ccnet_pipeline_oracle() -> str:
    """Replay the whole composed CCNet chain in DuckDB: paragraph dedup
    (ownership by row_number over corpus order), add-k unigram LM on the
    deduped even half, integer-nano perplexity on the deduped odd half,
    stopword-vote langid on the deduped text, ntile(3) per detected
    language."""
    from graby_spark.operators.textstats import STOPWORDS

    def hits(lang: str) -> str:
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_filter(toks, x -> list_contains([{words}], x)))"

    return f"""
WITH planted AS (
  SELECT doc_id, concat('SHARED HEADER BOILERPLATE', chr(10), chr(10), text, chr(10), chr(10),
    CASE WHEN doc_id % 2 = 0 THEN 'SHARED FOOTER'
    ELSE concat('unique footer ', cast(doc_id AS STRING)) END) AS text
  FROM documents
), base AS (
  SELECT doc_id AS doc,
    list_filter(list_transform(string_split(text, chr(10) || chr(10)), p -> trim(p)), p -> p <> '') AS paras
  FROM planted
), px AS (
  SELECT doc, i - 1 AS idx, paras[i] AS para,
    ('0x' || substr(md5(regexp_replace(paras[i], '\\s+', ' ', 'g')), 1, 15))::BIGINT AS para_hash
  FROM (SELECT doc, unnest(range(1, len(paras) + 1)) AS i, paras FROM base)
), owned AS (
  SELECT doc, idx, para, row_number() OVER (PARTITION BY para_hash ORDER BY doc, idx) AS rn FROM px
), rebuilt AS (
  SELECT doc, count(*) AS n_kept, string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text_dedup
  FROM owned WHERE rn = 1 GROUP BY doc
), dd AS (
  SELECT b.doc, len(b.paras)::BIGINT AS n_paras, coalesce(r.n_kept, 0)::BIGINT AS n_kept,
         coalesce(r.text_dedup, '') AS text
  FROM base b LEFT JOIN rebuilt r USING (doc)
), ttoks AS (
  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM dd WHERE doc % 2 = 0
), vocab AS (SELECT token, count(*) AS tf FROM ttoks GROUP BY token),
params AS (
  SELECT (SELECT count(*) FROM ttoks) + 0.5 * ((SELECT count(*) FROM vocab) + 1) AS denom
),
lm AS (SELECT token, round(log10((tf + 0.5) / denom), 9) AS logp10 FROM vocab, params),
unk AS (SELECT round(log10(0.5 / denom), 9) AS logp10 FROM params),
stoks AS (
  SELECT doc, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '')) AS token
  FROM dd WHERE doc % 2 = 1
),
agg AS (
  SELECT s.doc, count(*) AS n,
         sum(CAST(round((coalesce(l.logp10, (SELECT logp10 FROM unk))) * 1000000000) AS BIGINT)) AS total
  FROM stoks s LEFT JOIN lm l USING (token)
  GROUP BY s.doc
),
lt AS (
  SELECT doc, lower(trim(text)) AS text,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
  FROM dd WHERE doc % 2 = 1
), ls AS (
  SELECT doc,
         {hits('en')} AS en_hits, {hits('fr')} AS fr_hits,
         {hits('es')} AS es_hits, {hits('de')} AS de_hits,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
         length(text) AS n
  FROM lt
), lg AS (
  SELECT doc,
         CASE WHEN cjk * 4 > n THEN 'zh'
              WHEN greatest(en_hits, fr_hits, es_hits, de_hits) = 0 THEN 'unknown'
              WHEN en_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'en'
              WHEN fr_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'fr'
              WHEN es_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'es'
              ELSE 'de' END AS lang
  FROM ls
), ppl AS (
  SELECT d.doc, lg.lang, coalesce(a.n, 0)::BIGINT AS n_tokens,
         CASE WHEN a.n > 0 THEN round(power(10, -(a.total / a.n / 1000000000)), 3) END AS perplexity
  FROM (SELECT doc FROM dd WHERE doc % 2 = 1) d
  LEFT JOIN agg a USING (doc)
  JOIN lg USING (doc)
), tiled AS (
  SELECT doc, lang, n_tokens, perplexity,
         ntile(3) OVER (PARTITION BY lang ORDER BY perplexity ASC NULLS LAST, doc) AS tile
  FROM ppl
)
SELECT t.doc, t.lang, t.perplexity,
       CASE t.tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       t.n_tokens, dd.n_paras, dd.n_kept
FROM tiled t JOIN dd ON t.doc = dd.doc
"""


def _langid_oracle() -> str:
    from graby_spark.operators.textstats import STOPWORDS

    def hits(lang: str) -> str:
        words = ",".join(f"'{w}'" for w in STOPWORDS[lang])
        return f"len(list_filter(toks, x -> list_contains([{words}], x)))"

    return f"""
WITH t AS (
  SELECT doc_id,
         lower(trim(text)) AS text,
         list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         {hits('en')} AS en_hits, {hits('fr')} AS fr_hits,
         {hits('es')} AS es_hits, {hits('de')} AS de_hits,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
         length(text) AS n
  FROM t
)
SELECT doc_id, en_hits, fr_hits,
       CASE WHEN cjk * 4 > n THEN 'zh'
            WHEN greatest(en_hits, fr_hits, es_hits, de_hits) = 0 THEN 'unknown'
            WHEN en_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'en'
            WHEN fr_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'fr'
            WHEN es_hits = greatest(en_hits, fr_hits, es_hits, de_hits) THEN 'es'
            ELSE 'de' END AS lang_guess
FROM s
"""

"""Common-Crawl-style CDX(J) index source.

A crawl index is the upstream of every WARC read: pipelines first scan the
(tiny, per-capture) CDX lines to decide *which* records to fetch, then read
only those (filename, offset, length) ranges from the archives.  This
module gives the engine that planning step:

- :func:`surt_key` — canonical SURT url key as a pure JVM expression,
- :func:`cdx_records` — parse ``urlkey timestamp {json}`` CDXJ lines into a
  typed table, entirely with JVM string/JSON expressions (zero Python in
  the hot path; a 10^12-capture index stays whole-stage-codegen),
- :func:`cdx_select_latest` — filter + latest-capture-per-urlkey fetch
  plan (one shuffle on urlkey, window rank inside the partition),
- :func:`build_cdx_lines` — deterministic synthetic index derived from
  ``documents.parquet`` for tests/oracles (multi-capture, mixed status and
  mime, www-prefixed hosts so SURT folding is exercised).

Reference parity: graby fetches live URLs one at a time
(src/HttpClient/HttpClient.php); at corpus scale the equivalent input
selection is exactly this index scan, so the operator is the Spark-first
re-expression of "choose which page bytes to extract".

Scale notes: parsing is line-local (narrow), so the index scan inherits
parquet/text split parallelism.  ``cdx_select_latest`` shuffles once on
urlkey; captures per url are bounded (revisit counts), so no skew salt is
needed — a pathological url with millions of captures would be handled by
AQE skew-join, and the window only keeps rank 1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

# JSON payload of one CDXJ line (the Common Crawl cc-index field set we
# care about for fetch planning).
CDX_JSON_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("mime", StringType()),
        StructField("status", StringType()),
        StructField("digest", StringType()),
        StructField("length", StringType()),
        StructField("offset", StringType()),
        StructField("filename", StringType()),
    ]
)


def surt_key(url: Column | str) -> Column:
    """Canonical SURT url key (``com,example)/path``) as a JVM expression.

    Lowercases, strips the scheme and a single leading ``www.`` label,
    reverses the host labels comma-joined, and appends ``)`` + path
    (query string kept verbatim, default path ``/``).  Userinfo/port
    handling is intentionally out of scope for the synthetic corpus.
    """
    col = F.col(url) if isinstance(url, str) else url
    rest = F.regexp_replace(F.lower(col), r"^[a-z][a-z0-9+.-]*://", "")
    host = F.substring_index(rest, "/", 1)
    # path = everything from the first '/' (default '/'): strip the host
    # prefix we just isolated
    path = F.when(
        F.length(rest) > F.length(host),
        F.substring(rest, F.length(host) + 1, F.lit(2**30)),
    ).otherwise(F.lit("/"))
    host = F.regexp_replace(host, r"^www\.", "")
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","), F.lit(")"), path
    )


def cdx_records(df: DataFrame) -> DataFrame:
    """Parse CDXJ lines → one typed row per capture.

    Line shape: ``{urlkey} {ts14} {json}`` — urlkey up to the first space,
    then a 14-digit ``yyyyMMddHHmmss`` timestamp, then a JSON object.
    Malformed lines (no JSON object / non-numeric status) yield NULLs in
    the affected columns rather than failing the scan.
    """
    line = F.col("line")
    urlkey = F.substring_index(line, " ", 1)
    rest = F.substring(line, F.length(urlkey) + 2, F.lit(2**30))
    ts14 = F.substring(rest, 1, 14)
    payload = F.substring(rest, 16, F.lit(2**30))
    parsed = F.from_json(payload, CDX_JSON_SCHEMA)
    return df.select(
        urlkey.alias("urlkey"),
        ts14.alias("ts"),
        parsed["url"].alias("url"),
        parsed["mime"].alias("mime"),
        parsed["status"].cast("int").alias("status"),
        parsed["digest"].alias("digest"),
        parsed["length"].cast("long").alias("length"),
        parsed["offset"].cast("long").alias("offset"),
        parsed["filename"].alias("filename"),
    )


def cdx_select_latest(
    records: DataFrame,
    mimes: tuple[str, ...] | None = None,
) -> DataFrame:
    """Latest eligible (HTTP 200) capture per urlkey → the WARC fetch plan.

    Filter first (status/mime predicates push into the scan), then a
    single shuffle on ``urlkey`` with a window rank ordered by capture
    timestamp descending; ``(filename, offset)`` breaks exact-timestamp
    ties deterministically.
    """
    out = records.where(F.col("status") == 200)
    if mimes is not None:
        out = out.where(F.col("mime").isin(*mimes))
    w = (
        Window.partitionBy("urlkey")
        .orderBy(F.col("ts").desc(), F.col("filename").desc(), F.col("offset").desc())
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
    )


def build_cdx_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic CDXJ index derived from ``documents.parquet``.

    Each document gets ``doc_id % 3 + 1`` captures one day apart; capture
    ``k`` is HTTP 503 when ``(doc_id + k) % 7 == 3`` (so some single-
    capture docs have *no* eligible capture at all), mime flips to
    ``application/pdf`` when ``doc_id % 11 == 0``, and even doc_ids get a
    ``www.`` host prefix that SURT folding must strip.  Entirely JVM
    expressions — synthesis is itself a distributed job.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    caps = docs.select(
        "doc_id",
        "text",
        "n_chars",
        F.explode(F.expr("sequence(0, cast(doc_id % 3 AS int))")).alias("k"),
    )
    host = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("cdx-"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example.com"),
    )
    url = F.concat(
        F.lit("http://"), host, F.lit("/page/"), F.col("doc_id").cast("string")
    )
    ts14 = F.date_format(
        F.expr(
            "timestamp'2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, 0, doc_id * 7 + k * 86400)"
        ),
        "yyyyMMddHHmmss",
    )
    status = F.when((F.col("doc_id") + F.col("k")) % 7 == 3, F.lit("503")).otherwise(
        F.lit("200")
    )
    mime = F.when(F.col("doc_id") % 11 == 0, F.lit("application/pdf")).otherwise(
        F.lit("text/html")
    )
    payload = F.to_json(
        F.struct(
            url.alias("url"),
            mime.alias("mime"),
            status.alias("status"),
            F.md5(F.col("text")).alias("digest"),
            (F.col("n_chars") + 100).cast("string").alias("length"),
            (F.col("doc_id") * 1000 + F.col("k") * 200).cast("string").alias("offset"),
            F.concat(
                F.lit("crawl-"), (F.col("doc_id") % 4).cast("string"), F.lit(".warc.gz")
            ).alias("filename"),
        )
    )
    line = F.concat_ws(" ", surt_key(url), ts14, payload)
    return caps.select(line.alias("line"))


def cdx_incremental(plan: DataFrame, seen: DataFrame) -> DataFrame:
    """Incremental recrawl planning: which of the index's latest captures
    actually need fetching, given what a previous run already extracted.

    ``plan`` is :func:`cdx_select_latest` output; ``seen`` carries
    (urlkey, digest) from the prior extraction manifest.  A capture is
    fetched when its urlkey is new OR its content digest changed —
    unchanged pages (the overwhelming majority between crawls) never
    leave the index scan.  Output adds ``fetch_reason`` ∈ {new, changed}.

    Scale shape: one left join keyed on urlkey.  Both sides are
    index-sized (urlkey + digest — never page bytes).
    """
    s = seen.select("urlkey", F.col("digest").alias("_seen_digest"))
    joined = plan.join(s, "urlkey", "left")
    reason = F.when(F.col("_seen_digest").isNull(), F.lit("new")).when(
        F.col("_seen_digest") != F.col("digest"), F.lit("changed")
    )
    return (
        joined.withColumn("fetch_reason", reason)
        .where(F.col("fetch_reason").isNotNull())
        .drop("_seen_digest")
    )

"""RSS 2.0 / Atom feed source.

Graby's real-world upstream is an RSS reader (wallabag et al.) handing it
entry URLs; this module gives the engine that ingestion step as a table
operator: feeds come in as XML blobs, entries come out as typed rows ready
for the extraction pipeline.

Design:

- :func:`feed_entries` — JVM ``xpath``/``xpath_boolean`` expressions
  (whole-stage codegen): RSS vs Atom dispatch on ``boolean(/rss)``,
  namespace-agnostic ``local-name()`` paths for Atom, document-order
  field arrays zipped + posexploded into one row per entry.
- Spark's xpath expression fails the whole job on a parse error, so
  :func:`feed_entries` first drops NULL and malformed feeds through an
  Arrow-vectorized gate (``xml.etree`` parse attempt per value).  That
  gate is the one Python stage, applied once to the (small) feed table,
  not per entry.
- Per-entry field alignment: xpath returns one array per field in document
  order; an entry missing a field would shift later entries' values.  Rows
  carry ``aligned`` (all field arrays same length) so consumers can drop
  or re-parse misaligned feeds instead of silently mis-zipping.
- Dates are normalized to ISO-8601 *strings* with pure string transforms
  (RFC-822 month-name map) — no timestamp parsing, so the result is
  independent of session timezone and JVM locale.

Scale: feeds are line-item-small next to page bodies; parse is row-local
(narrow, inherits scan parallelism, no shuffle).  A 10^9-feed scan stays
entirely in the JVM.

Reference parity: graby consumes one entry URL at a time
(src/Graby.php:fetchContent); the feed fan-out lives in its callers.  This
is that fan-out, Spark-first.
"""

from __future__ import annotations

# top-level so the pandas_udf's stringified 'pd.Series' annotations resolve
# against module globals when the udf is built inside a function body
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

ENTRIES_PER_FEED = 5

_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def _wellformed() -> Column:
    """True where ``xml`` parses as XML: the gate :func:`feed_entries`
    applies before any xpath, which would fail the job on a bad row."""
    @pandas_udf("boolean")
    def _ok(xml: pd.Series) -> pd.Series:
        import xml.etree.ElementTree as ET

        def check(v):
            if v is None:
                return False
            try:
                ET.fromstring(v)
                return True
            except ET.ParseError:
                return False

        return xml.map(check)

    return _ok(F.col("xml"))


def _rfc822_to_iso(date: Column) -> Column:
    """``Mon, 01 Jan 2024 05:00:00 GMT`` → ``2024-01-01T05:00:00Z``.

    Pure string surgery: tokenize, pad the day, look the month up in a
    literal map.  Unrecognized shapes pass through unchanged (Atom dates
    are already ISO)."""
    parts = F.split(F.regexp_replace(F.trim(date), ",", ""), r"\s+")
    month_map = F.create_map(
        *[F.lit(x) for pair in zip(_MONTHS, [f"{i:02d}" for i in range(1, 13)])
          for x in pair]
    )
    iso = F.concat(
        parts[3], F.lit("-"),
        month_map[parts[2]], F.lit("-"),
        F.lpad(parts[1], 2, "0"), F.lit("T"),
        parts[4], F.lit("Z"),
    )
    looks_rfc822 = date.rlike(r"^[A-Za-z]{3},\s+\d{1,2}\s+[A-Za-z]{3}\s+\d{4}")
    return F.when(looks_rfc822, iso).otherwise(F.trim(date))


def feed_entries(df: DataFrame) -> DataFrame:
    """One row per feed entry: (feed_title, kind, pos, title, link,
    published, summary, aligned).

    ``published`` is ISO-8601; ``aligned`` is false when the per-field
    document-order arrays disagree in length (entry missing a field) —
    those rows' zipped values are positionally suspect by construction.
    A NULL or malformed ``xml`` value yields no entries.
    """
    def xp(path: str) -> Column:
        return F.expr(f'xpath(xml, "{path}")')

    is_rss = F.expr("xpath_boolean(xml, 'boolean(/rss)')")

    ent = "*[local-name()='entry']"
    atom_link = (
        f"/*[local-name()='feed']/{ent}"
        "/*[local-name()='link'][not(@rel) or @rel='alternate'][1]/@href"
    )
    titles = F.when(is_rss, xp("/rss/channel/item/title/text()")).otherwise(
        xp(f"/*[local-name()='feed']/{ent}/*[local-name()='title']/text()")
    )
    links = F.when(is_rss, xp("/rss/channel/item/link/text()")).otherwise(
        xp(atom_link)
    )
    dates = F.when(is_rss, xp("/rss/channel/item/pubDate/text()")).otherwise(
        xp(f"/*[local-name()='feed']/{ent}/*[local-name()='updated']/text()")
    )
    summaries = F.when(
        is_rss, xp("/rss/channel/item/description/text()")
    ).otherwise(xp(f"/*[local-name()='feed']/{ent}/*[local-name()='summary']/text()"))
    feed_title = F.element_at(
        F.when(is_rss, xp("/rss/channel/title/text()")).otherwise(
            xp("/*[local-name()='feed']/*[local-name()='title']/text()")
        ),
        1,
    )

    base = df.where(_wellformed()).select(
        feed_title.alias("feed_title"),
        F.when(is_rss, F.lit("rss")).otherwise(F.lit("atom")).alias("kind"),
        titles.alias("_t"),
        links.alias("_l"),
        dates.alias("_d"),
        summaries.alias("_s"),
    ).withColumn(
        "aligned",
        (F.size("_t") == F.size("_l"))
        & (F.size("_t") == F.size("_d"))
        & (F.size("_t") == F.size("_s")),
    )
    exploded = base.select(
        "feed_title",
        "kind",
        "aligned",
        F.posexplode(F.arrays_zip("_t", "_l", "_d", "_s")).alias("pos", "e"),
    )
    return exploded.select(
        "feed_title",
        "kind",
        F.col("pos").cast("long").alias("pos"),
        F.col("e._t").alias("title"),
        F.col("e._l").alias("link"),
        _rfc822_to_iso(F.col("e._d")).alias("published"),
        F.col("e._s").alias("summary"),
        "aligned",
    )


def feed_autodiscovery(df: DataFrame) -> DataFrame:
    """Feed autodiscovery over HTML pages: ``<link rel="alternate"
    type="application/rss+xml|atom+xml" href=…>`` → (feed_url, feed_mime).

    JVM regex over the raw HTML, attribute-order independent: ALL
    ``<link …>`` tags are extracted first, then filtered by separate
    rel/type predicates, so ``type=`` before ``rel=`` (common in the
    wild) matches too.  Narrow, no shuffle."""
    tag = F.regexp_extract_all(
        F.col("html"), F.lit(r"(?i)(<link\b[^>]*>)"), 1
    )
    out = df.withColumn("_tag", F.explode(tag)).where(
        F.col("_tag").rlike(r"""(?i)rel=["']alternate["']""")
        & F.col("_tag").rlike(
            r"""(?i)type=["']application/(?:rss|atom)\+xml["']"""
        )
    )
    return out.select(
        *[c for c in df.columns if c != "html"],
        F.regexp_extract(F.col("_tag"), r"""(?i)href=["']([^"']+)["']""", 1).alias(
            "feed_url"
        ),
        F.regexp_extract(
            F.col("_tag"), r"""(?i)type=["'](application/(?:rss|atom)\+xml)["']""", 1
        ).alias("feed_mime"),
    ).where(F.col("feed_url") != "")


def _xml_escape(col: Column) -> Column:
    return F.replace(
        F.replace(F.replace(col, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )


def build_feed_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic feeds from ``documents.parquet``.

    Document ``doc_id`` becomes entry ``doc_id % ENTRIES_PER_FEED`` of feed
    ``doc_id // ENTRIES_PER_FEED``; even feeds are RSS 2.0 (RFC-822
    pubDate), odd feeds are Atom (default namespace, ISO updated, href on
    a rel=alternate link).  Summaries carry the XML-escaped first 80 chars
    of the document text so the parse must round-trip entity escaping.
    Entirely JVM: per-entry XML strings grouped per feed with an ordered
    ``sort_array(collect_list(struct(...)))`` concat.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    d = docs.withColumn("feed_id", (F.col("doc_id") / ENTRIES_PER_FEED).cast("long"))
    # offsets stay inside Jan 1-3 (no DST transition in range): Spark
    # renders timestamps in the session zone, DuckDB's oracle arithmetic
    # is naive — they only agree while no zone transition is crossed
    ts = F.expr(
        "timestamp'2024-01-01 00:00:00'"
        " + make_interval(0, 0, 0, 0, 0, 0, (doc_id % 2880) * 60)"
    )
    # RFC-822 via literal maps — independent of JVM locale
    dow_map = F.create_map(
        *[F.lit(x) for pair in zip(
            [str(i) for i in range(1, 8)],
            ["Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat"],
        ) for x in pair]
    )
    mon_map = F.create_map(
        *[F.lit(x) for pair in zip([str(i) for i in range(1, 13)], _MONTHS)
          for x in pair]
    )
    rfc = F.concat(
        dow_map[F.dayofweek(ts).cast("string")], F.lit(", "),
        F.date_format(ts, "dd"), F.lit(" "),
        mon_map[F.month(ts).cast("string")], F.lit(" "),
        F.date_format(ts, "yyyy HH:mm:ss"), F.lit(" GMT"),
    )
    iso = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'")
    link = F.concat(
        F.lit("http://feed-"), (F.col("feed_id") % 7).cast("string"),
        F.lit(".example.com/post/"), F.col("doc_id").cast("string"),
    )
    summary = _xml_escape(F.substring("text", 1, 80))
    title = F.concat(F.lit("Entry "), F.col("doc_id").cast("string"))
    is_rss = F.col("feed_id") % 2 == 0
    entry_xml = F.when(
        is_rss,
        F.concat(
            F.lit("<item><title>"), title, F.lit("</title><link>"), link,
            F.lit("</link><pubDate>"), rfc, F.lit("</pubDate><description>"),
            summary, F.lit("</description></item>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<entry><title>"), title,
            F.lit('</title><link rel="alternate" href="'), link,
            F.lit('"/><updated>'), iso, F.lit("</updated><summary>"),
            summary, F.lit("</summary></entry>"),
        )
    )
    per_feed = (
        d.select("feed_id", F.struct(F.col("doc_id"), entry_xml.alias("x")).alias("e"))
        .groupBy("feed_id")
        .agg(F.array_join(F.sort_array(F.collect_list("e")).x, "").alias("body"))
    )
    feed_title = F.concat(F.lit("Feed "), F.col("feed_id").cast("string"))
    xml = F.when(
        F.col("feed_id") % 2 == 0,
        F.concat(
            F.lit('<rss version="2.0"><channel><title>'), feed_title,
            F.lit("</title>"), F.col("body"), F.lit("</channel></rss>"),
        ),
    ).otherwise(
        F.concat(
            F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>'), feed_title,
            F.lit("</title>"), F.col("body"), F.lit("</feed>"),
        )
    )
    return per_feed.select("feed_id", xml.alias("xml"))

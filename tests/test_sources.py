"""WARC source connector tests: parser robustness + round trip."""

import zlib

import pytest

from graby_spark.sources.warc import _iter_members, _parse_records


def _record(uri, payload, warc_type="response", extra_crlf=True):
    head = (
        "WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + (b"\r\n\r\n" if extra_crlf else b"")


def _http(body, status=b"200 OK", ctype=b"text/html"):
    return b"HTTP/1.1 " + status + b"\r\nContent-Type: " + ctype + b"\r\n\r\n" + body


def test_parse_skips_non_response_records():
    data = _record("http://a/1", b"warcinfo body", warc_type="warcinfo") + _record(
        "http://a/2", _http(b"<html>x</html>")
    )
    rows = list(_parse_records(data))
    assert len(rows) == 1
    assert rows[0][0] == "http://a/2" and rows[0][4] == b"<html>x</html>"
    assert rows[0][2] == 200 and rows[0][3] == "text/html"


def test_parse_length_prefixed_not_delimiter_scanned():
    """A payload containing WARC-header-like bytes must not desync the
    parser — Content-Length governs the slice."""
    evil = _http(b"<pre>WARC/1.0\r\nWARC-Type: response\r\n\r\n</pre>")
    data = _record("http://a/evil", evil) + _record("http://a/next", _http(b"ok"))
    rows = list(_parse_records(data))
    assert [r[0] for r in rows] == ["http://a/evil", "http://a/next"]
    assert b"WARC/1.0" in rows[0][4]


def test_gzip_member_iteration():
    def gz(b):
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(b) + co.flush()

    blob = gz(b"first") + gz(b"second") + gz(b"third")
    assert list(_iter_members(blob)) == [b"first", b"second", b"third"]
    # uncompressed blobs pass through untouched
    assert list(_iter_members(b"raw")) == [b"raw"]


def test_parse_stops_on_truncated_record():
    good = _record("http://a/1", _http(b"fine"))
    truncated = good + b"WARC/1.0\r\nWARC-Type: response\r\nContent-Le"
    rows = list(_parse_records(truncated))
    assert len(rows) == 1 and rows[0][0] == "http://a/1"


def test_warc_records_streaming(tmp_path):
    """The parser is a streaming-safe mapInPandas: the same warc_records()
    call works on a readStream DataFrame (file source, availableNow)."""
    from graby_spark.session import get_spark
    from graby_spark.sources.warc import build_warc_blobs, warc_records

    spark = get_spark(app_name="warc-stream-test", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    in_dir = str(tmp_path / "warc_in")
    blobs = build_warc_blobs(spark, "/root/testdata/sf0.001", records_per_file=25)
    blobs.write.mode("overwrite").parquet(in_dir)
    expected = spark.read.parquet(in_dir).count()

    stream = spark.readStream.schema("file_id long, blob binary").parquet(in_dir)
    q = (
        warc_records(stream)
        .writeStream.format("memory")
        .queryName("warc_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) n, count(distinct url) u from warc_stream_out").collect()[0]
    assert got["n"] == 500 and got["u"] == 500
    assert expected == 20  # 500 docs / 25 per file


def test_parse_rejects_negative_content_length():
    """A crafted negative Content-Length must not loop the parser."""
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://a/x\r\n"
        b"Content-Length: -23\r\n\r\npayload"
    )
    assert list(_parse_records(_record("http://a/1", _http(b"ok")) + bad)) != []
    # and terminates: only the good record comes back
    rows = list(_parse_records(_record("http://a/1", _http(b"ok")) + bad))
    assert [r[0] for r in rows] == ["http://a/1"]


def test_corrupt_gzip_member_drops_tail_not_job():
    def gz(b):
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(b) + co.flush()

    good = gz(b"first")
    corrupt = bytearray(gz(b"second"))
    corrupt[12] ^= 0xFF  # flip a bit inside the deflate stream
    members = list(_iter_members(good + bytes(corrupt) + gz(b"third")))
    assert members[0] == b"first"          # everything before the flip survives
    assert b"third" not in members          # tail after corruption is dropped


# --- CDX index source ---------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from graby_spark.session import get_spark

    session = get_spark(
        app_name="graby-source-tests", master="local[4]", shuffle_partitions=4
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


def _cdx_parse(spark, lines):
    from graby_spark.sources.cdx import cdx_records

    df = spark.createDataFrame([(l,) for l in lines], ["line"])
    return {r["urlkey"]: r.asDict() for r in cdx_records(df).collect()}


def test_cdx_surt_key_folds_scheme_case_and_www(spark):
    from graby_spark.sources.cdx import surt_key

    df = spark.createDataFrame(
        [
            ("HTTPS://WWW.News.Example.COM/A/b?x=1",),
            ("http://example.org",),  # no path → ')/'
            ("http://sub.www.example.org/p",),  # www only stripped when leading
        ],
        ["url"],
    )
    keys = [r[0] for r in df.select(surt_key("url")).collect()]
    assert keys == [
        "com,example,news)/a/b?x=1",
        "org,example)/",
        "org,example,www,sub)/p",
    ]


def test_cdx_records_parses_and_nulls_malformed(spark):
    good = (
        'com,a)/p 20240101000000 {"url":"http://a/p","mime":"text/html",'
        '"status":"200","digest":"d","length":"10","offset":"5","filename":"f.warc.gz"}'
    )
    bad_json = "com,b)/p 20240101000001 not-json-at-all"
    rows = _cdx_parse(spark, [good, bad_json])
    g = rows["com,a)/p"]
    assert g["status"] == 200 and g["offset"] == 5 and g["length"] == 10
    assert g["ts"] == "20240101000000" and g["filename"] == "f.warc.gz"
    b = rows["com,b)/p"]
    assert b["url"] is None and b["status"] is None


def test_cdx_select_latest_picks_newest_eligible(spark):
    from graby_spark.sources.cdx import cdx_records, cdx_select_latest

    def line(key, ts, status, off):
        return (
            f'{key} {ts} {{"url":"http://x/","mime":"text/html","status":"{status}",'
            f'"digest":"d","length":"1","offset":"{off}","filename":"f"}}'
        )

    df = spark.createDataFrame(
        [
            (line("com,x)/", "20240101000000", 200, 0),),
            (line("com,x)/", "20240103000000", 503, 1),),  # newest but ineligible
            (line("com,x)/", "20240102000000", 200, 2),),  # → winner
            (line("com,y)/", "20240101000000", 404, 3),),  # no eligible capture
        ],
        ["line"],
    )
    plan = cdx_select_latest(cdx_records(df)).collect()
    assert len(plan) == 1
    assert plan[0]["urlkey"] == "com,x)/" and plan[0]["offset"] == 2


# --- RSS/Atom feed source -----------------------------------------------


_RSS = (
    '<rss version="2.0"><channel><title>R</title>'
    "<item><title>A &amp; B</title><link>http://r/1</link>"
    "<pubDate>Mon, 1 Jan 2024 05:00:00 GMT</pubDate>"
    "<description>first</description></item>"
    "</channel></rss>"
)
_ATOM = (
    '<feed xmlns="http://www.w3.org/2005/Atom"><title>A</title>'
    '<entry><title>T1</title><link rel="self" href="http://x/self"/>'
    '<link rel="alternate" href="http://a/1"/>'
    "<updated>2024-02-03T04:05:06Z</updated><summary>s1</summary></entry>"
    "</feed>"
)


def test_feed_entries_rss_and_atom(spark):
    from graby_spark.sources.feed import feed_entries

    df = spark.createDataFrame([(_RSS,), (_ATOM,)], ["xml"])
    rows = {r["link"]: r.asDict() for r in feed_entries(df).collect()}
    r = rows["http://r/1"]
    assert r["kind"] == "rss" and r["feed_title"] == "R"
    assert r["title"] == "A & B"  # entity round trip
    assert r["published"] == "2024-01-05T05:00:00Z" or r["published"] == "2024-01-01T05:00:00Z"
    a = rows["http://a/1"]  # rel=self skipped, alternate chosen
    assert a["kind"] == "atom" and a["published"] == "2024-02-03T04:05:06Z"
    assert a["summary"] == "s1" and a["aligned"]


def test_feed_rfc822_unpadded_day(spark):
    from graby_spark.sources.feed import _rfc822_to_iso
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Mon, 1 Jan 2024 05:00:00 GMT",), ("2024-06-07T08:09:10Z",), ("garbage",)],
        ["d"],
    )
    vals = [r[0] for r in df.select(_rfc822_to_iso(F.col("d"))).collect()]
    assert vals == ["2024-01-01T05:00:00Z", "2024-06-07T08:09:10Z", "garbage"]


def test_feed_misalignment_flagged(spark):
    from graby_spark.sources.feed import feed_entries

    # second item lacks pubDate → dates array shorter → aligned=false
    xml = (
        '<rss version="2.0"><channel><title>R</title>'
        "<item><title>a</title><link>http://r/1</link>"
        "<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate><description>d</description></item>"
        "<item><title>b</title><link>http://r/2</link><description>e</description></item>"
        "</channel></rss>"
    )
    df = spark.createDataFrame([(xml,)], ["xml"])
    rows = feed_entries(df).collect()
    assert rows and all(not r["aligned"] for r in rows)


def test_feed_wellformed_gate_protects_xpath(spark):
    """A malformed or NULL feed drops out instead of failing the job."""
    from graby_spark.sources.feed import feed_entries

    df = spark.createDataFrame([(_RSS,), ("<rss><broken",), (None,)], ["xml"])
    assert feed_entries(df).count() == 1


def test_feed_autodiscovery(spark):
    from graby_spark.sources.feed import feed_autodiscovery

    html = (
        "<html><head>"
        '<link href="/feed.xml" rel="alternate" type="application/rss+xml">'
        '<link type="application/atom+xml" rel="alternate" href="/atom.xml"/>'
        '<link rel="stylesheet" href="/style.css">'
        "</head></html>"
    )  # note: atom tag has type BEFORE rel — order independence pinned
    df = spark.createDataFrame([(1, html)], ["page_id", "html"])
    rows = sorted(
        (r["feed_url"], r["feed_mime"]) for r in feed_autodiscovery(df).collect()
    )
    assert rows == [
        ("/atom.xml", "application/atom+xml"),
        ("/feed.xml", "application/rss+xml"),
    ]


def test_cdx_incremental_new_changed_unchanged(spark):
    from graby_spark.sources.cdx import cdx_incremental

    plan = spark.createDataFrame(
        [
            ("com,a)/1", "d1", "u1"),
            ("com,a)/2", "d2", "u2"),
            ("com,a)/3", "d3", "u3"),
        ],
        ["urlkey", "digest", "url"],
    )
    seen = spark.createDataFrame(
        [
            ("com,a)/1", "d1"),       # unchanged -> excluded
            ("com,a)/2", "STALE"),    # changed
            ("com,a)/9", "gone"),     # seen but absent from plan -> ignored
        ],
        ["urlkey", "digest"],
    )
    rows = {r["urlkey"]: r["fetch_reason"] for r in cdx_incremental(plan, seen).collect()}
    assert rows == {"com,a)/2": "changed", "com,a)/3": "new"}


def test_warc_sink_round_trip_and_determinism(spark):
    from graby_spark.sources.warc import warc_records, write_warc_blobs

    rows = [
        (
            f"http://sink.example.com/p{i}",
            "2024-01-01T00:00:%02dZ" % (i % 60),
            200,
            "text/html; charset=utf-8",
            bytearray(f"<html><body>doc {i} \xe9</body></html>".encode()),
        )
        for i in range(40)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_date string, http_status int, content_type string, html binary"
    )
    blobs = write_warc_blobs(pages)
    back = warc_records(blobs)
    got = sorted(
        (r["url"], r["warc_date"], r["http_status"], r["content_type"], bytes(r["html"]))
        for r in back.collect()
    )
    want = sorted((u, d, s, c, bytes(h)) for u, d, s, c, h in rows)
    assert got == want  # exact inverse of the parser
    # byte-determinism: same input (different partitioning) -> same archives
    blobs2 = write_warc_blobs(pages.repartition(7))
    a = {r["file_id"]: bytes(r["blob"]) for r in blobs.collect()}
    b = {r["file_id"]: bytes(r["blob"]) for r in blobs2.collect()}
    assert a == b and len(a) == 5


def test_wet_records_parse_and_lineage():
    """Conversion records: text payload byte-exact, WARC-Refers-To kept,
    non-conversion records skipped."""
    from graby_spark.sources.warc import _parse_wet

    head = (
        "WARC/1.0\r\n"
        "WARC-Type: conversion\r\n"
        "WARC-Target-URI: http://a/1\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        "WARC-Refers-To: <urn:uuid:abc>\r\n"
        "Content-Type: text/plain\r\n"
        "Content-Length: 11\r\n\r\n"
    ).encode()
    data = head + b"hello\nworld" + b"\r\n\r\n" + _record("http://a/2", _http(b"x"))
    rows = list(_parse_wet(data))
    assert rows == [("http://a/1", "2024-01-01T00:00:00Z", "<urn:uuid:abc>", "hello\nworld")]


def test_wet_round_trip_spark(spark):
    """build_wet_blobs → wet_records round trip at sf0.001: every doc's
    text survives byte-exact (joined back against the source table)."""
    from pyspark.sql import functions as F

    from graby_spark.sources.warc import build_wet_blobs, wet_records

    sf = "/root/testdata/sf0.001"
    recs = wet_records(build_wet_blobs(spark, sf, records_per_file=25))
    docs = spark.read.parquet(f"{sf}/documents.parquet").selectExpr(
        "concat('http://warc.example.com/doc/', cast(doc_id as string)) as url",
        "text as want",
    )
    joined = recs.join(docs, "url", "inner")
    n = joined.count()
    assert n == docs.count() == 500
    assert joined.where(F.col("text") != F.col("want")).count() == 0


def test_wat_links_jvm_parse(spark):
    """wat_records slices JSON out of the archive; wat_links parses it
    JVM-side (from_json) — titles and both planted links come back, and
    a malformed-JSON record degrades to zero link rows, not a job
    failure (unlike Spark's xpath)."""
    from graby_spark.sources.warc import (
        WAT_RECORD_SCHEMA,
        build_wat_blobs,
        wat_links,
        wat_records,
    )

    sf = "/root/testdata/sf0.001"
    links = wat_links(wat_records(build_wat_blobs(spark, sf, records_per_file=25)))
    rows = links.where("url = 'http://warc.example.com/doc/3'").collect()
    assert {(r["link_no"], r["link_url"], r["link_text"], r["title"]) for r in rows} == {
        (0, "http://site-3.example.com/p/6", "anchor 3 0", "Doc 3"),
        (1, "http://site-4.example.com/p/7", "anchor 3 1", "Doc 3"),
    }
    bad = spark.createDataFrame(
        [("http://a/1", "2024-01-01T00:00:00Z", "{not json")], WAT_RECORD_SCHEMA
    )
    assert wat_links(bad).count() == 0


def test_wet_records_streaming(tmp_path, spark):
    """wet_records is streaming-safe: the same call works under
    readStream (availableNow) and matches the batch result."""
    from graby_spark.sources.warc import build_wet_blobs, wet_records

    in_dir = str(tmp_path / "wet_in")
    build_wet_blobs(spark, "/root/testdata/sf0.001", records_per_file=25).write.mode(
        "overwrite"
    ).parquet(in_dir)
    stream = spark.readStream.schema("file_id long, blob binary").parquet(in_dir)
    q = (
        wet_records(stream)
        .writeStream.format("memory")
        .queryName("wet_stream_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "select count(*) n, count(distinct url) u from wet_stream_out"
    ).collect()[0]
    batch = wet_records(spark.read.parquet(in_dir)).count()
    assert got["n"] == batch == 500 and got["u"] == 500


def test_cdx_from_warc_round_trip(spark):
    """The generated index is range-request faithful: slicing each
    (offset, length) span back out of the blob and inflating that single
    member reproduces exactly the record the index row describes — the
    guarantee a 100 TB selective-fetch pipeline rests on.  urlkey matches
    the reader-side SURT expression; digest is the base32 SHA-1 of the
    HTTP payload."""
    import base64
    import hashlib
    import zlib

    from graby_spark.sources.warc import build_warc_blobs, cdx_from_warc

    blobs = build_warc_blobs(spark, "/root/testdata/sf0.001", records_per_file=25)
    named = blobs.selectExpr(
        "concat('crawl-', file_id, '.warc.gz') as filename", "blob"
    ).cache()
    try:
        idx = cdx_from_warc(named).collect()
        assert len(idx) == 500
        assert all(r["status"] == 200 and r["ts14"].isdigit() for r in idx)
        assert all(len(r["ts14"]) == 14 for r in idx)
        blob_by_name = {r["filename"]: bytes(r["blob"]) for r in named.collect()}
        # spans must tile each file exactly (no gaps: members are adjacent)
        by_file: dict[str, list] = {}
        for r in idx:
            by_file.setdefault(r["filename"], []).append(r)
        for fname, rows in by_file.items():
            rows.sort(key=lambda r: r["offset"])
            pos = 0
            for r in rows:
                assert r["offset"] == pos
                pos += r["length"]
            assert pos == len(blob_by_name[fname])
        # random-access fetch: slice + inflate one member, re-verify fields
        for r in idx[::97] + idx[-1:]:
            member = zlib.decompress(
                blob_by_name[r["filename"]][r["offset"] : r["offset"] + r["length"]],
                wbits=31,
            )
            assert f"WARC-Target-URI: {r['url']}".encode() in member
            body = member[member.find(b"\r\n\r\n", member.find(b"HTTP/")) + 4 :]
            body = body[: -4] if body.endswith(b"\r\n\r\n") else body
            assert (
                base64.b32encode(hashlib.sha1(body).digest()).decode()
                == r["digest"]
            )
    finally:
        named.unpersist()


def test_cdx_from_warc_uncompressed_record_spans(spark):
    """ADVICE r04: on an UNCOMPRESSED archive the index must address each
    record's own byte span, not the whole file — spans tile the blob,
    and slicing one span out reproduces exactly one re-parseable record
    (the one the row describes)."""
    from graby_spark.sources.warc import (
        _iter_raw_records,
        build_warc_blobs,
        cdx_from_warc,
    )

    blobs = build_warc_blobs(
        spark, "/root/testdata/sf0.001", records_per_file=25, gzip_records=False
    )
    named = blobs.selectExpr(
        "concat('crawl-', file_id, '.warc') as filename", "blob"
    ).cache()
    try:
        idx = cdx_from_warc(named).collect()
        assert len(idx) == 500
        blob_by_name = {r["filename"]: bytes(r["blob"]) for r in named.collect()}
        by_file: dict[str, list] = {}
        for r in idx:
            by_file.setdefault(r["filename"], []).append(r)
        for fname, rows in by_file.items():
            rows.sort(key=lambda r: r["offset"])
            pos = 0
            for r in rows:
                assert r["offset"] == pos, (fname, r["offset"], pos)
                assert r["length"] > 0
                pos += r["length"]
            assert pos == len(blob_by_name[fname])
        for r in idx[::97] + idx[-1:]:
            chunk = blob_by_name[r["filename"]][
                r["offset"] : r["offset"] + r["length"]
            ]
            recs = list(_iter_raw_records(chunk))
            assert len(recs) == 1
            assert recs[0][0].get("warc-target-uri") == r["url"]
    finally:
        named.unpersist()

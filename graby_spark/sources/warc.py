"""WARC source connector: Common-Crawl-style archive blobs → page rows.

The engine's input contract is a pages table ``(url, warc_ts, html, ...)``
(SURVEY §1, BASELINE input_hint).  Real crawls deliver that table as WARC
files — concatenated ``WARC/1.0`` records, each individually gzipped in
Common Crawl's layout.  This module is the ingestion edge:

- ``warc_records(df)``: parse a DataFrame of raw WARC blobs (e.g. from
  ``spark.read.format("binaryFile")``) into one row per response record:
  (url, warc_date, http_status, content_type, html).  Parsing is
  length-prefixed (``Content-Length`` slices the payload), never
  delimiter-scanned, so binary payloads containing record-like bytes
  cannot desynchronize it.  Per-member gzip is detected by magic bytes
  and inflated with ``zlib`` member-by-member (``unused_data`` carries
  the remainder), matching Common Crawl's record-level compression.
- ``build_warc_blobs(spark, sf_dir)``: deterministic synthetic WARC
  files from ``documents.parquet`` for tests and benchmarks (no external
  data), ~``records_per_file`` records per blob.

Scale shape: one ``mapInPandas`` over file blobs — each file parses
independently (classic Hadoop-era WARC splitability caveat: gzip members
are the split points; here a file is a partition unit, matching
``binaryFile``'s semantics).  Records stream out per Arrow batch, so a
1 GB archive never materializes as one Python list.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "WARC_RECORD_SCHEMA",
    "WET_RECORD_SCHEMA",
    "WAT_RECORD_SCHEMA",
    "warc_records",
    "wet_records",
    "wat_records",
    "wat_links",
    "build_warc_blobs",
    "build_wet_blobs",
    "build_wat_blobs",
    "write_warc_blobs",
    "cdx_from_warc",
]

WARC_RECORD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("http_status", IntegerType()),
        StructField("content_type", StringType()),
        StructField("html", BinaryType()),
    ]
)

_GZIP_MAGIC = b"\x1f\x8b"


def _gzip_member(record: bytes) -> bytes:
    """One record as its own gzip member (the Common Crawl layout)."""
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    return co.compress(record) + co.flush()


def _iter_members(blob: bytes) -> Iterator[bytes]:
    """Yield decompressed gzip members (or the raw blob if uncompressed)."""
    if not blob.startswith(_GZIP_MAGIC):
        yield blob
        return
    rest = blob
    while rest.startswith(_GZIP_MAGIC):
        d = zlib.decompressobj(wbits=31)
        try:
            member = d.decompress(rest)
        except zlib.error:
            # one bit-flipped member is routine at crawl scale; losing the
            # archive's tail beats failing the whole Spark job
            return
        yield member
        rest = d.unused_data
    if rest:
        # trailing uncompressed tail (malformed archive) — surface it so
        # the record parser can reject it instead of silently dropping
        yield rest


def _iter_raw_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Concatenated WARC/1.0 records → (headers, payload) pairs.

    Shared by the response (WARC), conversion (WET) and metadata (WAT)
    parsers — one length-prefixed walk, type filtering happens above.
    """
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        headers: dict[str, str] = {}
        for line in data[pos:head_end].split(b"\r\n"):
            if b":" in line:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                    "latin-1"
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            # a negative length would move pos BACKWARD and can loop the
            # parser forever on a crafted record — reject the remainder
            return
        payload = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        yield headers, payload


def _parse_records(data: bytes) -> Iterator[tuple]:
    """Parse response records from an uncompressed buffer."""
    for headers, payload in _iter_raw_records(data):
        if headers.get("warc-type") != "response":
            continue
        status = 0
        content_type = ""
        body = payload
        http_end = payload.find(b"\r\n\r\n")
        if http_end >= 0:
            http_lines = payload[:http_end].split(b"\r\n")
            if http_lines and http_lines[0].startswith(b"HTTP/"):
                parts = http_lines[0].split()
                if len(parts) >= 2 and parts[1].isdigit():
                    status = int(parts[1])
                for line in http_lines[1:]:
                    if line.lower().startswith(b"content-type:"):
                        content_type = line.partition(b":")[2].strip().decode(
                            "latin-1"
                        )
                body = payload[http_end + 4 :]
        yield (
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            status,
            content_type,
            body,
        )


def warc_records(df: DataFrame) -> DataFrame:
    """DataFrame of WARC blobs → one row per response record."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                for member in _iter_members(bytes(blob or b"")):
                    # drain the record generator one record at a time so
                    # an UNcompressed multi-GB archive (one giant member)
                    # still flushes every 2048 records instead of
                    # materializing the whole file as one Python list
                    for rec in _parse_records(member):
                        rows.append(rec)
                        if len(rows) >= 2048:
                            yield pd.DataFrame(
                                rows, columns=WARC_RECORD_SCHEMA.fieldNames()
                            )
                            rows = []
            if rows:
                yield pd.DataFrame(rows, columns=WARC_RECORD_SCHEMA.fieldNames())

    return df.select("blob").mapInPandas(parse, WARC_RECORD_SCHEMA)


def build_warc_blobs(
    spark: SparkSession,
    sf_dir: str,
    records_per_file: int = 50,
    gzip_records: bool = True,
) -> DataFrame:
    """Deterministic synthetic WARC files from ``documents.parquet``.

    One row per archive file: (file_id, blob).  Each document becomes a
    ``WARC-Type: response`` record whose payload is an HTTP/1.1 response
    wrapping ``<html><body><p>{text}</p></body></html>``; records are
    individually gzipped (mtime pinned to 0 → byte-deterministic) and
    concatenated, Common Crawl style.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", (F.col("doc_id") / records_per_file).cast("long").alias("file_id")
    )

    schema = StructType(
        [StructField("file_id", LongType()), StructField("blob", BinaryType())]
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = bytearray()
        for _, row in pdf.sort_values("doc_id").iterrows():
            doc_id = int(row["doc_id"])
            html = ("<html><body><p>%s</p></body></html>" % row["text"]).encode(
                "utf-8"
            )
            http = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
                + html
            )
            ts = pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=doc_id)
            head = (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: http://warc.example.com/doc/{doc_id}\r\n"
                f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode("latin-1")
            record = head + http + b"\r\n\r\n"
            if gzip_records:
                record = _gzip_member(record)
            out += record
        return pd.DataFrame({"file_id": [key[0]], "blob": [bytes(out)]})

    return docs.groupBy("file_id").applyInPandas(build, schema)


#: archives :func:`write_warc_blobs` spreads its rows over
SINK_FILES = 5


def write_warc_blobs(df: DataFrame) -> DataFrame:
    """WARC sink: page rows → Common-Crawl-layout archive blobs.

    Input rows carry ``(url, warc_date, http_status, content_type,
    html)`` — exactly :data:`WARC_RECORD_SCHEMA`, so the sink is the
    exact inverse of :func:`warc_records` (round-trip pinned by test).
    Rows are grouped into ``SINK_FILES`` archives by url hash
    (deterministic, independent of input partitioning; size it for
    ~1 GB per archive at target scale) and each record
    is individually gzipped with pinned mtime, so re-running the sink on
    the same input produces byte-identical archives — the property that
    makes downstream digests/manifests reproducible.

    Output: (file_id, blob).  Write the blobs out with e.g.
    ``df.write.parquet`` or a binary-file writer.

    Scale shape: one shuffle (groupBy file_id) carrying each page's
    bytes once; files build independently per group.  Records within a
    file are ordered by (url, warc_date) so the grouping hash — not
    arrival order — defines the archive bytes.
    """
    keyed = df.withColumn(
        "_file_id",
        F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10).cast("long")
        % F.lit(SINK_FILES),
    )
    schema = StructType(
        [StructField("file_id", LongType()), StructField("blob", BinaryType())]
    )

    def build(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = bytearray()
        cols = ["url", "warc_date", "http_status", "content_type", "html"]
        for _, row in pdf.sort_values(["url", "warc_date"])[cols].iterrows():
            body = bytes(row["html"]) if row["html"] is not None else b""
            http = (
                f"HTTP/1.1 {int(row['http_status'])} OK\r\n"
                f"Content-Type: {row['content_type']}\r\n\r\n"
            ).encode("latin-1") + body
            head = (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Target-URI: {row['url']}\r\n"
                f"WARC-Date: {row['warc_date']}\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode("latin-1")
            out += _gzip_member(head + http + b"\r\n\r\n")
        return pd.DataFrame({"file_id": [key[0]], "blob": [bytes(out)]})

    return keyed.groupBy("_file_id").applyInPandas(build, schema)


# ---------------------------------------------------------------------------
# WET (extracted-text conversion records) — Common Crawl's *.warc.wet.gz
# ---------------------------------------------------------------------------

WET_RECORD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("refers_to", StringType()),
        StructField("text", StringType()),
    ]
)


def _parse_wet(data: bytes) -> Iterator[tuple]:
    """Conversion records from an uncompressed buffer.

    WET payloads carry the extracted plain text directly (no HTTP
    envelope); ``WARC-Refers-To`` links back to the response record the
    text was derived from — preserved so downstream lineage joins work.
    """
    for headers, payload in _iter_raw_records(data):
        if headers.get("warc-type") != "conversion":
            continue
        yield (
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            headers.get("warc-refers-to", ""),
            payload.decode("utf-8", "replace"),
        )


def wet_records(df: DataFrame) -> DataFrame:
    """DataFrame of WET blobs → one row per conversion (text) record.

    Same scale shape as :func:`warc_records`: one Arrow-batched
    ``mapInPandas`` over file blobs, records streamed out in 2048-row
    flushes so an uncompressed multi-GB archive never materializes as
    one Python list.
    """

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                for member in _iter_members(bytes(blob or b"")):
                    for rec in _parse_wet(member):
                        rows.append(rec)
                        if len(rows) >= 2048:
                            yield pd.DataFrame(
                                rows, columns=WET_RECORD_SCHEMA.fieldNames()
                            )
                            rows = []
            if rows:
                yield pd.DataFrame(rows, columns=WET_RECORD_SCHEMA.fieldNames())

    return df.select("blob").mapInPandas(parse, WET_RECORD_SCHEMA)


def build_wet_blobs(
    spark: SparkSession, sf_dir: str, records_per_file: int = 50
) -> DataFrame:
    """Deterministic synthetic WET files from ``documents.parquet``.

    Each document's ``text`` becomes one ``WARC-Type: conversion``
    record (Content-Type ``text/plain``, ``WARC-Refers-To`` derived from
    the doc id so the oracle can replay it closed-form), per-record
    gzipped and concatenated exactly like :func:`build_warc_blobs`.
    """
    import hashlib

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "text",
        (F.col("doc_id") / records_per_file).cast("long").alias("file_id"),
    )
    schema = StructType(
        [StructField("file_id", LongType()), StructField("blob", BinaryType())]
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = bytearray()
        for _, row in pdf.sort_values("doc_id").iterrows():
            doc_id = int(row["doc_id"])
            text = str(row["text"]).encode("utf-8")
            ts = pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=doc_id)
            uuid = hashlib.md5(b"warc:%d" % doc_id).hexdigest()
            head = (
                "WARC/1.0\r\n"
                "WARC-Type: conversion\r\n"
                f"WARC-Target-URI: http://warc.example.com/doc/{doc_id}\r\n"
                f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
                f"WARC-Refers-To: <urn:uuid:{uuid}>\r\n"
                "Content-Type: text/plain\r\n"
                f"Content-Length: {len(text)}\r\n\r\n"
            ).encode("latin-1")
            out += _gzip_member(head + text + b"\r\n\r\n")
        return pd.DataFrame({"file_id": [key[0]], "blob": [bytes(out)]})

    return docs.groupBy("file_id").applyInPandas(build, schema)


# ---------------------------------------------------------------------------
# WAT (page-metadata records, JSON payloads) — Common Crawl's *.warc.wat.gz
# ---------------------------------------------------------------------------

WAT_RECORD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_date", StringType()),
        StructField("json", StringType()),
    ]
)

#: Spark DDL for the Envelope subset the link/title extractor reads —
#: ``from_json`` runs JVM-side, so WAT structure parsing never enters
#: Python (the mapInPandas stage only slices records out of the archive)
WAT_ENVELOPE_DDL = (
    "Envelope STRUCT<"
    "`WARC-Header-Metadata` STRUCT<"
    "`WARC-Target-URI` STRING, `WARC-Type` STRING, `WARC-Date` STRING>, "
    "`Payload-Metadata` STRUCT<"
    "`Actual-Content-Type` STRING, "
    "`HTTP-Response-Metadata` STRUCT<"
    "`HTML-Metadata` STRUCT<"
    "Head STRUCT<Title STRING>, "
    "Links ARRAY<STRUCT<path STRING, url STRING, text STRING>>>>>>"
)


def _parse_wat(data: bytes) -> Iterator[tuple]:
    """Metadata records from an uncompressed buffer — raw JSON out."""
    for headers, payload in _iter_raw_records(data):
        if headers.get("warc-type") != "metadata":
            continue
        yield (
            headers.get("warc-target-uri", ""),
            headers.get("warc-date", ""),
            payload.decode("utf-8", "replace"),
        )


def wat_records(df: DataFrame) -> DataFrame:
    """DataFrame of WAT blobs → one row per metadata record (raw JSON)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                for member in _iter_members(bytes(blob or b"")):
                    for rec in _parse_wat(member):
                        rows.append(rec)
                        if len(rows) >= 2048:
                            yield pd.DataFrame(
                                rows, columns=WAT_RECORD_SCHEMA.fieldNames()
                            )
                            rows = []
            if rows:
                yield pd.DataFrame(rows, columns=WAT_RECORD_SCHEMA.fieldNames())

    return df.select("blob").mapInPandas(parse, WAT_RECORD_SCHEMA)


def wat_links(df: DataFrame) -> DataFrame:
    """WAT JSON rows → (url, warc_date, title, link_no, link_path,
    link_url, link_text), one row per outlink.

    Pure JVM: ``from_json`` with :data:`WAT_ENVELOPE_DDL` +
    ``posexplode`` — malformed JSON rows yield a NULL envelope and drop
    out (from_json is lenient, unlike Spark's job-fatal xpath), so one
    corrupt record cannot fail the job.  This is the WAT-native
    equivalent of extracting outlinks from raw HTML
    (``operators/graph.py``) when only the metadata sidecar was fetched.
    """
    env = F.from_json(F.col("json"), WAT_ENVELOPE_DDL).getField("Envelope")
    html_meta = (
        env.getField("Payload-Metadata")
        .getField("HTTP-Response-Metadata")
        .getField("HTML-Metadata")
    )
    return (
        df.withColumn("title", html_meta.getField("Head").getField("Title"))
        .withColumn("_links", html_meta.getField("Links"))
        .where(F.col("_links").isNotNull())
        .select(
            "url",
            "warc_date",
            "title",
            F.posexplode("_links").alias("link_no", "_l"),
        )
        .select(
            "url",
            "warc_date",
            "title",
            "link_no",
            F.col("_l.path").alias("link_path"),
            F.col("_l.url").alias("link_url"),
            F.col("_l.text").alias("link_text"),
        )
    )


def build_wat_blobs(
    spark: SparkSession, sf_dir: str, records_per_file: int = 50
) -> DataFrame:
    """Deterministic synthetic WAT files from ``documents.parquet``.

    One ``WARC-Type: metadata`` record per document whose JSON payload
    is a Common-Crawl-shaped Envelope (head title + two outlinks with
    closed-form targets), per-record gzipped.  Planted values are
    JSON-metacharacter-free by construction, so the oracle can rebuild
    them with plain string concatenation.
    """
    import json as _json

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") / records_per_file).cast("long").alias("file_id"),
    )
    schema = StructType(
        [StructField("file_id", LongType()), StructField("blob", BinaryType())]
    )

    def build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        out = bytearray()
        for _, row in pdf.sort_values("doc_id").iterrows():
            doc_id = int(row["doc_id"])
            url = f"http://warc.example.com/doc/{doc_id}"
            ts = pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=doc_id)
            date = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
            envelope = {
                "Envelope": {
                    "WARC-Header-Metadata": {
                        "WARC-Target-URI": url,
                        "WARC-Type": "response",
                        "WARC-Date": date,
                    },
                    "Payload-Metadata": {
                        "Actual-Content-Type": "application/http; msgtype=response",
                        "HTTP-Response-Metadata": {
                            "HTML-Metadata": {
                                "Head": {"Title": f"Doc {doc_id}"},
                                "Links": [
                                    {
                                        "path": "A@/href",
                                        "url": (
                                            f"http://site-{(doc_id + j) % 7}"
                                            f".example.com/p/{doc_id * 2 + j}"
                                        ),
                                        "text": f"anchor {doc_id} {j}",
                                    }
                                    for j in range(2)
                                ],
                            }
                        },
                    },
                }
            }
            payload = _json.dumps(envelope, separators=(",", ":")).encode("utf-8")
            head = (
                "WARC/1.0\r\n"
                "WARC-Type: metadata\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {date}\r\n"
                "Content-Type: application/json\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode("latin-1")
            out += _gzip_member(head + payload + b"\r\n\r\n")
        return pd.DataFrame({"file_id": [key[0]], "blob": [bytes(out)]})

    return docs.groupBy("file_id").applyInPandas(build, schema)


def _iter_raw_record_spans(
    data: bytes,
) -> Iterator[tuple[int, int, dict, bytes]]:
    """(start, end, headers, payload) per record in an UNCOMPRESSED
    buffer — the positional twin of :func:`_iter_raw_records` (same
    walk, same guards).  ``end`` includes the record's trailing CRLFs,
    so consecutive spans tile the buffer and a range request for
    ``[start, end)`` reproduces exactly one re-parseable record."""
    pos = 0
    n = len(data)
    while pos < n:
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            return
        start = pos
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            return
        headers: dict[str, str] = {}
        for line in data[pos:head_end].split(b"\r\n"):
            if b":" in line:
                k, _, v = line.partition(b":")
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                    "latin-1"
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            return
        payload = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        end = pos
        while end < n and data[end : end + 2] == b"\r\n":
            end += 2
        yield start, end, headers, payload


def _iter_member_spans(blob: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Yield (offset, compressed_length, decompressed_member) for each
    gzip member — the byte spans a CDX line points range requests at.
    Uncompressed blobs yield one whole-file span (callers that need
    per-record addressing on uncompressed data use
    :func:`_iter_raw_record_spans` instead — see
    :func:`_iter_addressable_records`)."""
    if not blob.startswith(_GZIP_MAGIC):
        yield 0, len(blob), blob
        return
    pos = 0
    rest = blob
    while rest.startswith(_GZIP_MAGIC):
        d = zlib.decompressobj(wbits=31)
        try:
            member = d.decompress(rest)
        except zlib.error:
            return
        consumed = len(rest) - len(d.unused_data)
        yield pos, consumed, member
        pos += consumed
        rest = d.unused_data


def _iter_addressable_records(
    blob: bytes,
) -> Iterator[tuple[int, int, dict, bytes]]:
    """(offset, length, headers, payload) per WARC record with spans a
    range-request reader can actually use: gzip archives address the
    record's gzip MEMBER (record-per-member is the Common Crawl layout;
    multi-record members share the member span — the finest fetchable
    unit compression allows), uncompressed archives address each
    record's own byte span (ADVICE r04: the whole-file span made every
    lookup fetch the entire archive)."""
    if blob.startswith(_GZIP_MAGIC):
        for off, clen, member in _iter_member_spans(blob):
            for headers, payload in _iter_raw_records(member):
                yield off, clen, headers, payload
    else:
        for start, end, headers, payload in _iter_raw_record_spans(blob):
            yield start, end - start, headers, payload


def cdx_from_warc(df: DataFrame) -> DataFrame:
    """WARC blobs → CDX index rows: the cdx-indexer step that makes a
    100 TB archive range-request addressable.

    One row per response record: ``(urlkey, ts14, url, mime, status,
    digest, length, offset, filename)`` — CDX(J) field conventions:
    ``offset``/``length`` are the gzip MEMBER's byte span inside the
    archive file (a reader fetches exactly that range and inflates one
    member); for UNCOMPRESSED archives they are the record's own byte
    span, so a range request still fetches exactly one record rather
    than the whole file.  ``ts14`` collapses the WARC-Date to the 14-digit CDX
    timestamp, ``digest`` is the base32 SHA-1 of the HTTP payload
    (Common Crawl's convention), ``urlkey`` is the canonical SURT key
    (computed JVM-side with the same expression ``cdx_records``
    consumes, so index and reader cannot drift).

    Together with :func:`graby_spark.sources.cdx.cdx_records` /
    ``cdx_select_latest`` this closes the loop: archives → index →
    selective range fetch.  Scale shape: one ``mapInPandas`` over file
    blobs (each file indexes independently, records stream out per
    Arrow batch); the SURT projection is a JVM map."""
    import base64
    import hashlib

    from .cdx import surt_key

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            recs: list[tuple] = []
            for fname, blob in zip(batch["filename"], batch["blob"]):
                blob = bytes(blob or b"")
                for off, clen, headers, payload in _iter_addressable_records(
                    blob
                ):
                    if headers.get("warc-type") != "response":
                        continue
                    status = 0
                    mime = ""
                    body = payload
                    http_end = payload.find(b"\r\n\r\n")
                    if http_end >= 0 and payload.startswith(b"HTTP/"):
                        for line in payload[:http_end].split(b"\r\n"):
                            if line.startswith(b"HTTP/"):
                                parts = line.split()
                                if len(parts) >= 2 and parts[1].isdigit():
                                    status = int(parts[1])
                            elif line.lower().startswith(b"content-type:"):
                                mime = (
                                    line.partition(b":")[2]
                                    .split(b";")[0]
                                    .strip()
                                    .decode("latin-1")
                                )
                        body = payload[http_end + 4 :]
                    ts14 = "".join(
                        c for c in headers.get("warc-date", "") if c.isdigit()
                    )[:14]
                    digest = base64.b32encode(
                        hashlib.sha1(body).digest()
                    ).decode("ascii")
                    recs.append(
                        (
                            headers.get("warc-target-uri", ""),
                            ts14,
                            mime,
                            status,
                            digest,
                            clen,
                            off,
                            fname,
                        )
                    )
            yield pd.DataFrame(
                recs,
                columns=[
                    "url",
                    "ts14",
                    "mime",
                    "status",
                    "digest",
                    "length",
                    "offset",
                    "filename",
                ],
            )

    schema = (
        "url string, ts14 string, mime string, status int, digest string, "
        "length long, offset long, filename string"
    )
    src = df.select(F.col("filename").cast("string").alias("filename"), "blob")
    rows = src.mapInPandas(parse, schema)
    return rows.select(
        surt_key(F.col("url")).alias("urlkey"),
        "ts14",
        "url",
        "mime",
        "status",
        "digest",
        "length",
        "offset",
        "filename",
    )

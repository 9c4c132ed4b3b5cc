"""EXIF metadata: APP1/TIFF IFD walk over JPEG payloads.

Web images carry EXIF, and for a training-data pipeline two pieces
matter beyond curiosity: **orientation** (pixels must be rotated before
any vision model sees them) and **GPS presence** (embedded coordinates
are PII — the image-side analog of ``operators/pii.py``'s text
scrubbing).  The reference never reads image payloads, so this is
LLM-pipeline surface, like the codecs.

- :func:`parse_exif` — JPEG segment walk to the APP1 ``Exif`` block,
  then a bounds-checked TIFF IFD walk (both byte orders): orientation,
  make/model, DateTimeOriginal/DateTime, and GPS latitude/longitude
  decoded from the rational triples with hemisphere signs.
- :func:`build_exif_jpeg` — splices a hand-built APP1 segment (II or MM
  byte order) into a real JPEG from ``operators/jpeg.encode_jpeg`` —
  fixtures derived from the TIFF structure rules, not copied bytes.
- :func:`image_exif` — the Arrow-batched Spark stage: one row per
  image, payload crosses into Python once, only the small metadata row
  returns.  ``has_gps`` is the PII flag a curation pipeline filters or
  scrubs on.

Scale shape: mapInPandas over payload rows, no shuffle; pair it with a
``.where(mime = 'image/jpeg')`` pre-route so only JPEG rows pay the
transfer (the same pattern attach_media_metadata uses for dimension
walks).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

__all__ = [
    "parse_exif",
    "build_exif_jpeg",
    "image_exif",
    "scrub_exif",
    "exif_scrub",
    "EXIF_SCHEMA",
]

EXIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("model", StringType()),
        StructField("datetime", StringType()),
        StructField("gps_lat", DoubleType()),
        StructField("gps_lon", DoubleType()),
        StructField("has_gps", BooleanType()),
    ]
)

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _read_ifd(data: bytes, offset: int, endian: str) -> dict[int, tuple]:
    """One IFD → {tag: (type, count, value_bytes)}; bounds-checked.
    Offsets count from the start of ``data`` (the TIFF header)."""
    out: dict[int, tuple] = {}
    pos = offset
    if pos + 2 > len(data):
        return out
    (count,) = struct.unpack_from(endian + "H", data, pos)
    pos += 2
    for _ in range(count):
        if pos + 12 > len(data):
            break
        tag, typ, n = struct.unpack_from(endian + "HHI", data, pos)
        size = _TYPE_SIZES.get(typ, 1) * n
        if size <= 4:
            val = data[pos + 8 : pos + 8 + size]
        else:
            (voff,) = struct.unpack_from(endian + "I", data, pos + 8)
            val = data[voff : voff + size]
        out[tag] = (typ, n, val)
        pos += 12
    return out


def _ascii(entry: tuple | None) -> str | None:
    if entry is None or entry[0] != 2:
        return None
    return entry[2].split(b"\x00")[0].decode("ascii", "replace") or None


def _short(entry: tuple | None, endian: str) -> int | None:
    if entry is None or entry[0] != 3 or len(entry[2]) < 2:
        return None
    return struct.unpack_from(endian + "H", entry[2])[0]


def _long_at(entry: tuple | None, endian: str) -> int | None:
    if entry is None or entry[0] != 4 or len(entry[2]) < 4:
        return None
    return struct.unpack_from(endian + "I", entry[2])[0]


def _rational3(entry: tuple | None, endian: str) -> float | None:
    """Three RATIONALs (deg, min, sec) → decimal degrees."""
    if entry is None or entry[0] != 5 or len(entry[2]) < 24:
        return None
    vals = []
    for i in range(3):
        num, den = struct.unpack_from(endian + "II", entry[2], i * 8)
        vals.append(num / den if den else 0.0)
    return vals[0] + vals[1] / 60 + vals[2] / 3600


def parse_exif(data: bytes) -> dict:
    """JPEG bytes → EXIF dict (fields None when absent).

    Walks JPEG segments length-prefixed (no delimiter scanning — entropy
    data cannot desync it), finds the first APP1 ``Exif`` block, then
    IFD0 → (ExifIFD for DateTimeOriginal) and the GPS IFD.
    """
    out = {
        "orientation": None,
        "make": None,
        "model": None,
        "datetime": None,
        "gps_lat": None,
        "gps_lon": None,
    }
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return out
    i = 2
    tiff = None
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            break
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # start of scan: no more headers
            break
        seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
        if marker == 0xE1 and data[i + 4 : i + 10] == b"Exif\x00\x00":
            tiff = data[i + 10 : i + 2 + seg_len]
            break
        i += 2 + seg_len
    if not tiff or len(tiff) < 8:
        return out
    order = tiff[0:2]
    if order == b"II":
        endian = "<"
    elif order == b"MM":
        endian = ">"
    else:
        return out
    if struct.unpack_from(endian + "H", tiff, 2)[0] != 42:
        return out
    (ifd0_off,) = struct.unpack_from(endian + "I", tiff, 4)
    ifd0 = _read_ifd(tiff, ifd0_off, endian)
    out["orientation"] = _short(ifd0.get(0x0112), endian)
    out["make"] = _ascii(ifd0.get(0x010F))
    out["model"] = _ascii(ifd0.get(0x0110))
    out["datetime"] = _ascii(ifd0.get(0x0132))
    exif_off = _long_at(ifd0.get(0x8769), endian)
    if exif_off is not None:
        exif_ifd = _read_ifd(tiff, exif_off, endian)
        out["datetime"] = _ascii(exif_ifd.get(0x9003)) or out["datetime"]
    gps_off = _long_at(ifd0.get(0x8825), endian)
    if gps_off is not None:
        gps = _read_ifd(tiff, gps_off, endian)
        lat = _rational3(gps.get(0x0002), endian)
        lon = _rational3(gps.get(0x0004), endian)
        lat_ref = _ascii(gps.get(0x0001)) or "N"
        lon_ref = _ascii(gps.get(0x0003)) or "E"
        if lat is not None:
            out["gps_lat"] = -lat if lat_ref.upper().startswith("S") else lat
        if lon is not None:
            out["gps_lon"] = -lon if lon_ref.upper().startswith("W") else lon
    return out


def _entry(endian: str, tag: int, typ: int, count: int, value: bytes, heap: bytearray, heap_base: int) -> bytes:
    size = _TYPE_SIZES[typ] * count
    if size <= 4:
        return struct.pack(endian + "HHI", tag, typ, count) + value.ljust(4, b"\x00")
    off = heap_base + len(heap)
    heap += value
    return struct.pack(endian + "HHI", tag, typ, count) + struct.pack(endian + "I", off)


def build_exif_jpeg(
    jpeg: bytes,
    orientation: int = 1,
    make: str = "graby",
    model: str = "spark",
    datetime: str = "2024:01:01 00:00:00",
    gps: tuple[float, float] | None = None,
    byte_order: str = "II",
) -> bytes:
    """Splice a structurally-valid APP1 EXIF segment into a real JPEG.

    The TIFF block is assembled from the spec layout (IFD0 with
    orientation/make/model/datetime + pointers, optional GPS IFD with
    rational-triple coordinates and hemisphere refs), in either byte
    order — fixtures for :func:`parse_exif`, never copied binaries.
    """
    endian = "<" if byte_order == "II" else ">"

    def rat3(deg: float) -> bytes:
        deg = abs(deg)
        d = int(deg)
        m = int((deg - d) * 60)
        s = (deg - d - m / 60) * 3600
        return struct.pack(
            endian + "II II II".replace(" ", ""),
            d, 1, m, 1, int(round(s * 10000)), 10000,
        )

    # layout: header(8) | IFD0 | [GPS IFD] | heap
    n0 = 4 + (1 if gps is not None else 0)
    ifd0_off = 8
    ifd0_size = 2 + n0 * 12 + 4
    gps_entries = 5
    gps_off = ifd0_off + ifd0_size if gps is not None else 0
    gps_size = (2 + gps_entries * 12 + 4) if gps is not None else 0
    heap_base = ifd0_off + ifd0_size + gps_size
    heap = bytearray()

    e0 = []
    e0.append(_entry(endian, 0x010F, 2, len(make) + 1, make.encode() + b"\x00", heap, heap_base))
    e0.append(_entry(endian, 0x0110, 2, len(model) + 1, model.encode() + b"\x00", heap, heap_base))
    e0.append(
        _entry(endian, 0x0112, 3, 1, struct.pack(endian + "H", orientation), heap, heap_base)
    )
    e0.append(
        _entry(endian, 0x0132, 2, len(datetime) + 1, datetime.encode() + b"\x00", heap, heap_base)
    )
    if gps is not None:
        e0.append(_entry(endian, 0x8825, 4, 1, struct.pack(endian + "I", gps_off), heap, heap_base))
    e0.sort(key=lambda e: struct.unpack_from(endian + "H", e)[0])  # tags ascending
    ifd0 = struct.pack(endian + "H", n0) + b"".join(e0) + struct.pack(endian + "I", 0)

    gps_ifd = b""
    if gps is not None:
        lat, lon = gps
        ge = []
        ge.append(_entry(endian, 0x0001, 2, 2, (b"S" if lat < 0 else b"N") + b"\x00", heap, heap_base))
        ge.append(_entry(endian, 0x0002, 5, 3, rat3(lat), heap, heap_base))
        ge.append(_entry(endian, 0x0003, 2, 2, (b"W" if lon < 0 else b"E") + b"\x00", heap, heap_base))
        ge.append(_entry(endian, 0x0004, 5, 3, rat3(lon), heap, heap_base))
        ge.append(_entry(endian, 0x0000, 1, 4, bytes([2, 3, 0, 0]), heap, heap_base))
        ge.sort(key=lambda e: struct.unpack_from(endian + "H", e)[0])
        gps_ifd = (
            struct.pack(endian + "H", gps_entries)
            + b"".join(ge)
            + struct.pack(endian + "I", 0)
        )

    tiff = (
        byte_order.encode()
        + struct.pack(endian + "H", 42)
        + struct.pack(endian + "I", ifd0_off)
        + ifd0
        + gps_ifd
        + bytes(heap)
    )
    app1 = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + (len(app1) + 2).to_bytes(2, "big") + app1
    if jpeg[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    return jpeg[0:2] + seg + jpeg[2:]


def scrub_exif(data: bytes) -> bytes:
    """Privacy scrub for JPEG payloads — the image-side analog of
    ``pii.pii_scrub``'s redaction: GPS coordinates (and anything else
    non-allowlisted in the EXIF block) are removed while the fields a
    training pipeline legitimately needs survive.

    Allowlist REBUILD, not tag deletion: every metadata-bearing app
    segment — APP1 whether ``Exif`` or XMP (XMP carries GPS too) and
    APP13 (Photoshop/IPTC, which carries location strings) — is
    stripped from the stream, then a fresh APP1 is spliced back
    carrying ONLY orientation/make/model/datetime read from the
    original — so unknown or future PII tags (GPS, serial numbers,
    owner name, MakerNotes, XMP location) cannot leak by omission from
    a blocklist.  Segments a decoder needs (APP0 JFIF, APP2 ICC, APP14
    Adobe color transform, DQT/DHT/SOF) are untouched.  Absent safe
    fields rebuild as defaults (orientation 1, empty strings); output
    byte order is normalized to II.  Non-JPEG bytes pass through
    unchanged; the operation is idempotent after the first pass."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return data
    meta = parse_exif(data)
    out = bytearray(data[0:2])
    i = 2
    while i + 4 <= len(data):
        if data[i] != 0xFF:
            break
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            out += data[i : i + 2]
            i += 2
            continue
        if marker == 0xDA:  # start of scan: entropy data copies verbatim
            break
        seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
        if not (marker == 0xE1 or marker == 0xED):
            out += data[i : i + 2 + seg_len]
        i += 2 + seg_len
    out += data[i:]
    stripped = bytes(out)
    if any(meta[k] is not None for k in ("orientation", "make", "model", "datetime")):
        stripped = build_exif_jpeg(
            stripped,
            orientation=meta["orientation"] or 1,
            make=meta["make"] or "",
            model=meta["model"] or "",
            datetime=meta["datetime"] or "",
            gps=None,
        )
    return stripped


def exif_scrub(df: DataFrame) -> DataFrame:
    """Spark stage over :func:`scrub_exif`: (media_id, payload) with
    GPS-free payloads.  Same scale shape as :func:`image_exif` — one
    Arrow-batched map pass, no shuffle; pre-route on mime so only JPEG
    rows pay the payload transfer."""
    src = df.select("media_id", "payload")
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("payload", df.schema["payload"].dataType),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for mid, payload in zip(batch["media_id"], batch["payload"]):
                out.append(
                    {"media_id": mid, "payload": scrub_exif(bytes(payload or b""))}
                )
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return src.mapInPandas(fn, schema)


def image_exif(df: DataFrame) -> DataFrame:
    """EXIF survey stage: (media_id, orientation, make, model, datetime,
    gps_lat, gps_lon, has_gps) per image row."""
    src = df.select("media_id", "payload")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for mid, payload in zip(batch["media_id"], batch["payload"]):
                meta = parse_exif(bytes(payload or b""))
                meta["has_gps"] = (
                    meta["gps_lat"] is not None or meta["gps_lon"] is not None
                )
                out.append({"media_id": mid, **meta})
            yield pd.DataFrame(out, columns=EXIF_SCHEMA.fieldNames())

    return src.mapInPandas(fn, EXIF_SCHEMA)

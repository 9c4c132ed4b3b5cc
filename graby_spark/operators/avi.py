"""AVI (RIFF) container with MJPEG video streams: encode, parse, frames.

The reference routes every ``video/*`` response to a link placeholder
(Graby.php:612-668 never opens the container), so this module serves the
LLM-pipeline brief's multimodal axis: REAL frame sampling for
vision-model training data.  MJPEG-in-AVI is the one widely-seen video
format whose frames this repo can decode end-to-end offline, because
each frame is an independent baseline JPEG (no inter-frame prediction)
and ``operators/jpeg.py`` already implements that codec in pure numpy.

- :func:`encode_avi_mjpeg` — frames → canonical RIFF ``AVI `` bytes
  (hdrl with avih/strh/strf, movi with ``00dc`` chunks, idx1 index),
  byte-deterministic for reproducible fixtures.
- :func:`parse_avi` — chunk walk → stream geometry + raw JPEG frame
  payloads.  Length-prefixed (RIFF sizes), never delimiter-scanned, so
  JPEG payloads containing chunk-like bytes cannot desynchronize it.
- :func:`avi_frame_iter` — (ts_ms, jpeg_bytes) pairs on the stream's
  own clock (``dwScale``/``dwRate``), integer math only so sampling
  schedules replay exactly in an oracle.

Scale shape: pure byte-level helpers called from the existing
Arrow-batched media stages (``sample_frames`` / ``attach_media_metadata``
in ``multimodal.py``) — one payload transfer into Python per row, tiny
stat/frame rows back; no driver-side work, no shuffle beyond the caller's.
"""

from __future__ import annotations

import struct

import numpy as np

from graby_spark.operators.jpeg import decode_jpeg, encode_jpeg

__all__ = ["encode_avi_mjpeg", "parse_avi", "avi_frame_iter", "decode_avi_frame"]

#: AVIF_HASINDEX — the only flag the canonical writer sets
_AVIF_HASINDEX = 0x00000010
#: AVIIF_KEYFRAME — every MJPEG frame is independently decodable
_AVIIF_KEYFRAME = 0x00000010


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """One RIFF chunk, padded to even length per the RIFF rule."""
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(fourcc: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", fourcc + payload)


def encode_avi_mjpeg(
    frames: list[np.ndarray],
    rate: int = 25,
    quant_luma: np.ndarray | None = None,
) -> bytes:
    """MJPEG AVI from a list of (h, w[, 3]) uint8 frames.

    The stream plays at ``rate`` frames per second (AVI stream-header
    dwRate/dwScale with dwScale 1).  All frames must
    share one geometry (the container declares a single
    BITMAPINFOHEADER).  ``quant_luma=np.ones((8, 8))`` gives the
    unit-quantizer streams the exactness oracles rely on (a constant
    8x8 block survives DCT→quant→IDCT bit-for-bit).

    Byte-deterministic: same frames + params → identical archive bytes.
    """
    if not frames:
        raise ValueError("an AVI stream needs at least one frame")
    h, w = frames[0].shape[:2]
    for f in frames:
        if f.shape[:2] != (h, w):
            raise ValueError("all MJPEG frames must share one geometry")
    if rate <= 0:
        raise ValueError("rate must be positive")
    payloads = [encode_jpeg(f, quant_luma=quant_luma) for f in frames]
    n = len(payloads)
    us_per_frame = 1_000_000 // rate
    max_bytes = max(len(p) for p in payloads)

    avih = struct.pack(
        "<14I",
        us_per_frame,  # dwMicroSecPerFrame
        max_bytes * rate,  # dwMaxBytesPerSec (advisory)
        0,  # dwPaddingGranularity
        _AVIF_HASINDEX,  # dwFlags
        n,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        max_bytes,  # dwSuggestedBufferSize
        w,
        h,
        0,
        0,
        0,
        0,  # dwReserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII4H",
            0,  # dwFlags
            0,
            0,  # wPriority, wLanguage
            0,  # dwInitialFrames
            1,
            rate,  # dwScale, dwRate
            0,  # dwStart
            n,  # dwLength (frames)
            max_bytes,  # dwSuggestedBufferSize
            0xFFFFFFFF,  # dwQuality (default)
            0,  # dwSampleSize (0 = variable, one sample per chunk)
            0,
            0,
            w,
            h,  # rcFrame
        )
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        w,
        h,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        w * h * 3,  # biSizeImage (uncompressed advisory)
        0,
        0,
        0,
        0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = bytearray()
    idx = bytearray()
    for p in payloads:
        # idx1 offsets are relative to the position of the 'movi' fourcc
        # (the historical convention every mainstream parser accepts)
        offset = 4 + len(movi_body)
        idx += b"00dc" + struct.pack("<III", _AVIIF_KEYFRAME, offset, len(p))
        movi_body += _chunk(b"00dc", p)
    movi = _list(b"movi", bytes(movi_body))
    idx1 = _chunk(b"idx1", bytes(idx))
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _iter_chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_end) for chunks in data[pos:end]."""
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + size > end:
            return  # truncated tail — surface what parsed so far
        yield fourcc, body, body + size
        pos = body + size + (size % 2)


def parse_avi(data: bytes) -> dict:
    """RIFF AVI chunk walk → stream geometry and raw frame payloads.

    Returns ``{"width", "height", "rate", "scale", "n_frames",
    "frames": [bytes, ...]}`` — frames in movi order (``00dc``/``00db``
    chunks, recursive ``rec `` lists included).  Raises ``ValueError``
    for non-AVI or structurally corrupt input (loud, never a fake).
    """
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI stream")
    out: dict = {
        "width": None,
        "height": None,
        "rate": None,
        "scale": None,
        "n_frames": None,
        "frames": [],
    }

    def walk_movi(pos: int, end: int) -> None:
        for fourcc, b, e in _iter_chunks(data, pos, end):
            if fourcc == b"LIST" and data[b : b + 4] == b"rec ":
                walk_movi(b + 4, e)
            elif fourcc[2:4] in (b"dc", b"db"):
                out["frames"].append(data[b:e])

    saw_hdrl = False
    for fourcc, b, e in _iter_chunks(data, 12, len(data)):
        if fourcc != b"LIST":
            continue
        kind = data[b : b + 4]
        if kind == b"hdrl":
            saw_hdrl = True
            for f2, b2, e2 in _iter_chunks(data, b + 4, e):
                if f2 == b"avih" and e2 - b2 >= 40:
                    vals = struct.unpack_from("<10I", data, b2)
                    out["n_frames"] = vals[4]
                    out["width"], out["height"] = vals[8], vals[9]
                elif f2 == b"LIST" and data[b2 : b2 + 4] == b"strl":
                    for f3, b3, e3 in _iter_chunks(data, b2 + 4, e2):
                        if (
                            f3 == b"strh"
                            and e3 - b3 >= 32
                            and data[b3 : b3 + 4] == b"vids"
                        ):
                            out["scale"], out["rate"] = struct.unpack_from(
                                "<II", data, b3 + 20
                            )
        elif kind == b"movi":
            walk_movi(b + 4, e)
    if not saw_hdrl:
        raise ValueError("AVI stream without an hdrl list")
    return out


def avi_frame_iter(meta: dict):
    """(ts_ms, jpeg_bytes) per frame on the stream clock.

    Frame *i* starts at ``i * 1000 * scale // rate`` ms — integer floor,
    so a sampling schedule computed here replays exactly in closed-form
    SQL.  Streams without a vids header fall back to 40 ms (25 fps).
    """
    rate = meta.get("rate") or 25
    scale = meta.get("scale") or 1
    for i, payload in enumerate(meta["frames"]):
        yield (i * 1000 * scale // rate, payload)


def decode_avi_frame(payload: bytes) -> np.ndarray:
    """One MJPEG frame → (h, w, channels) uint8 via the numpy baseline
    JPEG decoder.  MJPEG frames are plain JFIF/abbreviated baseline
    streams; inter-frame state does not exist in this codec."""
    arr = decode_jpeg(payload)
    return arr

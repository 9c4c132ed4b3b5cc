"""String-level helpers shared by the extraction UDF and Spark-side exprs.

Each function mirrors a reference behavior:
  * ``excerpt``            — Graby::getExcerpt (Graby.php:879-901)
  * ``strip_trackers``     — HttpClient::removeTrackersFromUrl
                             (HttpClient.php:521-544)
  * ``make_absolute``      — Graby::makeAbsoluteStr (Graby.php:854-872,
                             RFC 3986 resolution via UriResolver)
  * ``pre_clean``          — empty-line + empty-node regex pre-clean with the
                             JIT-stacklimit fallback (Graby.php:318-332)
  * ``validate_date``      — ContentExtractor::validateDate
                             (ContentExtractor.php:735-748), W3C format with
                             the reference test default timezone Europe/Paris
                             (phpunit.xml:23)
"""

from __future__ import annotations

from datetime import datetime
from urllib.parse import urljoin, urlsplit, urlunsplit, parse_qsl, urlencode
from zoneinfo import ZoneInfo

try:
    import regex as _regex  # supports \h \v \pZ \pC like PCRE
except ImportError:  # pragma: no cover
    _regex = None

import re

try:
    from dateutil import parser as _dateparser
except ImportError:  # pragma: no cover
    _dateparser = None

__all__ = [
    "excerpt",
    "strip_trackers",
    "make_absolute",
    "pre_clean",
    "validate_date",
    "DEFAULT_TZ",
]

DEFAULT_TZ = "Europe/Paris"

_TAG_RE = re.compile(r"<[^>]+>")
_WS_RUN_RE = re.compile(r"[\n\r\t ]+")
if _regex is not None:
    _EDGE_SPACE_RE = _regex.compile(r"^[\pZ\pC]+|[\pZ\pC]+$")
    _LEAD_SPACE_RE = _regex.compile(r"^[\pZ\pC]+")
    _EMPTY_P_RE = _regex.compile(r"<p>[\s\h\v]*</p>")
else:  # pragma: no cover
    _EDGE_SPACE_RE = re.compile(r"^\s+|\s+$")
    _LEAD_SPACE_RE = re.compile(r"^\s+")
    _EMPTY_P_RE = re.compile(r"<p>\s*</p>")

_EMPTY_LINE_RE = re.compile(r"^[ \t]*[\r\n]+", re.M)
_EMPTY_NODE_RE = re.compile(
    r"<(?!audio|iframe|img|td|th)([^>\s]+)[^>]*>"
    r"(?:<br />|&nbsp;|&thinsp;|&ensp;|&emsp;|&#8201;|&#8194;|&#8195;|\s)*</\1>",
    re.M,
)

# strict ISO-8601 with an explicit offset — the overwhelmingly common shape
# of article:published_time / JSON-LD datePublished on real pages; fast-pathed
# below because dateutil's full parser is ~0.3 ms/call and dates sit on the
# extraction hot path (one validate_date per dated page)
_ISO_DATE_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})[T ](\d{2}):(\d{2}):(\d{2})(?:\.\d+)?"
    r"(Z|[+-]\d{2}:?\d{2})$"
)


#: Graby::getExcerpt's cut: the first space at or after 250 chars,
#: then " &hellip;"
EXCERPT_LENGTH = 250
EXCERPT_SEPARATOR = " &hellip;"


def excerpt(text: str) -> str:
    """250-char word-boundary excerpt of an HTML string."""
    length = EXCERPT_LENGTH
    if len(text) > 8192:
        early = _excerpt_from_prefix(text)
        if early is not None:
            return early
    text = _TAG_RE.sub(" ", text)
    text = _EDGE_SPACE_RE.sub("", text)
    text = _WS_RUN_RE.sub(" ", text).strip(" ")
    if len(text) > length:
        breakpoint_ = text.find(" ", length)
        if breakpoint_ < 0:
            return text
        return text[:breakpoint_].rstrip() + EXCERPT_SEPARATOR
    return text


def _excerpt_from_prefix(text: str) -> str | None:
    """Early-exit twin of ``excerpt`` for long documents.

    The full pipeline detags and whitespace-collapses the WHOLE document to
    emit a ~250-char excerpt — O(doc) for an O(length) result.  This variant
    consumes tag-boundary-aligned prefixes until the collapsed text provably
    pins the same breakpoint the full pipeline would find, and returns None
    (caller falls back to the exact full pass) whenever that cannot be
    proven from a prefix alone.

    Exactness: with P = collapse(lead-strip(detag(prefix))) and F the same
    over the full document, F[:len(P)] == P — tag→space substitution is
    local, the leading edge-strip is shared, and a whitespace run or word
    that continues past the prefix can only EXTEND P's final character run,
    never rewrite earlier indices.  So any space found at index
    ``length <= bp <= len(P) - 2`` is the full pipeline's first breakpoint,
    and P[:bp] is stable.

    Text segments may be truncated mid-run: a raw prefix may end at ANY
    character boundary outside a tag, so only tag spans must be consumed
    whole.  If the first ``target`` raw characters are too
    whitespace-dominated to pin a breakpoint (rare), return None rather
    than iterating — the exact full pass costs one extra scan.
    """
    length = EXCERPT_LENGTH
    target = 8 * (length + 2) + 64
    parts: list[str] = []
    raw_len = 0
    pos = 0
    it = _TAG_RE.finditer(text)
    while raw_len < target:
        m = next(it, None)
        if m is None:
            # tail after the last tag
            seg = text[pos : pos + (target - raw_len)]
            if pos + len(seg) >= len(text):
                return None  # whole document consumed; use the exact path
            parts.append(seg)
            break
        start, end = m.span()
        if start > pos:
            seg = text[pos:start]
            need = target - raw_len
            if len(seg) >= need:
                parts.append(seg[:need])
                break
            parts.append(seg)
            raw_len += len(seg)
        parts.append(" ")
        raw_len += 1
        pos = end
    collapsed = _WS_RUN_RE.sub(" ", _LEAD_SPACE_RE.sub("", "".join(parts)))
    if len(collapsed) > length + 1:
        breakpoint_ = collapsed.find(" ", length)
        if 0 <= breakpoint_ <= len(collapsed) - 2:
            return collapsed[:breakpoint_].rstrip() + EXCERPT_SEPARATOR
    return None


_TRACKER_PARAM_RE = re.compile(r"^(utm_|mtm_)")


def strip_trackers(url: str) -> str:
    """Drop utm_*/mtm_* query params and the xtor=RSS- fragment."""
    try:
        parts = urlsplit(url)
    except ValueError:
        return url
    query = parts.query
    if query:
        kept = [(k, v) for k, v in parse_qsl(query, keep_blank_values=True) if not _TRACKER_PARAM_RE.match(k)]
        query = urlencode(kept)
    fragment = parts.fragment
    if fragment and fragment.startswith("xtor=RSS-"):
        fragment = ""
    return urlunsplit((parts.scheme, parts.netloc, parts.path, query, fragment))


def make_absolute(base: str, url: str) -> str | None:
    """Resolve ``url`` against ``base`` (None when impossible)."""
    if not url:
        return None
    url = url.strip()
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    if parts.scheme:
        return url
    try:
        base_parts = urlsplit(base)
    except ValueError:
        return None
    if not base_parts.netloc:
        return None
    try:
        return urljoin(base, url)
    except ValueError:
        return None


def pre_clean(html: str) -> str:
    """Empty-line strip + guarded empty-node strip (P1/P2)."""
    # ^[ \t]*[\r\n]+ cannot match a document with no line breaks — skip
    # the regex pass entirely then (single-line documents are common)
    if "\n" in html or "\r" in html:
        cleaned = _EMPTY_LINE_RE.sub("", html)
    else:
        cleaned = html
    try:
        # the reference falls back to the un-stripped html when PCRE's JIT
        # stack limit trips on pathological input; bound work the same way
        stripped = _EMPTY_NODE_RE.sub("", cleaned, count=500000)
    except Exception:
        return cleaned
    return stripped


def validate_date(date: str | None, tz_name: str = DEFAULT_TZ) -> str | None:
    """Parse a date string and format as W3C ``Y-m-d\\TH:i:sP`` or None."""
    if date is None or _dateparser is None:
        return None
    date = date.strip()
    if not date:
        return None
    # PHP DateTime treats a trailing offset after 'Z' as noise ('...21Z-09:00'
    # parses as UTC); dateutil would honour the trailing offset — normalize
    date = re.sub(r"Z[+-]\d{2}:?\d{2}$", "Z", date)
    m = _ISO_DATE_RE.match(date)
    if m is not None:
        off = m.group(7)
        if off == "Z":
            off = "+00:00"
        else:
            if ":" not in off:
                off = off[:3] + ":" + off[3:]
            if not (int(off[1:3]) < 24 and int(off[4:6]) < 60):
                off = None  # dateutil rejects out-of-range offsets → slow path
            elif off[1:] == "00:00":
                off = "+00:00"  # dateutil maps '-00:00' to UTC
        try:
            # constructing the datetime validates the calendar fields the
            # same way dateutil would (bad month/day → slow path → None)
            datetime(
                int(m.group(1)), int(m.group(2)), int(m.group(3)),
                int(m.group(4)), int(m.group(5)), int(m.group(6)),
            )
        except ValueError:
            pass
        else:
            if off is not None:
                # int() on the year matches strftime('%Y'), which glibc does
                # NOT zero-pad below 1000 — byte-compatible with the slow path
                return (
                    f"{int(m.group(1))}-{m.group(2)}-{m.group(3)}"
                    f"T{m.group(4)}:{m.group(5)}:{m.group(6)}{off}"
                )
    try:
        parsed = _dateparser.parse(date, default=datetime(2000, 1, 1, 0, 0, 0))
    except (ValueError, OverflowError, TypeError):
        return None
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=ZoneInfo(tz_name))
    try:
        formatted = parsed.strftime("%Y-%m-%dT%H:%M:%S%z")
    except ValueError:
        # dateutil accepts offsets ≥ 24 h that strftime then rejects
        # ('...+25:00'); treat as unparseable rather than failing the row
        return None
    return formatted[:-2] + ":" + formatted[-2:]


def remove_empty_paragraphs(html: str) -> str:
    """``<p>[\\s\\h\\v]*</p>`` removal (Graby.php:267)."""
    return _EMPTY_P_RE.sub("", html)


def remove_links_keep_text(html: str) -> str:
    """content_links=remove regex (Graby.php:268-270)."""
    return re.sub(r"</?a[^>]*>", "", html)

"""URL validation (S1/S2, ported from GrabyTest dataForAllowed/dataForBlocked
and dataWithAccent) and charset conversion (C1-C6) tests."""

import pytest

from graby_spark.charset import convert_to_utf8, detect_charset
from graby_spark.textutils import excerpt, strip_trackers
from graby_spark.urls import InvalidUrl, is_url_allowed, validate_url


# GrabyTest.php dataForAllowed (:107-117)
@pytest.mark.parametrize(
    ("url", "expected"),
    [
        ("feed://wikipedia.org", "http://wikipedia.org"),
        ("www.wikipedia.org", "http://www.wikipedia.org"),
        ("http://www.wikipedia.org", "http://www.wikipedia.org"),
        ("https://www.wikipedia.org", "https://www.wikipedia.org"),
    ],
)
def test_validate_url(url, expected):
    assert validate_url(url) == expected


# GrabyTest.php dataWithAccent (:994-1018)
@pytest.mark.parametrize(
    ("url", "expected"),
    [
        (
            "https://en.wikipedia.org/wiki/Café",
            "https://en.wikipedia.org/wiki/Caf%C3%A9",
        ),
        (
            "http://www.atterres.org/article/budget-2016-la-sécurité-sans-la-solidarité",
            "http://www.atterres.org/article/budget-2016-la-s%C3%A9curit%C3%A9-sans-la-solidarit%C3%A9",
        ),
    ],
)
def test_validate_url_accents(url, expected):
    assert validate_url(url) == expected


def test_validate_url_idn():
    assert validate_url("http://münchen.example/path") == "http://xn--mnchen-3ya.example/path"


def test_validate_url_invalid():
    with pytest.raises(InvalidUrl):
        validate_url("http:///nohost")


def test_allow_block_lists():
    assert is_url_allowed("http://example.com/x", blocked=["t.co"])
    assert not is_url_allowed("http://t.co/x", blocked=["t.co"])
    # non-empty allow list wins (Graby.php:538-544)
    assert is_url_allowed("http://good.com/x", allowed=["good.com"], blocked=["good.com"])
    assert not is_url_allowed("http://other.com/x", allowed=["good.com"])
    # stristr is case-insensitive
    assert not is_url_allowed("http://T.CO/x", blocked=["t.co"])


def test_strip_trackers():
    assert (
        strip_trackers("http://x.com/a?utm_source=feed&id=3&mtm_campaign=z")
        == "http://x.com/a?id=3"
    )
    assert strip_trackers("http://x.com/a#xtor=RSS-3208") == "http://x.com/a"
    assert strip_trackers("http://x.com/a#section") == "http://x.com/a#section"


# -- charset (C1-C6) ----------------------------------------------------------

def test_charset_from_header():
    assert detect_charset(b"<html></html>", "text/html; charset=iso-8859-1") == "iso-8859-1"
    # redirect-concatenated values: the last segment has no parseable
    # charset= group under the reference regex (Graby.php:922-931), so the
    # header yields nothing and the HTML sniff takes over
    assert (
        detect_charset(b'<meta charset="euc-kr">', "text/html; charset=utf-8, text/html; charset=euc-kr")
        == "euc-kr"
    )


def test_charset_sniff_from_html():
    html = b'<html><head><meta http-equiv="Content-Type" content="text/html; charset=EUC-KR"></head></html>'
    assert detect_charset(html, "text/html") == "euc-kr"
    assert detect_charset(b'<?xml version="1.0" encoding="KOI8-R"?><html/>', "text/html") == "koi8-r"
    assert detect_charset(b'<meta charset="windows-1252">', "text/html") == "windows-1252"


def test_charset_bad_value_fixes():
    assert detect_charset(b"", "text/html; charset=iso-8850-1") == "iso-8859-1"
    assert detect_charset(b"<meta charset='utf-8'>", "text/html; charset=none") == "utf-8"


def test_cp1252_smart_quotes():
    # bytes 0x93/0x94 → &ldquo;/&rdquo; when charset empty/latin1 (Graby.php:964-992)
    html = b"<p>\x93quoted\x94 \x85</p>"
    out = convert_to_utf8(html, "text/html")
    assert "&ldquo;quoted&rdquo; &hellip;" in out


def test_euc_kr_decode():
    text = "한국어 텍스트"
    body = f"<html><body><p>{text}</p></body></html>".encode("euc-kr")
    out = convert_to_utf8(body, "text/html; charset=euc-kr")
    assert text in out


def test_strange_bytes_removed():
    assert "</[>" not in convert_to_utf8(b"a</[>b", "text/html")


def test_default_latin1():
    # HTTP 1.1 default charset is iso-8859-1 (Graby.php:994-1003)
    out = convert_to_utf8(b"caf\xe9", "text/html")
    assert out == "café"


# -- excerpt (O11, GrabyTest dataForExcerpt behaviors :693-721) ---------------

def test_excerpt_short_text():
    assert excerpt("<p>hello world</p>") == "hello world"


def test_excerpt_cut_at_word_boundary():
    text = "word " * 60  # 300 chars
    out = excerpt(f"<div>{text}</div>")
    assert out.endswith(" &hellip;")
    assert len(out) <= 265


def test_excerpt_no_space_after_250():
    text = "a" * 300
    assert excerpt(text) == text  # no breakpoint → full text


def test_excerpt_collapses_whitespace():
    assert excerpt("a\n\t b   c") == "a b c"


def test_canonical_url_expr():
    from graby_spark.session import get_spark
    from graby_spark.urls import canonical_url_expr

    spark = get_spark(app_name="canon-test", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    cases = [
        ("HTTP://Example.COM/Article/1?utm_source=feed&id=2", "http://example.com/Article/1?id=2"),
        ("http://example.com/Article/1?id=2#xtor=RSS-abc", "http://example.com/Article/1?id=2"),
        ("http://example.com/a/?utm_x=1", "http://example.com/a"),
        ("http://example.com/?utm_only=1", "http://example.com/"),
        ("http://example.com/b?utm_a=1&utm_b=2&keep=3", "http://example.com/b?keep=3"),
        ("not a url", "not a url"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["c"] for r in df.select(canonical_url_expr().alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_url_features_shapes():
    from graby_spark.session import get_spark
    from graby_spark.urls import url_features

    spark = get_spark(master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")

    df = spark.createDataFrame(
        [
            (1, "http://www.ex.com/"),
            (2, "http://ex.com/a/b/my-article-42.html"),
            (3, "http://ex.com/blog/index.html"),
            (4, "http://ex.com/~alice/page7"),
            (5, "http://ex.com/search?q=spark&page=3#frag"),
            (6, None),
        ],
        ["id", "url"],
    )
    rows = {r["id"]: r.asDict() for r in url_features(df).collect()}
    assert rows[1]["path_depth"] == 0 and not rows[1]["is_article_like"]
    a = rows[2]
    assert a["path_depth"] == 3 and a["is_article_like"] and a["n_query_params"] == 0
    assert not rows[3]["is_article_like"]  # index page vetoed
    assert rows[4]["has_tilde"] and rows[4]["path_depth"] == 2
    q = rows[5]
    assert q["n_query_params"] == 2 and not q["is_article_like"]
    assert q["path_len"] == len("/search")
    assert rows[6]["path_depth"] == 0 and rows[6]["digit_ratio"] == 0.0
    assert abs(a["digit_ratio"] - 2 / len("http://ex.com/a/b/my-article-42.html")) < 1e-12
    assert rows[1]["registrable_domain"] == "ex.com"  # www stripped by +1 rule
    assert rows[6]["registrable_domain"] == ""


def test_registrable_domain_expr():
    """eTLD+1: multi-label public suffixes keep three labels, the
    single-label default rule keeps two, IP literals pass whole."""
    from pyspark.sql import functions as F

    from graby_spark.session import get_spark
    from graby_spark.urls import registrable_domain_expr

    spark = get_spark(master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    cases = [
        ("http://www.bbc.co.uk/news", "bbc.co.uk"),
        ("https://a.b.example.co.jp/x", "example.co.jp"),
        ("http://blog.example.com/", "example.com"),
        ("http://example.com", "example.com"),
        ("http://EXAMPLE.ORG./p", "example.org"),  # case + trailing dot
        ("http://192.168.0.1/admin", "192.168.0.1"),
        ("http://localhost/x", "localhost"),  # single label passes whole
        ("http://sub.domain.com.au:8080/p", "domain.com.au"),  # port excluded
        ("http://deep.a.b.c.d.net/", "d.net"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [
        r[0]
        for r in df.select(registrable_domain_expr("url")).collect()
    ]
    assert got == [e for _, e in cases]


def test_validate_date_iso_fast_path_matches_dateutil():
    """The strict-ISO fast path in validate_date must be byte-identical to
    the dateutil slow path (ContentExtractor.php:735-748 semantics); pins
    the offset normalization, calendar validation, Z handling, fractional
    truncation, and the glibc unpadded-%Y year quirk."""
    from graby_spark.textutils import validate_date

    cases = {
        # fast path hits
        "2020-01-01T00:00:00+00:00": "2020-01-01T00:00:00+00:00",
        "2020-01-01T00:00:00Z": "2020-01-01T00:00:00+00:00",
        "2021-12-31T23:59:59-09:30": "2021-12-31T23:59:59-09:30",
        "2020-06-15T12:34:56+0200": "2020-06-15T12:34:56+02:00",
        "2020-06-15 12:34:56+02:00": "2020-06-15T12:34:56+02:00",
        "2020-06-15T12:34:56.123+02:00": "2020-06-15T12:34:56+02:00",
        "2024-02-29T01:02:03Z": "2024-02-29T01:02:03+00:00",
        # dateutil maps -00:00 to UTC
        "2020-01-01T12:00:00-00:00": "2020-01-01T12:00:00+00:00",
        # glibc strftime does not zero-pad %Y below 1000
        "0237-08-13T01:05:27+00:00": "237-08-13T01:05:27+00:00",
        # calendar-invalid → None (fast path falls through, slow path rejects)
        "2023-02-29T01:02:03Z": None,
        "2020-13-01T00:00:00Z": None,
        "2020-01-01T24:00:00Z": None,
        # offset ≥ 24h: dateutil parses but strftime rejects → None, not a crash
        "2020-01-01T12:00:00+25:00": None,
        # slow-path shapes still work
        "2020-06-15T12:34:56": "2020-06-15T12:34:56+02:00",
        "2020-01-01T01:02:03Z-09:00": "2020-01-01T01:02:03+00:00",
        "garbage": None,
        "": None,
    }
    for raw, expected in cases.items():
        assert validate_date(raw) == expected, raw

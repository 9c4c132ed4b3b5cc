"""Golden-fixture harness: parse the reference's ``.test`` files
(fixtures/sites/*.test, format per fixtures/sites/README) and run them
through the full pipeline like tests/GrabyTest.php:28-101 does."""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

FIXTURES = os.path.join(os.path.dirname(__file__), "..", "fixtures")

#: crawl-scale hostile pages ``(url, body)``, served as ``text/html``:
#: truncated tags, raw binary masquerading as HTML, NULL payloads,
#: undeclared charsets, a deflate bomb of nested divs, 3000 nested inline
#: tags, an oversized document
HOSTILE_PAGES = [
    ("http://evil.example.com/truncated", b"<html><body><p>cut mid attr <a href="),
    ("http://evil.example.com/binary", bytes(range(256)) * 64),
    ("http://evil.example.com/empty", b""),
    ("http://evil.example.com/null", None),
    ("http://evil.example.com/latin", "caf\xe9 na\xefve".encode("latin-1")),
    ("http://evil.example.com/bom", b"\xff\xfe" + "<p>utf16</p>".encode("utf-16-le")),
    ("http://evil.example.com/nested", b"<div>" * 3000 + b"deep" + b"</div>" * 3000),
    ("http://evil.example.com/inline", b"<p>" + b"<b>" * 3000 + b"deep" + b"</b>" * 3000 + b"</p>"),
    ("http://evil.example.com/huge", b"<p>" + b"x" * 2_000_000 + b"</p>"),
    ("http://evil.example.com/ctrl", b"<p>a\x00b\x01c\x1fd</p>"),
    ("http://evil.example.com/warcish", b"<pre>WARC/1.0\r\nContent-Length: -1</pre>"),
]

_PATTERN = re.compile(
    rb"-----URL-----\s*(?P<url>.*?)\s*"
    rb"-----URL_EFFECTIVE-----\s*(?P<url_effective>.*?)\s*"
    rb"-----HEADER-----\s*(?P<header>.*?)\s*"
    rb"-----LANGUAGE-----\s*(?P<language>.*?)\s*"
    rb"-----AUTHOR-----\s*(?P<author>.*?)\s*"
    rb"-----TITLE-----\s*(?P<title>.*?)\s*"
    rb"-----SUMMARY-----\s*(?P<summary>.*?)\s*"
    rb"-----RAW_CONTENT-----\s*(?P<raw_content>.*?)\s*"
    rb"(?:------RAW_CONTENT2-----\s*(?P<raw_content2>.*?)\s*)?"
    rb"----PARSED_CONTENT-----\s*(?P<parsed_content>.*)\s*",
    re.S,
)


@dataclass
class GoldenCase:
    name: str
    url: str
    url_effective: str
    header: str
    language: str
    author: str
    title: str
    summary: str
    raw_content: bytes
    raw_content2: bytes
    parsed_content: str


def load_golden(name: str) -> GoldenCase:
    path = os.path.join(FIXTURES, "sites", f"{name}.test")
    with open(path, "rb") as fh:
        data = fh.read()
    m = _PATTERN.match(data)
    assert m, f"fixture {name} does not match the section pattern"

    def s(key: str) -> str:
        value = m.group(key)
        return value.decode("utf-8") if value else ""

    return GoldenCase(
        name=name,
        url=s("url"),
        url_effective=s("url_effective"),
        header=s("header"),
        language=s("language"),
        author=s("author"),
        title=s("title"),
        summary=s("summary"),
        raw_content=m.group("raw_content") or b"",
        raw_content2=m.group("raw_content2") or b"",
        parsed_content=s("parsed_content"),
    )


def run_golden(case: GoldenCase):
    from graby_spark.extract import ExtractOptions, extract_one
    from graby_spark.siteconfig import load_ruleset

    ruleset = load_ruleset(os.path.join(FIXTURES, "site_config"))
    options = ExtractOptions(xss_filter=False)  # GrabyTest.php:69
    return extract_one(
        case.raw_content,
        case.url,
        ruleset,
        content_type=case.header,
        options=options,
    )

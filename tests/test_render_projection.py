"""``extract_one(render=False)``: the job's projection pushed into the
UDF body.  Skipping the render tail changes no other field and leaves the
rendered ones at their defaults.  The tail itself renders 3000-deep
inline nesting at the default recursion limit: a tail that raised would
make the full job's row an error row while the projected job's row
succeeds."""

import dataclasses
import os
import sys

import pytest

from graby_spark.extract import ExtractedContent, ExtractOptions, extract_one
from graby_spark.siteconfig import load_ruleset
from perfbench.inputs import recorded_pages

from .golden import FIXTURES, HOSTILE_PAGES

RENDERED_FIELDS = ("spans", "html", "text", "summary")
#: internal handles, not serialized
_HANDLES = ("content", "readability")
_OTHER_FIELDS = [
    f.name
    for f in dataclasses.fields(ExtractedContent)
    if f.name not in RENDERED_FIELDS and f.name not in _HANDLES
]
_DEFAULTS = ExtractedContent(url="", effective_url="")


@pytest.fixture(autouse=True)
def default_recursion_limit():
    saved = sys.getrecursionlimit()
    sys.setrecursionlimit(1000)
    yield
    sys.setrecursionlimit(saved)


def _pages():
    pages = [(p["url"], p["html"], p["content_type"]) for p in recorded_pages()]
    pages += [(url, body or b"", "text/html") for url, body in HOSTILE_PAGES]
    return pages


@pytest.mark.parametrize(
    "options",
    [ExtractOptions(xss_filter=False), ExtractOptions(), ExtractOptions(trace=True)],
    ids=["no_xss_filter", "defaults", "trace"],
)
def test_render_false_changes_only_rendered_fields(options):
    ruleset = load_ruleset(os.path.join(FIXTURES, "site_config"))
    pages = _pages()
    if options != ExtractOptions():
        # the 3000-deep div bomb costs ~10 s a pass; the defaults cover it
        pages = [p for p in pages if not p[0].endswith("/nested")]
    for url, body, content_type in pages:
        full = extract_one(body, url, ruleset, content_type=content_type, options=options)
        bare = extract_one(
            body, url, ruleset, content_type=content_type, options=options, render=False
        )
        for name in _OTHER_FIELDS:
            assert getattr(bare, name) == getattr(full, name), (url, name)
        for name in RENDERED_FIELDS:
            assert getattr(bare, name) == getattr(_DEFAULTS, name), (url, name)


@pytest.mark.parametrize("xss_filter", [False, True])
def test_deep_inline_nesting_renders_at_default_limit(xss_filter):
    """3000 nested <b>s go through the tidy-mode blank-run collapse and,
    with the filter on, the sanitizer's walk and serializer."""
    url, body = next(p for p in HOSTILE_PAGES if p[0].endswith("/inline"))
    ruleset = load_ruleset(os.path.join(FIXTURES, "site_config"))
    res = extract_one(
        body, url, ruleset, content_type="text/html", options=ExtractOptions(xss_filter=xss_filter)
    )
    assert res.is_success
    assert res.text.strip() == "deep"


"""XPath subset evaluator tests — every pattern family from the fixture
site-config corpus and the reference's internal queries."""

import pytest

from graby_spark.dom import AttrNode, parse_html
from graby_spark.xpath import XPathError, evaluate, query

HTML = """
<html lang="fr"><head>
<title>The Title</title>
<meta name="author" content="Jane Doe">
<meta name="DC.language" content="de">
<meta property="og:title" content="OG">
</head><body>
<div id="content" class="story main">
  <h1 class="primary big">Headline</h1>
  <h2 class="primary">Sub</h2>
  <p class="byline"><span>By Bob</span></p>
  <div class="article-head-metas"><a href="/u/1">Alice</a></div>
  <ul><li class="next"><a href="/p2">next</a></li><li>x</li></ul>
  <time pubdate="pubdate">2020-05-06</time>
  <a id="empty"></a>
  <a id="texty">Page suivante</a>
  <div style="display:none">hidden</div>
  <img src="http://x/a.jpg" srcset="b 1x">
</div>
</body></html>
"""


@pytest.fixture(scope="module")
def doc():
    return parse_html(HTML)


@pytest.mark.parametrize(
    ("expr", "count"),
    [
        ("//h1", 1),
        ("//div[@id='content']", 1),
        ("//div[@id = 'content']", 1),
        ('//div[@id="content"]', 1),
        ("//h2[contains(@class, 'primary')]", 1),
        ("//*[contains(concat(' ',normalize-space(@class),' '),' primary ')]", 2),
        ("//li[@class='next']/a", 1),
        ("//p[@class=\"byline\"]/span", 1),
        ("//div[@class='article-head-metas']/a", 1),
        ("//time[@pubdate or @pubDate]", 1),
        ("//a[contains(text(),'Page suivante')]", 1),
        ("//a[not(./*) and normalize-space(.)='']", 1),
        ("//*[contains(@style,'display:none') or contains(@style,'visibility:hidden')]", 1),
        ("//meta[@name=\"DC.language\"]/@content", 1),
        ("//img/@srcset", 1),
        ("//h1 | //h2", 2),
        ("//div[@class='story' or @class='story main']", 1),
        ("//*/meta[starts-with(@property, 'og:')]", 1),
        ("//ul//a", 1),
        ("//body/div//a", 4),
        ("//h1[1]", 1),
        ("//notthere", 0),
        ("//div[@class='nope']", 0),
    ],
)
def test_counts(doc, expr, count):
    assert len(query(expr, doc)) == count, expr


def test_string_function(doc):
    assert evaluate("string(//li[@class='next']/a/@href)", doc) == "/p2"
    assert evaluate("string(//notthere)", doc) == ""


def test_attr_result_value(doc):
    result = evaluate("//html[@lang]/@lang", doc)
    assert isinstance(result[0], AttrNode) and result[0].value == "fr"


def test_relative_vs_absolute(doc):
    h1 = query("//h1", doc)[0]
    content = query("//div[@id='content']", doc)[0]
    # .// relative search
    assert len(query(".//a", content)) == 4
    # // is absolute even with element context (PHP DOMXPath behavior)
    assert len(query("//h1", content)) == 1
    assert query(".//h1", content)[0] is h1


def test_concat_normalize(doc):
    assert evaluate("concat(' ', normalize-space(//h1), ' ')", doc) == " Headline "


def test_comparisons(doc):
    assert evaluate("count(//li) > 1", doc) is True
    assert evaluate("count(//h1) = 1", doc) is True
    assert evaluate("string-length(string(//h1)) = 8", doc) is True


def test_substring_functions(doc):
    assert evaluate("substring-before('a:b', ':')", doc) == "a"
    assert evaluate("substring-after('a:b', ':')", doc) == "b"
    assert evaluate("substring('hello', 2, 3)", doc) == "ell"
    # XPath round() takes halves up, and a NaN bound selects nothing
    assert evaluate("substring('12345', 2.5)", doc) == "345"
    assert evaluate("substring('12345', 1.5, 2.5)", doc) == "234"
    assert evaluate("substring('abc', 'x')", doc) == ""
    assert evaluate("translate('abc', 'ab', 'xy')", doc) == "xyc"
    # a character repeated in the from-string maps by its first occurrence
    assert evaluate("translate('aab', 'aa', 'xy')", doc) == "xxb"


def test_normalize_space_strips_only_xpath_whitespace(doc):
    # XPath whitespace is space, tab, CR and LF; U+00A0 is a character
    assert evaluate("normalize-space(' a\t\r\n b ')", doc) == "a b"
    assert evaluate("normalize-space('a\u00a0b')", doc) == "a\u00a0b"
    assert evaluate("normalize-space('\u00a0')", doc) == "\u00a0"


def test_nbsp_link_is_not_empty():
    html = "<p><a id=n>&nbsp;</a><a id=w> \n </a><a id=t>x</a></p>"
    empty = query("//a[not(./*) and normalize-space(.)='']", parse_html(html))
    assert [a.get("id") for a in empty] == ["w"]


def test_class_token_splits_on_xpath_whitespace():
    html = "<p class='a\tb'></p><p class='a\u00a0b'></p><p class=' b\na '></p><p class=ab></p>"
    expr = "//p[contains(concat(' ', normalize-space(@class), ' '), ' b ')]"
    assert [p.get("class") for p in query(expr, parse_html(html))] == ["a\tb", " b\na "]


def test_text_node_test(doc):
    texts = query("//a[@id='texty']/text()", doc)
    assert len(texts) == 1 and texts[0].data == "Page suivante"


def test_parent_axis(doc):
    li = query("//li[@class='next']/a/..", doc)
    assert len(li) == 1 and li[0].tag == "li"


def test_bad_syntax_raises():
    doc = parse_html("<p>x</p>")
    with pytest.raises(XPathError):
        query("//*[unknownfn(x)]", doc)
    with pytest.raises(XPathError):
        query("///", doc)


def test_union_document_order_dedupe(doc):
    nodes = query("//h1 | //h1 | //h2", doc)
    assert [n.tag for n in nodes] == ["h1", "h2"]


NESTED = "<div class=x><p class=x><span class=x></span></p><p class=x></p></div>"


def _tags(expr: str, html: str = NESTED) -> list[str]:
    return [n.tag for n in query(expr, parse_html(html))]


def test_interpreter_returns_document_order():
    # descendant-or-self then child: the step runs over every element, and
    # the per-context groups (div: p, p; first p: span) must not leak into
    # the result order — DOMXPath returns node-sets in document order
    assert _tags("//*[contains(@class,'x')]") == ["div", "p", "span", "p"]
    assert _tags("//div//*") == ["p", "span", "p"]
    assert _tags("//*[@class]/*") == ["p", "span", "p"]


def test_rewritten_and_per_context_steps_agree_on_order():
    # //T[p] runs as one descendant walk; a positional predicate keeps the
    # per-context child step, whose merged result is sorted
    rewritten, per_context = "//*[@class='x' and true()]", "//*[@class='x' and position() > 0]"
    assert _tags(rewritten) == _tags(per_context) == ["div", "p", "span", "p"]
    assert _tags("//*[@class='x']") == _tags("//*[@class='x'][last() > 0]") == ["div", "p", "span", "p"]


def test_union_of_nested_matches_in_document_order():
    assert _tags("//p | //span") == ["p", "span", "p"]
    assert _tags("//span | //p") == ["p", "span", "p"]
    html = "<div><a href=1><b href=2></b></a><a href=3></a></div>"
    attrs = query("//b/@href | //a/@href", parse_html(html))
    assert [a.value for a in attrs] == ["1", "2", "3"]


def test_first_match_is_earliest_in_document():
    # callers take the first node of a result (title/author/next-page
    # lookups), so a result in context order picks the wrong node: here
    # the first <span>'s parent is the inner <p>, but the <div> comes first
    html = "<div><p><span>a</span></p><span>b</span></div>"
    assert _tags("//span/..", html) == ["div", "p"]
    assert _tags("//p | //div", html) == ["div", "p"]
    assert evaluate("name(//span/..)", parse_html(html)) == "div"

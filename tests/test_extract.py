"""Operator-level extraction tests, ported 1:1 from the reference's
tests/Extractor/ContentExtractorTest.php data providers (SURVEY.md §5.2).

Each test drives ``graby_spark.extract.process`` with an explicit SiteConfig
exactly like the PHPUnit tests drive ``ContentExtractor::process``; expected
values (including serialized XML bodies and W3C dates in Europe/Paris) are
the reference's own expectations.
"""

import os

import pytest

from graby_spark.dom import serialize
from graby_spark.extract import ExtractOptions, process
from graby_spark.siteconfig import SiteConfig, load_ruleset, parse_lines

FIXTURE_DIR = os.path.join(os.path.dirname(__file__), "..", "fixtures", "site_config")
RULESET = load_ruleset(FIXTURE_DIR)
URL = "https://lemonde.io/35941909"

REPEAT = "this is the best part of the show" * 10


def run(html, url=URL, config=None, ruleset=None):
    return process(html, url, ruleset or RULESET, site_config=config)


def xml_content(result):
    assert result.content is not None
    return serialize(result.content)


def readability_content(result):
    return serialize(result.readability.get_content())


def cfg(**kwargs):
    c = SiteConfig()
    for k, v in kwargs.items():
        setattr(c, k, v)
    return c


# -- find_string / replace_string (ContentExtractorTest.php:151-195) -------

def test_find_string():
    config = cfg(
        body=["//iframe"],
        find_string=["<html>&lt;iframe", "&gt;&lt;/iframe&gt;</html>"],
        replace_string=['<iframe class="video"', "></iframe>"],
    )
    result = run(
        '<html>&lt;iframe src=""&gt;&lt;/iframe&gt;</html> <a rel="author" href="/user8412228">CaTV</a>',
        url="https://vimeo.com/35941909",
        config=config,
    )
    assert result.is_success
    assert '<iframe class="video"' in xml_content(result)
    assert result.authors == ["CaTV"]


def test_find_string_bad_count():
    config = cfg(body=["//iframe"], find_string=["one"], replace_string=["1", "2"])
    result = run('<html><iframe src=""></iframe></html>', "https://vimeo.com/35941909", config)
    assert result.is_success
    assert '<iframe src="">[embedded content]</iframe>' in xml_content(result)


# -- next_page_link (:200-229) ----------------------------------------------

@pytest.mark.parametrize(
    ("pattern", "html", "expected"),
    [
        ("string(//a[@class='next'])",
         '<html>here is a test zazaz<a class="next" href="https://lemonde.io/35941909?page=2">https://lemonde.io/35941909?page=2</a></html>',
         "https://lemonde.io/35941909?page=2"),
        ("//a[@class='next']",
         '<html>here is a test zazaz<a class="next" href="https://lemonde.io/35941909?page=2">next page</a></html>',
         "https://lemonde.io/35941909?page=2"),
        ("//a[@class='next']/@href",
         '<html>here is a test zazaz<a class="next" href="https://lemonde.io/35941909?page=2">next page</a></html>',
         "https://lemonde.io/35941909?page=2"),
    ],
)
def test_next_page_link(pattern, html, expected):
    result = run(html, config=cfg(next_page_link=[pattern]))
    assert result.next_page_url == expected


# -- title (:234-261) --------------------------------------------------------

@pytest.mark.parametrize(
    ("pattern", "html", "expected"),
    [
        ("string(//title)", "<html><title>mon titre</title></html>", "mon titre"),
        ("//title", "<html><title>mon titre</title></html>", "mon titre"),
    ],
)
def test_title(pattern, html, expected):
    result = run(html, config=cfg(title=[pattern]))
    assert result.title == expected


# -- author (:266-299) -------------------------------------------------------

@pytest.mark.parametrize(
    ("pattern", "html", "expected"),
    [
        ('//*[(@rel = "author")]', '<html>from <a rel="author" href="/user8412228">CaTV</a></html>', ["CaTV"]),
        ('string(//*[(@rel = "author")])', '<html>from <a rel="author" href="/user8412228">CaTV</a></html>', ["CaTV"]),
        ('string(//*[(@rel = "author")])', '<html>from <a href="/user8412228">CaTV</a></html>', []),
    ],
)
def test_author(pattern, html, expected):
    result = run(html, config=cfg(author=[pattern]))
    assert result.authors == expected


# -- language (:304-328) -----------------------------------------------------

@pytest.mark.parametrize(
    ("html", "expected"),
    [
        ('<html><meta name="DC.language" content="en" />from <a rel="author" href="/user8412228">CaTV</a></html>', "en"),
        ('<html lang="de">from <a rel="author" href="/user8412228">CaTV</a></html>', "de"),
    ],
)
def test_language(html, expected):
    result = run(html, config=cfg())
    assert result.language == expected


# -- date (:333-364) ---------------------------------------------------------

@pytest.mark.parametrize(
    ("pattern", "html", "expected"),
    [
        ("//time[@pubdate or @pubDate]", '<html><time pubdate="2015-01-01">2015-01-01</time></html>', "2015-01-01T00:00:00+01:00"),
        ("//time[@pubdate or @pubDate]", '<html><time pubdate="2015-01-01">date</time></html>', None),
        ("//date[@pubdate or @pubDate]", '<html><time pubdate="2015-01-01">2015-01-01</time></html>', "2015-01-01T00:00:00+01:00"),
        ("string(//time[@pubdate or @pubDate])", '<html><time pubdate="2015-01-01">2015-01-01</time></html>', "2015-01-01T00:00:00+01:00"),
    ],
)
def test_date(pattern, html, expected):
    result = run(html, config=cfg(date=[pattern]))
    assert result.date == expected


# -- strip family (:369-496) -------------------------------------------------

@pytest.mark.parametrize(
    ("pattern", "html", "removed"),
    [
        ("//nav", '<html><body><nav id="high">hello !hello !hello !hello !hello !hello !hello !hello !hello !</nav><p>' + REPEAT + "</p></body></html>", "hello !"),
        ("//p", '<html><body><nav id="high">' + "hello !" * 20 + "</nav><p>" + REPEAT + "</p></body></html>", "this is the best part of the show"),
    ],
)
def test_strip(pattern, html, removed):
    result = run(html, config=cfg(strip=[pattern]))
    assert removed not in readability_content(result)


@pytest.mark.parametrize(
    ("token", "html", "removed", "kept"),
    [
        ("commentlist", '<html><body><nav id="commentlist">hello !hello !hello !hello !hello !hello !hello !hello !hello !</nav><p>' + REPEAT + "</p></body></html>", "hello !", None),
        ("related_post", '<html><body><nav id="high">' + "hello !" * 20 + '</nav><p class="related_post">' + REPEAT + "</p></body></html>", "this is the best part of the show", None),
        ("similar", '<html><body><nav id="high">' + "lorem ipsum dolor sit amet" * 20 + '</nav><p class="similar_post">' + REPEAT + "</p></body></html>", None, 'class="similar_post"'),
    ],
)
def test_strip_id_or_class(token, html, removed, kept):
    result = run(html, config=cfg(strip_id_or_class=[token]))
    content = readability_content(result)
    if removed is None:
        assert kept in content
    else:
        assert removed not in content


def test_strip_image_src():
    html = '<html><body><img src="https://www.doubleclick.net/pub.jpg"/><p>' + REPEAT + "</p></body></html>"
    result = run(html, config=cfg(strip_image_src=["doubleclick.net"]))
    assert result.is_success
    assert "https://www.doubleclick.net/pub.jpg" not in readability_content(result)


@pytest.mark.parametrize(
    ("html", "removed"),
    [
        ('<html><body><p class="instapaper_ignore">hello !hello !hello !hello !hello !hello !hello !hello !hello !</p><p>' + REPEAT + "</p></body></html>", "hello !"),
        ('<html><body><p class="entry-unrelated">hello !hello !hello !hello !hello !hello !hello !hello !hello !</p><p>' + REPEAT + "</p></body></html>", "hello !"),
    ],
)
def test_strip_instapaper_and_unrelated(html, removed):
    result = run(html, config=cfg())
    assert result.is_success
    assert removed not in readability_content(result)


@pytest.mark.parametrize(
    ("patterns", "html", "removed", "kept"),
    [
        (
            ["//*/@class"],
            '<html><body><div class="hello world"><i class="class">bar</i>class="foo"' + REPEAT + ' <a class="hc" href="void">link</a></div></body></html>',
            ['class="class"', 'class="hello world"', 'class="hc"'],
            ['class="foo"', '<a href="void"', "<em>bar"],
        ),
        (
            ["//img/@class", "//p/@class"],
            '<html><body><img class="bar-class" src="void" /><a class="hello" href="void">link</a> <p class="yes">' + REPEAT + "</p></body></html>",
            ['class="bar-class"', 'class="yes"'],
            ['class="hello"'],
        ),
    ],
)
def test_strip_attr(patterns, html, removed, kept):
    result = run(html, config=cfg(strip=patterns))
    content = readability_content(result)
    for item in removed:
        assert item not in content
    for item in kept:
        assert item in content


def test_post_strip_attr():
    config = cfg(body=["//article"], post_strip_attr=["//a/@target"])
    html = "<html><body><article><p>" + REPEAT + '</p><a href="https://example.com" target="_blank" rel="noopener">link</a></article></body></html>'
    result = run(html, config=config)
    content = xml_content(result)
    assert 'target="_blank"' not in content
    assert 'href="https://example.com"' in content
    assert 'rel="noopener"' in content


# -- body (:577-614) ---------------------------------------------------------

@pytest.mark.parametrize(
    ("pattern", "html", "expected"),
    [
        (
            "//p[@class='content']",
            '<html><body><p class="content">hello !hello !hello !hello !hello !hello !hello !hello !hello !</p><p>' + REPEAT + "</p></body></html>",
            '<p class="content">hello !hello !hello !hello !hello !hello !hello !hello !hello !</p>',
        ),
        (
            "//p[@class='content_wrapper']",
            '<html><body><p class="content_wrapper">hello !hello !hello !hello !hello !hello !hello !hello !hello !</p><p class="content_wrapper">' + "this is the best part of the show" * 5 + "</p></body></html>",
            '<div><p class="content_wrapper">hello !hello !hello !hello !hello !hello !hello !hello !hello !</p><p class="content_wrapper">' + "this is the best part of the show" * 5 + "</p></div>",
        ),
    ],
)
def test_extract_body(pattern, html, expected):
    result = run(html, config=cfg(body=[pattern]))
    assert result.is_success
    assert xml_content(result) == expected


def test_body_as_dom_attribute_fails():
    config = cfg(body=["//iframe/@src"])
    result = run('   <iframe src="blog_0x34.md.html" frameborder="0"></iframe>', "https://domattr.io/woops!", config)
    assert not result.is_success


# -- hNews (:619-681) --------------------------------------------------------

@pytest.mark.parametrize(
    ("html", "expected_content", "expected"),
    [
        (
            '<html><body><div class="hentry"><p class="entry-title">hello !</p><time pubdate="2015-01-01">2015-01-01</time><a class="vcard author">hello !</a>hello !hello !hello !hello !hello !hello !hello !<p class="entry-content">' + REPEAT + "</p></div></body></html>",
            '<p class="entry-content">' + REPEAT + "</p>",
            {"title": "hello !", "date": "2015-01-01T00:00:00+01:00", "authors": ["hello !"]},
        ),
        (
            '<html><body><div class="hentry"><time pubdate="2015-01-01">aweomse!</time>hello !hello !hello !hello !hello !hello !hello !<p class="entry-content">' + REPEAT + "</p></div></body></html>",
            '<p class="entry-content">' + REPEAT + "</p>",
            {"date": None},
        ),
        (
            '<html><body><div class="hentry"><p class="vcard author"><a class="fn">first boy</a><a class="fn">first girl</a></p>hello !hello !hello !hello !hello !hello !hello !<p class="entry-content">' + REPEAT + "</p></div></body></html>",
            '<p class="entry-content">' + REPEAT + "</p>",
            {"authors": ["first boy", "first girl"]},
        ),
        (
            '<html><body><div class="hentry"><p class="entry-content">hello !hello !hello !hello !hello !hello !hello !</p><p class="entry-content">' + REPEAT + "</p></div></body></html>",
            '<div><p class="entry-content">hello !hello !hello !hello !hello !hello !hello !</p><p class="entry-content">' + REPEAT + "</p></div>",
            {},
        ),
    ],
)
def test_hnews(html, expected_content, expected):
    result = run(html, config=cfg())
    assert result.is_success
    assert xml_content(result) == expected_content
    for key, value in expected.items():
        assert getattr(result, key) == value, key


# -- instapaper (:686-701) ---------------------------------------------------

def test_instapaper():
    html = '<html><body><div><p class="instapaper_title">hello !</p>hello !hello !hello !hello !hello !hello !hello !<p class="instapaper_body">' + REPEAT + "</p></div></body></html>"
    result = run(html, config=cfg())
    assert result.is_success
    assert xml_content(result) == '<p class="instapaper_body">' + REPEAT + "</p>"
    assert result.title == "hello !"


# -- schema.org (:706-744) ---------------------------------------------------

@pytest.mark.parametrize(
    ("html", "expected"),
    [
        (
            "<html><body><div>hello !hello !hello !hello !hello !hello !hello !<p itemprop=\"articleBody\">" + REPEAT + "</p></div></body></html>",
            '<p itemprop="articleBody">' + REPEAT + "</p>",
        ),
        (
            '<html><body><div><p itemprop="articleBody">hello !hello !hello !hello !hello !hello !hello !</p><p itemprop="articleBody">' + REPEAT + "</p></div></body></html>",
            '<div><p itemprop="articleBody">hello !hello !hello !hello !hello !hello !hello !</p><p itemprop="articleBody">' + REPEAT + "</p></div>",
        ),
        (
            '<html><body><div><p itemprop="articleBody"><img src="http://0.0.0.0/image.jpg" /></p></div></body></html>',
            '<p itemprop="articleBody"><img src="http://0.0.0.0/image.jpg"/></p>',
        ),
    ],
)
def test_schema_org(html, expected):
    result = run(html, config=cfg())
    assert result.is_success
    assert xml_content(result) == expected


# -- title-dup removal (:749-766) -------------------------------------------

def test_remove_heading_matching_title():
    config = cfg(body=["//div"], title=["//title"])
    html = "<html><head><title>My Title</title></head><body><div><h3>My Title</h3>" + REPEAT + "</div></body></html>"
    result = run(html, config=config)
    assert result.is_success
    assert "My Title" not in xml_content(result)
    assert result.title == "My Title"


# -- lazy-load (:771-838) ----------------------------------------------------

DATA_GIF = "data:image/gif;base64,R0lGODlhAQABAAAAACH5BAEKAAEALAAAAAABAAEAAAICTAEAOw=="


@pytest.mark.parametrize(
    ("html", "expected"),
    [
        ("<div>" + REPEAT + f'<img data-src="http://0.0.0.0/big_image.jpg" src="{DATA_GIF}"></div>', '<img src="http://0.0.0.0/big_image.jpg"'),
        ("<div>" + REPEAT + f'<img data-lazy-src="http://0.0.0.0/big_image.jpg" src="{DATA_GIF}"></div>', '<img src="http://0.0.0.0/big_image.jpg"'),
        ("<div>" + REPEAT + f'<img data-lazy-src="http://0.0.0.0/big_image.jpg" src="{DATA_GIF}"><noscript><img src="http://0.0.0.0/big_image_noscript.jpg"></noscript></div>', '<img src="http://0.0.0.0/big_image_noscript.jpg"'),
        ("<div>" + REPEAT + f'<img src="{DATA_GIF}" data-original="http://0.0.0.0/big_image.jpg" class="lazy"/></div>', '<img src="http://0.0.0.0/big_image.jpg"'),
        ("<div>" + REPEAT + f'<img src="{DATA_GIF}" data-sources="http://0.0.0.0/big_image.jpg"/></div>', '<img src="http://0.0.0.0/big_image.jpg"'),
        ("<div>" + REPEAT + f'<img src="{DATA_GIF}" data-toto-src="http://0.0.0.0/big_image.jpg"/></div>', '<img src="http://0.0.0.0/big_image.jpg"'),
        ("<div>" + REPEAT + '<img data-src="http://0.0.0.0/src.jpg" data-srcset="http://0.0.0.0/srcset1 680w, http://0.0.0.0/srcset2 1536w"/></div>', '<img src="http://0.0.0.0/src.jpg" srcset="http://0.0.0.0/srcset1 680w, http://0.0.0.0/srcset2 1536w"/>'),
        ("<div>" + REPEAT + '<img data-src="http://0.0.0.0/src.jpg" data-srcset=""/></div>', '<img src="http://0.0.0.0/src.jpg"/>'),
    ],
)
def test_lazy_load(html, expected):
    config = cfg(body=["//div"])
    config.src_lazy_load_attr = "data-toto-src"
    result = run(html, config=config)
    assert result.is_success
    assert expected in xml_content(result)


# -- iframe placeholder (:840-858) ------------------------------------------

def test_iframe_placeholder():
    config = cfg(body=["//div"])
    html = "<div>" + REPEAT + '<iframe src="http://www.dailymotion.com/embed/video/x2kjh6p"></iframe></div>'
    result = run(html, config=config)
    assert result.is_success
    assert "[embedded content]" in xml_content(result)


# -- native ad (:955-967) ----------------------------------------------------

def test_native_ad():
    html = ' <meta property="og:url" content="https://nativead.io/sponsored/woops"/><p>hihi</p>'
    result = process(html, "https://nativead.io/woops!", RULESET)
    assert result.is_success
    assert result.is_native_ad
    assert "<p>hihi</p>" in xml_content(result)


# -- JSON-LD (:969-1150) -----------------------------------------------------

JSONLD_FULL = ' <script type="application/ld+json">{ "@context": "https:\\/\\/schema.org", "@type": "NewsArticle", "headline": "title !!", "mainEntityOfPage": "http:\\/\\/jsonld.io\\/toto", "datePublished": "2017-10-23T16:05:38+02:00", "dateModified": "2017-10-23T16:06:28+02:00", "description": "it is describe", "articlebody": " my body", "relatedLink": "", "image": { "@type": "ImageObject", "url": "https:\\/\\/static.jsonld.io\\/medias.jpg", "height": "830", "width": "532" }, "author": { "@type": "Person", "name": "bob", "sameAs": ["https:\\/\\/twitter.com\\/bob"] }, "keywords": ["a"] }</script><p>hihi</p>'


def test_jsonld():
    result = run(JSONLD_FULL, url="https://nativead.io/jsonld", config=cfg())
    assert result.is_success
    assert result.title == "title !!"
    assert result.date == "2017-10-23T16:05:38+02:00"
    assert "bob" in result.authors[0]
    assert result.image == "https://static.jsonld.io/medias.jpg"
    assert "<p>hihi</p>" in xml_content(result)


def test_jsonld_multiple_authors():
    html = '<script type="application/ld+json">{"@context":"https://schema.org","@type":"NewsArticle","author":[{"@type":"Person","name":"Elisa Thevenet"},{"@type":"Person","name":"Humphrey Bogart"}]}</script>'
    result = run(html, url="https://nativead.io/jsonld", config=cfg())
    assert result.authors == ["Elisa Thevenet", "Humphrey Bogart"]


def test_jsonld_author_name_list():
    html = '<script type="application/ld+json">{"@context":"https://schema.org","@type":"NewsArticle","author":{"@type":"Person","name":["Greg Myre"]}}</script>'
    result = run(html, url="https://www.npr.org/sections/x", config=cfg())
    assert result.authors == ["Greg Myre"]


def test_jsonld_ignore_list():
    html = (
        '<html><body><script type="application/ld+json">{ "@type": "NewsArticle", "publisher": { "@type": "Organization", "name": "Foobar Company" }, "headline": "The Foobar Company is launching globally", "datePublished": "2019-01-14T16:02:00.000+00:00", "author": { "@type": "Person", "name": "Foobar CEO" } }</script>'
        ' <script type="application/ld+json">{ "@type": "Organization", "name": "Foobar Company", "url": "https:\\/\\/www.example.com" }</script><p>'
        + REPEAT
        + "</p></body></html>"
    )
    result = run(html, url="https://example.com/jsonld", config=cfg())
    assert result.is_success
    assert result.title == "The Foobar Company is launching globally"
    assert "Foobar CEO" in result.authors[0]


def test_jsonld_ignore_list_with_periodical():
    html = (
        '<html><body><script type="application/ld+json">{ "@type": "Periodical", "publisher": { "@type": "Organization", "name": "Foobar Company" }, "name": "Foobar Company", "datePublished": "2019-01-14T16:02:00.000+00:00", "author": { "@type": "Person", "name": "Foobar CEO" } }</script>'
        ' <script type="application/ld+json">{ "@type": "Organization", "name": "Foobar Company", "url": "https:\\/\\/www.example.com" }</script><h1>Hello world, this is title</h1><p>'
        + REPEAT
        + "</p></body></html>"
    )
    result = run(html, url="https://example.com/jsonld", config=cfg())
    assert result.is_success
    assert result.title == "Hello world, this is title"


def test_jsonld_skipper():
    config = cfg()
    config.skip_json_ld = True
    html = (
        '<html><script type="application/ld+json">{ "@type": "NewsArticle", "headline": "title !!", "datePublished": "2017-10-23T16:05:38+02:00", "author": { "@type": "Person", "name": "bob" } }</script>'
        "<body><div>hello !hello !hello !hello !hello !hello !hello !<p itemprop=\"articleBody\">" + REPEAT + "</p></div></body></html>"
    )
    result = run(html, url="https://skipjsonld.io/jsonld", config=config)
    assert result.is_success
    assert not result.title
    assert result.date is None
    assert result.authors == []
    assert "this is the best part of the show" in xml_content(result)


def test_jsonld_name_over_headline():
    html = ' <script type="application/ld+json">{ "@type": "NewsArticle", "headline": "title !!", "name": "name !!" }</script><p>hihi</p>'
    result = run(html, url="https://nativead.io/jsonld", config=cfg())
    assert result.title == "name !!"


def test_jsonld_date_array():
    html = ' <script type="application/ld+json">{ "@type": "NewsArticle", "dateModified": "2014-05-29T13:27:53+0000", "datePublished": ["05/29/2014"] }</script><p>hihi</p>'
    result = run(html, url="https://nativead.io/jsonld", config=cfg())
    assert result.date == "2014-05-29T00:00:00+02:00"


def test_jsonld_image_url_array():
    html = ' <script type="application/ld+json">{ "@type": "NewsArticle", "image": { "@type": "ImageObject", "url": [ "https://a/1.png", "https://a/2.png" ]} }</script><p>hihi</p>'
    result = run(html, url="https://nativead.io/jsonld", config=cfg())
    assert result.image == "https://a/1.png"


def test_unique_authors():
    url = "https://www.lemonde.fr/pixels/article/2018/05/30/x.html"
    html = '<script type="application/ld+json">{"author":{"@type":"Person","name":"William Audureau"}}</script><a class="auteur" target="_blank" href="/journaliste/william-audureau/">William Audureau</a>'
    result = process(html, url, RULESET)
    assert len(result.authors) == len(set(result.authors))


# -- misc (:1171-1199) -------------------------------------------------------

def test_empty_html():
    result = run("", url="https://nativead.io/jsonld", config=cfg())
    assert not result.is_success
    assert not result.image


def test_bad_date_og():
    html = '   <meta property="article:published_time" content="-0001-11-304T00:00:00+00:00" /> <p>' + REPEAT + "</p> "
    result = run(html, url="https://domattr.io/woops!", config=cfg())
    assert result.is_success
    assert result.date is None


def test_opengraph():
    html = """ <meta property="og:title" content="title !!"/>
        <meta property="og:locale" content="fr_FR"/>
        <meta property="article:published_time" content="2017-10-23T17:04:21Z-09:00"/>
        <meta property="article:modified_time" content="2017-10-23T17:04:17Z-09:00"/>
        <meta property="og:image" content="http://static.opengraph.io/medias_11570.jpg"/>
        <meta property="og:image:url" content="http://static.opengraph.io/medias_11570.jpg"/>
        <meta property="og:image:secure_url" content="https://static.opengraph.io/medias_11570.jpg"/>
        <p>hihi</p>"""
    result = run(html, url="https://nativead.io/opengraph", config=cfg())
    assert result.is_success
    assert result.title == "title !!"
    assert result.date == "2017-10-23T17:04:21+00:00"
    assert result.language == "fr_FR"
    assert result.image == "https://static.opengraph.io/medias_11570.jpg"
    assert "<p>hihi</p>" in xml_content(result)


def test_og_data_uri_image_skipped():
    html = f' <html><meta content="{DATA_GIF}" property="og:image" /><meta content="http://www.io.lol" property="og:url"/><p>hihi</p></html>'
    result = run(html, url="https://nativead.io/opengraph", config=cfg())
    assert result.is_success
    assert not result.image
    assert "<p>hihi</p>" in xml_content(result)


# -- wrap_in (:1204-1254) ----------------------------------------------------

@pytest.mark.parametrize(
    ("wrap_in", "check"),
    [
        ({"blockquote": "//div[@class='cond1']"}, "//blockquote/div[@class='cond1']/p"),
        ({"blockquote": "//div[@class='cond1']/p"}, "//div[@class='cond1']/blockquote/p"),
    ],
)
def test_wrap_in(wrap_in, check):
    from graby_spark.dom import parse_html
    from graby_spark.xpath import query

    config = cfg(body=["//article"])
    config.wrap_in = wrap_in
    result = run('<html><article><div class="cond1"><p>Hello world</p></div></article></html>', config=config)
    assert result.is_success
    from graby_spark.dom import inner_html

    reparsed = parse_html(inner_html(result.content))
    assert len(query(check, reparsed)) == 1


def test_pre_post_filters_and_retry():
    """D2/D3: user regex filters apply; a tidy-breaking page retries
    without the tidy normalizations."""
    from graby_spark.extract import ExtractOptions, extract_one
    from graby_spark.siteconfig import RuleSet

    opts = ExtractOptions(
        xss_filter=False,
        pre_filters={r"BADTOKEN": ""},
        post_filters={r"<span id=\"dropme\"[^>]*>.*?</span>": ""},
    )
    html = (
        b'<html><body><div itemprop="articleBody"><p>BADTOKENkeep this text for'
        b' the extraction outcome <span id="dropme">gone</span>done</p></div></body></html>'
    )
    r = extract_one(html, "http://f.example/x", RuleSet({}), options=opts)
    assert r.is_success
    assert "BADTOKEN" not in r.html and "gone" not in r.html
    assert "keep this text" in r.html


def test_meta_refresh_redirect_target():
    """S8 (HttpClient.php:452-475): both attribute orders, quoting styles,
    &amp; decoding, relative resolution; recorded as redirect_target, not
    followed; _escaped_fragment_ pages skip detection like the reference."""
    from graby_spark.extract import ExtractOptions, extract_one
    from graby_spark.siteconfig import RuleSet

    opts = ExtractOptions(xss_filter=False)
    body = b'<div itemprop="articleBody"><p>enough text for the extraction to succeed here</p></div>'

    r = extract_one(
        b'<html><head><meta HTTP-EQUIV="REFRESH" content="0; url=http://t.example/x?a=1&amp;b=2"></head><body>'
        + body + b"</body></html>",
        "http://f.example/x", RuleSet({}), options=opts)
    assert r.redirect_target == "http://t.example/x?a=1&b=2"

    # reverse attribute order, single quotes, relative target
    r = extract_one(
        b"<html><head><meta content='5; url=/land/7' http-equiv='refresh'></head><body>"
        + body + b"</body></html>",
        "http://f.example/dir/x", RuleSet({}), options=opts)
    assert r.redirect_target == "http://f.example/land/7"

    # no refresh meta -> no target
    r = extract_one(b"<html><body>" + body + b"</body></html>",
                    "http://f.example/x", RuleSet({}), options=opts)
    assert r.redirect_target is None

    # _escaped_fragment_ url: reference skips the redirect checks entirely
    r = extract_one(
        b'<html><head><meta http-equiv="refresh" content="0; url=http://t.example/y"></head><body>'
        + body + b"</body></html>",
        "http://f.example/x?_escaped_fragment_=", RuleSet({}), options=opts)
    assert r.redirect_target is None

    # meta refresh takes precedence over the AJAX fragment trigger
    # (HttpClient.php:224: getMetaRefreshURL ?? getUglyURL)
    r = extract_one(
        b'<html><head><meta http-equiv="refresh" content="0; url=http://t.example/z">'
        b"<meta name='fragment' content='!'/></head><body>" + body + b"</body></html>",
        "http://f.example/x", RuleSet({}), options=opts)
    assert r.redirect_target == "http://t.example/z"
    assert "_escaped_fragment_" not in r.effective_url


def test_img_no_referrer():
    from graby_spark.extract import ExtractOptions, extract_one
    from graby_spark.siteconfig import RuleSet

    html = b'<html><body><div itemprop="articleBody"><p><img src="http://e/i.jpg"/>plenty of surrounding text to make the body extraction succeed well</p></div></body></html>'
    r = extract_one(html, "http://f.example/x", RuleSet({}),
                    options=ExtractOptions(xss_filter=False, img_no_referrer=True))
    assert 'referrerpolicy="no-referrer"' in r.html
    r2 = extract_one(html, "http://f.example/x", RuleSet({}),
                     options=ExtractOptions(xss_filter=False))
    assert "referrerpolicy" not in r2.html


def test_readability_inner_text_in_document_order():
    from graby_spark.dom import parse_html
    from graby_spark.readability import _inner_text

    div = parse_html("<div>one <b>two</b> three <i>four</i> five</div>").body().children[0]
    assert _inner_text(div) == "one two three four five"


#: nested markup that once made extraction or parsing quadratic in depth
NESTED_SHAPES = {
    "div": lambda d: "<div>" * d + "deep" + "</div>" * d,
    "div_p": lambda d: "<div><p>some words, more words.</p>" * d + "</div>" * d,
    "table": lambda d: "<table><tr><td>" * d + "deep" + "</td></tr></table>" * d,
    "ul_li": lambda d: "<ul><li>" * d + "deep" + "</li></ul>" * d,
    "a": lambda d: "<p>" + "<a href=x>words, more words. " * d + "</a>" * d + "</p>",
    "unmatched_end_tags": lambda d: "<div>" * d + "</span>" * d,
}


@pytest.mark.parametrize("shape", sorted(NESTED_SHAPES))
def test_extract_one_time_grows_linearly_with_nesting_depth(shape):
    """Four times the depth costs at most 8x the time (linear work reads
    about 4x; the per-element subtree re-walks read 12-24x)."""
    import time

    from graby_spark.extract import extract_one
    from graby_spark.siteconfig import RuleSet

    def best_of_3(depth):
        html = NESTED_SHAPES[shape](depth).encode()
        times = []
        for _ in range(3):
            start = time.perf_counter()
            extract_one(html, "http://deep.example/x", RuleSet({}), render=False)
            times.append(time.perf_counter() - start)
        return min(times)

    shallow, deep = best_of_3(750), best_of_3(3000)
    assert deep <= 8 * shallow, (shape, shallow, deep)


#: markup that once made the tree builder scan the open stack per tag
PARSE_SHAPES = {
    # a list item under n open <div>s has no open <li> to close
    "li_under_divs": lambda n: "<div>" * n + "<li>x</li>" * n,
    # an open <p> behind an <object> is out of scope for every <div>
    "p_behind_object": lambda n: "<p><object>" + "<div>" * n,
    # each <tfoot> closes the last one inside the innermost table
    "tfoot_in_nested_table": lambda n: "<table><tr><td><table>" + "<tfoot>" * n,
    # an open <tbody> behind an <object> is out of scope for every <thead>
    "thead_behind_object": lambda n: "<tbody><object>" + "<div>" * n + "<thead>" * n,
}


@pytest.mark.parametrize("shape", sorted(PARSE_SHAPES))
def test_parse_time_grows_linearly(shape):
    """Four times n costs at most 8x the parse (an open-stack scan per
    start tag read 14-17x)."""
    import time

    from graby_spark.dom import parse_html

    def best_of_3(n):
        html = PARSE_SHAPES[shape](n)
        times = []
        for _ in range(3):
            start = time.perf_counter()
            parse_html(html)
            times.append(time.perf_counter() - start)
        return min(times)

    shallow, deep = best_of_3(2000), best_of_3(8000)
    assert deep <= 8 * shallow, (shape, shallow, deep)


#: (markup, render) of wide sibling lists that once made extraction
#: quadratic in the sibling count
FLAT_SHAPES = {
    "comments": (lambda n: "<div>" + "x<!-- c -->" * n + "</div>", False),
    "inline_edge_space": (lambda n: "<div>" + "<b>x </b>" * n + "</div>", False),
    "empty_p": (
        lambda n: "<html><body>" + "<p><p>w, word</p> text text, more</p>" * n,
        False,
    ),
    "span_unwrap": (
        lambda n: "<html><body><div>" + "<span>w, word</span>" * n + "</div>",
        True,
    ),
}


@pytest.mark.parametrize("shape", sorted(FLAT_SHAPES))
def test_tidy_pass_time_grows_linearly_with_sibling_count(shape):
    """Four times the siblings costs at most 8x the time (a
    ``remove_child`` per comment read about 14x, a ``children.index`` per
    inline element about 10x, an index and a detach per empty ``<p>``
    about 11x, an index, remove and insert per ``<span>`` about 11x)."""
    import time

    from graby_spark.extract import extract_one
    from graby_spark.siteconfig import RuleSet

    markup, render = FLAT_SHAPES[shape]

    def best_of_3(n):
        html = markup(n).encode()
        times = []
        for _ in range(3):
            start = time.perf_counter()
            extract_one(html, "http://flat.example/x", RuleSet({}), render=render)
            times.append(time.perf_counter() - start)
        return min(times)

    shallow, deep = best_of_3(2000), best_of_3(8000)
    assert deep <= 8 * shallow, (shape, shallow, deep)

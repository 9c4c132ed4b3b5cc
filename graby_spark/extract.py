"""Per-document extraction pipeline (SURVEY.md §2.6 D1-D30, §2.8 O1-O13).

``process()`` reimplements ``ContentExtractor::process``
(/root/reference/src/Extractor/ContentExtractor.php:113-700) and
``extract_one()`` the prefetched-content path of ``Graby::fetchContent``
(/root/reference/src/Graby.php:172-183, 288-472): charset decode, mime
routing, regex pre-clean, site-config rules, microformat fallbacks,
Readability scoring, post-processing and excerpt.

This module is pure Python over the graby_spark DOM — there is no Spark
dependency here.  The Spark job wraps ``extract_batch`` (see job.py) in a
``mapInPandas`` stage so one Python worker amortizes ruleset compilation
across a whole Arrow batch; the per-row DOM never crosses the Arrow
boundary.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from . import textutils
from .charset import convert_to_utf8
from .dom import (
    AttrNode,
    Document,
    Element,
    Node,
    RawTextNode,
    TextNode,
    inner_html,
    parse_fragment,
    serialize,
)
from .readability import Readability
from .siteconfig import RuleSet, SiteConfig, host_of_url
from .xpath import XPathError, evaluate, query

__all__ = ["ExtractOptions", "ExtractedContent", "process", "extract_one"]

# ContentExtractorConfig.php:82-89
SRC_LAZY_LOAD_ATTRIBUTES = (
    "data-src",
    "data-lazy-src",
    "data-original",
    "data-sources",
    "data-hi-res-src",
    "data-srcset",
)
# ContentExtractorConfig.php:90
JSON_LD_IGNORE_TYPES = ("Organization", "WebSite", "Person", "VideoGame")

# GrabyConfig.php:119-126
CONTENT_TYPE_EXC = {
    "application/zip": ("link", "ZIP"),
    "application/pdf": ("link", "PDF"),
    "image": ("link", "Image"),
    "audio": ("link", "Audio"),
    "video": ("link", "Video"),
    "text/plain": ("link", "Plain text"),
}

_MIME_RE = re.compile(r"\s*(([-\w]+)/([-\w\+]+))", re.I | re.M)
_CONTAINER_TAGS = frozenset(["div", "article", "section", "header", "footer", "li", "td"])
_UNWRAP_TAGS = frozenset(["div", "article", "section", "header", "footer"])
_HEADING_TAGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])


@dataclass
class ExtractOptions:
    """Engine options (GrabyConfig.php defaults, GrabyConfig.php:108-130)."""

    error_message: str = "[unable to retrieve full-text content]"
    error_message_title: str = "No title found"
    rewrite_relative_urls: bool = True
    content_links: str = "preserve"  # preserve | footnotes | remove
    xss_filter: bool = True
    tz_name: str = textutils.DEFAULT_TZ
    # full-pipeline normalization observed in the reference golden outputs
    # (tests/fixtures/sites/*.test): class attributes are stripped from the
    # final content block and attribute-less <span> wrappers unwrapped.
    # Applied only on the Graby-level path (extract_one/cleanup), never in
    # process() whose unit-level contract keeps classes.
    strip_classes: bool = True
    # per-row input-size cutoff (bytes): giant documents inside an Arrow
    # batch are the worker-OOM vector at crawl scale (SURVEY.md §7 hard
    # part 7 — reference analog is the PREG_JIT fallback, Graby.php:326-330).
    # Oversized rows short-circuit to the error result instead of parsing.
    max_input_bytes: int = 10 * 1024 * 1024
    # D3: user-configurable regex pre/post filters around the parse
    # (ContentExtractorConfig.php:78-81, 102-116): pattern -> replacement
    pre_filters: dict[str, str] = field(default_factory=dict)
    post_filters: dict[str, str] = field(default_factory=dict)
    # O7: set referrerpolicy=no-referrer on content imgs (Graby.php:250-255)
    img_no_referrer: bool = False
    # Per-document step trace (Monolog analog, GrabyHandler.php:19-63):
    # when True, ExtractedContent.trace records which rule fired on which
    # fallback path (site-config pattern / hNews / readability / retry,
    # strip counts) — the observability you need to debug one bad url out
    # of a billion without re-running locally.  Zero overhead when off.
    trace: bool = False


@dataclass
class ExtractedContent:
    """Result record; one output row of the pages->content job."""

    url: str
    effective_url: str
    title: str | None = None
    language: str | None = None
    date: str | None = None
    authors: list[str] = field(default_factory=list)
    image: str | None = None
    is_native_ad: bool = False
    is_success: bool = False
    next_page_url: str | None = None
    single_page_url: str | None = None
    #: S8: meta-refresh / Refresh-header redirect detected in the page —
    #: the crawler would have re-fetched this url (HttpClient.php:191-195,
    #: 452-475); in table mode the row is flagged so curation can follow up
    redirect_target: str | None = None
    spans: list[tuple[int, int]] = field(default_factory=list)
    html: str = ""
    text: str = ""
    summary: str = ""
    mime: str = ""
    #: step journal (only populated under ExtractOptions.trace)
    trace: list[str] = field(default_factory=list)
    # internal handles (not serialized)
    content: Element | None = None
    readability: Readability | None = None


def mime_action_info(content_type: str) -> dict:
    """MIME parse + action lookup (Graby.php:572-601)."""
    info: dict = {"mime": ""}
    m = _MIME_RE.search(content_type or "")
    if m:
        info["mime"] = m.group(1).strip()
        info["type"] = m.group(2).strip()
        info["subtype"] = m.group(3).strip()
        for mime in (info["mime"], info["type"]):
            if mime in CONTENT_TYPE_EXC:
                info["action"], info["name"] = CONTENT_TYPE_EXC[mime]
                break
    return info


# ---------------------------------------------------------------------------
# ContentExtractor::process equivalent
# ---------------------------------------------------------------------------

def _first_node(nodes) -> Node | None:
    for node in nodes:
        if isinstance(node, Node):
            return node
    return None


def _query(pattern: str, context: Node, root: Node | None = None):
    """query() that treats bad patterns as 'no result' like the reference's
    false-check after ``$xpath->query`` (ContentExtractor.php:263-283)."""
    try:
        return query(pattern, context, root)
    except XPathError:
        return None


def _evaluate(pattern: str, context: Node, root: Node | None = None):
    try:
        return evaluate(pattern, context, root)
    except XPathError:
        return None


def _remove_nodes(elems) -> None:
    """removeElements (ContentExtractor.php:809-830): attrs detach from the
    owner, elements detach from the parent, iterating backwards."""
    if not elems:
        return
    for item in reversed(elems):
        if isinstance(item, AttrNode):
            item.detach()
        elif isinstance(item, Element):
            if item.parent is not None:
                item.detach()


def _remove_attr_nodes(elems) -> None:
    if not elems:
        return
    for item in reversed(elems):
        if isinstance(item, AttrNode):
            item.detach()


def _extract_entity(pattern: str, dom: Document) -> str | None:
    """extractEntityFromPattern (ContentExtractor.php:1167-1202): string
    result or first node's text; matched node removed."""
    elems = _evaluate(pattern, dom, dom)
    if elems is None:
        return None
    if isinstance(elems, str):
        if elems.strip() != "":
            return elems.strip()
        return None
    if isinstance(elems, list):
        first = _first_node(elems)
        if first is None:
            return None
        value = first.text_content.strip()
        _detach_any(first)
        return value
    return None


def _extract_entity_multi(pattern: str, dom: Document) -> list[str] | None:
    """extractMultipleEntityFromPattern (ContentExtractor.php:1215-1251)."""
    elems = _evaluate(pattern, dom, dom)
    if elems is None:
        return None
    if isinstance(elems, str):
        if elems.strip() != "":
            return [elems.strip()]
        return None
    values: list[str] = []
    if isinstance(elems, list) and elems:
        for item in elems:
            if not isinstance(item, Node):
                continue
            values.append(item.text_content.strip())
            _detach_any(item)
        return values or None
    return None


def _detach_any(node: Node) -> None:
    if isinstance(node, AttrNode):
        node.detach()
    elif node.parent is not None:
        node.parent.remove_child(node)


def _strip_quotes(value: str) -> str:
    return value.replace("'", "").replace('"', "")


def _class_contains_expr(field_name: str, token: str) -> str:
    return (
        f"contains(concat(' ',normalize-space(@{field_name}), ' '),' {token} ')"
    )


def _extract_og(dom: Document) -> dict:
    """OpenGraph extraction (ContentExtractor.php:1324-1404)."""
    og: dict[str, str] = {}
    for meta in dom.iter("meta"):
        prop = meta.get("property") or ""
        if not prop.startswith("og:"):
            continue
        key = prop.replace(":", "_")
        content = meta.get("content") or ""
        if key in ("og_image", "og_image_url", "og_image_secure_url"):
            if content.lower().startswith("data:image") or og.get(key):
                continue
            og[key] = content
            continue
        og[key] = content

    extracted: dict = {}
    if og.get("og_title"):
        extracted["title"] = og["og_title"]
    # og:image, then og:image:url, finally og:image:secure_url
    for key in ("og_image", "og_image_url", "og_image_secure_url"):
        if og.get(key):
            extracted["image"] = og[key]
    if og.get("og_locale"):
        extracted["language"] = og["og_locale"]

    article: dict[str, str] = {}
    for meta in dom.iter("meta"):
        prop = meta.get("property") or ""
        if prop.startswith("article:"):
            article[prop.replace(":", "_")] = meta.get("content") or ""
    if article.get("article_modified_time"):
        extracted["date"] = article["article_modified_time"]
    if article.get("article_published_time"):
        extracted["date"] = article["article_published_time"]
    return extracted


def _jsonld_authors(authors) -> list[str]:
    """extractAuthorsFromJsonLdArray (ContentExtractor.php:1413-1431)."""
    if isinstance(authors, dict) and "name" in authors:
        name = authors["name"]
        if isinstance(name, list):
            return [str(n) for n in name]
        return [str(name)]
    ret: list[str] = []
    if isinstance(authors, (list, tuple)):
        for author in authors:
            if isinstance(author, dict) and isinstance(author.get("name"), str):
                ret.append(author["name"])
    return ret


def _html_specialchars(text: str) -> str:
    return (
        text.replace("&", "&amp;")
        .replace('"', "&quot;")
        .replace("'", "&#039;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def _extract_jsonld(dom: Document) -> dict:
    """JSON-LD extraction (ContentExtractor.php:1442-1523)."""
    ignore_names: list = []
    candidate_names: list = []
    extracted: dict = {}
    for script in dom.iter("script"):
        if (script.get("type") or "") != "application/ld+json":
            continue
        try:
            data = json.loads(script.text_content.strip())
        except (ValueError, TypeError):
            continue
        if isinstance(data, list):
            data = {i: v for i, v in enumerate(data)}
        if not isinstance(data, dict):
            data = dict(enumerate([data])) if data else {}

        if data.get("@type") in JSON_LD_IGNORE_TYPES:
            if "name" in data:
                ignore_names.append(data["name"])
            continue

        if data.get("dateModified"):
            dm = data["dateModified"]
            extracted["date"] = dm[0] if isinstance(dm, list) and dm else dm
        if data.get("datePublished"):
            dp = data["datePublished"]
            extracted["date"] = dp[0] if isinstance(dp, list) and dp else dp

        if data.get("articleBody"):
            p = Element("p")
            p.append(RawTextNode(_html_specialchars(str(data["articleBody"]).strip())))
            extracted["body"] = p

        if data.get("headline"):
            candidate_names.append(data["headline"])
        if data.get("name"):
            candidate_names.append(data["name"])

        if data.get("author"):
            authors = data["author"]
            authors = _jsonld_authors(authors) if isinstance(authors, (list, dict)) else [authors]
            extracted.setdefault("authors", [])
            extracted["authors"].extend(authors)

        image = data.get("image")
        if isinstance(image, dict) and image.get("url"):
            url_value = image["url"]
            extracted["image"] = url_value[0] if isinstance(url_value, list) and url_value else url_value

    for name in candidate_names:
        if name not in ignore_names:
            extracted["title"] = name
    return extracted


def _extract_defined_information(
    html: str, site_config: SiteConfig, doc: Document | None = None
) -> dict:
    """OG + JSON-LD (ContentExtractor.php:1262-1313).

    The reference builds a second meta-only DOM from the raw string; at the
    point it runs, the main DOM is still unmutated, so we reuse it when the
    caller provides it (saves a full parse per document — the second-biggest
    cost in the hot path)."""
    if html.strip() == "":
        return {}
    if doc is None:
        from .dom import parse_html

        doc = parse_html(html)
    extracted: dict = {}
    og = _extract_og(doc)
    for key in ("title", "image", "language", "date"):
        if og.get(key):
            extracted[key] = og[key]
    if not site_config.skip_json_ld_enabled():
        jsonld = _extract_jsonld(doc)
        if jsonld.get("title") and not extracted.get("title"):
            extracted["title"] = jsonld["title"]
        if jsonld.get("authors"):
            extracted["authors"] = jsonld["authors"]
        if jsonld.get("date") and not extracted.get("date"):
            extracted["date"] = jsonld["date"]
        if jsonld.get("body"):
            extracted["body"] = jsonld["body"]
        if jsonld.get("image") and not extracted.get("image"):
            extracted["image"] = jsonld["image"]
    return extracted


def _extract_body_from_pattern(
    pattern: str,
    context: Node,
    dom: Document,
    readability: Readability,
    site_config: SiteConfig,
) -> Element | None:
    """extractBody (ContentExtractor.php:1049-1125)."""
    elems = _query(pattern, context, dom)
    if not elems:
        return None
    if len(elems) == 1:
        if not isinstance(elems[0], Element):
            return None  # body can't be anything other than an element
        body = elems[0]
        if site_config.prune_enabled():
            readability.prep_article(body)
        return body

    body = Element("div")
    for elem in elems:
        if not isinstance(elem, Node) or elem.parent is None:
            continue
        # skip descendants of already-added nodes
        is_descendant = False
        for added in body.children:
            node = elem.parent
            while node is not None:
                if node is added:
                    is_descendant = True
                    break
                node = node.parent
            if is_descendant:
                break
        if is_descendant:
            continue
        if site_config.prune_enabled() and isinstance(elem, Element):
            readability.prep_article(elem)
        body.append(elem)
    return body


def _find_link_url(
    patterns: list[str],
    rule: str,
    site_config: SiteConfig,
    dom: Document,
) -> str | None:
    """next_page_link / single_page_link evaluation with if_page_contains
    gates (ContentExtractor.php:151-182, Graby.php:729-761)."""
    for pattern in patterns:
        condition = site_config.get_if_page_contains(rule, pattern)
        if condition:
            cond_elems = _evaluate(condition, dom, dom)
            if not (isinstance(cond_elems, list) and len(cond_elems) > 0):
                continue
        elems = _evaluate(pattern, dom, dom)
        if isinstance(elems, str):
            if elems.strip():
                return elems.strip()
            continue
        if isinstance(elems, list) and elems:
            for item in elems:
                if isinstance(item, Element) and item.has_attr("href"):
                    return item.get("href")
                if isinstance(item, AttrNode) and item.value:
                    return item.value
    return None


def process(
    html: str,
    url: str,
    ruleset: RuleSet,
    site_config: SiteConfig | None = None,
    options: ExtractOptions | None = None,
    smart_tidy: bool = True,
    _trace_seed: list[str] | None = None,
) -> ExtractedContent:
    """ContentExtractor::process (ContentExtractor.php:113-700).

    ``smart_tidy`` mirrors the reference's D2 retry: when the tidy-style
    normalizations are active and extraction fails, the whole pass re-runs
    once on the original html with them disabled
    (ContentExtractor.php:674-683)."""
    options = options or ExtractOptions()
    host = host_of_url(url)
    # tr is None when tracing is off — every trace site is guarded by a
    # single `is not None` check, so the off path does no extra work
    tr: list[str] | None = (
        (_trace_seed if _trace_seed is not None else []) if options.trace else None
    )
    if site_config is None:
        site_config = ruleset.for_page(host, html)
        if tr is not None:
            tr.append(f"config: host={host}")
            fp = ruleset.fingerprint_host(html)
            if fp is not None:
                tr.append(f"config: fingerprint={fp}")

    # D3: user regex pre-filters on the raw html
    for pattern, replacement in options.pre_filters.items():
        try:
            html = re.sub(pattern, replacement, html)
        except re.error:
            continue

    # lazy-load attr list extended by siteconfig (ContentExtractor.php:762-764)
    lazy_attrs = list(SRC_LAZY_LOAD_ATTRIBUTES)
    if site_config.src_lazy_load_attr and site_config.src_lazy_load_attr not in lazy_attrs:
        lazy_attrs.append(site_config.src_lazy_load_attr)

    # find_string / replace_string (ContentExtractor.php:709-728)
    if site_config.find_string and len(site_config.find_string) == len(site_config.replace_string):
        for find, replace in zip(site_config.find_string, site_config.replace_string):
            if tr is not None and find in html:
                tr.append(f"find_string: {find!r}")
            html = html.replace(find, replace)

    use_tidy = site_config.tidy_enabled() and smart_tidy
    # D1 parser select (SiteConfig.php:263-270): 'libxml' (default) or
    # 'html5' — the profiles differ in whitespace recovery semantics
    parser = site_config.parser or "libxml"
    readability = Readability(
        html, url, tidy=use_tidy, post_filters=options.post_filters, parser=parser
    )
    dom = readability.dom
    if tr is not None:
        tr.append(f"parse: parser={parser} tidy={'on' if use_tidy else 'off'}")

    result = ExtractedContent(url=url, effective_url=url)
    title: str | None = None
    language: str | None = None
    authors: list[str] = []
    body: Element | None = None
    image: str | None = None
    native_ad = False
    date: str | None = None

    # next page link (D4)
    next_page_url = _find_link_url(site_config.next_page_link, "next_page_link", site_config, dom)

    # single page ("print view") link (G1, Graby.php:712-761) — detection
    # only; the job-level self-join fetches/replaces (resolve_single_page)
    single_page_url = _find_link_url(
        site_config.single_page_link, "single_page_link", site_config, dom
    )

    # OpenGraph / JSON-LD (D5-D6) — nothing has mutated `dom` yet, reuse it
    info = _extract_defined_information(html, site_config, doc=dom)
    if tr is not None and info:
        _defined = [
            k for k in ("title", "image", "language", "date", "authors", "body") if info.get(k)
        ]
        if _defined:
            tr.append("defined: og/json-ld -> " + ",".join(_defined))
    title = info.get("title", title)
    image = info.get("image", image)
    language = info.get("language", language)
    date = info.get("date", date)
    authors = authors + list(info.get("authors", []))
    body = info.get("body", body)

    # native ad clue (D7)
    for pattern in site_config.native_ad_clue:
        elems = _evaluate(pattern, dom, dom)
        if isinstance(elems, list) and elems:
            native_ad = True
            break

    # title by XPath (D8)
    for pattern in site_config.title:
        extracted = _extract_entity(pattern, dom)
        if extracted is not None:
            title = extracted
            if tr is not None:
                tr.append(f"title: siteconfig {pattern}")
            break

    # author by XPath (D9) — only when not already set by JSON-LD
    if not authors:
        for pattern in site_config.author:
            extracted_multi = _extract_entity_multi(pattern, dom)
            if extracted_multi is not None:
                authors = extracted_multi
                if tr is not None:
                    tr.append(f"author: siteconfig {pattern}")
                break

    # date by XPath (D10)
    for pattern in site_config.date:
        extracted = _extract_entity(pattern, dom)
        if extracted is not None:
            date = extracted
            if tr is not None:
                tr.append(f"date: siteconfig {pattern}")
            break

    # language (D11)
    for pattern in ("//html[@lang]/@lang", '//meta[@name="DC.language"]/@content'):
        elems = _evaluate(pattern, dom, dom)
        if isinstance(elems, list) and elems:
            for elem in elems:
                language = elem.text_content.strip()
            if language is not None:
                break

    # wrap_in (D12)
    for tag, pattern in site_config.wrap_in.items():
        elems = _query(pattern, dom, dom)
        if elems is None:
            continue
        for item in list(elems):
            if isinstance(item, Element) and item.parent is not None:
                wrapper = Element(tag)
                item.parent.replace_child(wrapper, item)
                wrapper.append(item)

    # strip (D13)
    for pattern in site_config.strip:
        stripped = _query(pattern, dom, dom)
        if tr is not None and stripped:
            tr.append(f"strip: {pattern} removed={len(stripped)}")
        _remove_nodes(stripped)

    # strip_id_or_class (D14)
    for token in site_config.strip_id_or_class:
        token = _strip_quotes(token)
        expr = (
            f"//*[{_class_contains_expr('class', token)}"
            f" or contains(concat(' ',normalize-space(@id),' '), ' {token} ')]"
        )
        stripped = _query(expr, dom, dom)
        if tr is not None and stripped:
            tr.append(f"strip_id_or_class: {token} removed={len(stripped)}")
        _remove_nodes(stripped)

    # strip_image_src (D15) — strpos truthiness quirk: position 0 does NOT strip
    for token in site_config.strip_image_src:
        token = _strip_quotes(token)
        for img in dom.iter_list("img"):
            src = img.get("src") or ""
            if src.find(token) > 0 and img.parent is not None:
                img.detach()

    # readability/instapaper ignore classes (D16)
    _remove_nodes(
        _query(
            "//*[contains(concat(' ',normalize-space(@class),' '),' entry-unrelated ') "
            "or contains(concat(' ',normalize-space(@class),' '),' instapaper_ignore ')]",
            dom,
            dom,
        )
    )

    # hidden elements (D17)
    _remove_nodes(
        _query(
            "//*[contains(@style,'display:none') or contains(@style,'visibility:hidden')]",
            dom,
            dom,
        )
    )

    # empty <a> (D18)
    _remove_nodes(_query("//a[not(./*) and normalize-space(.)='']", dom, dom))

    # body by XPath (D19)
    for pattern in site_config.body:
        extracted_body = _extract_body_from_pattern(pattern, dom, dom, readability, site_config)
        if extracted_body is not None:
            body = extracted_body
            if tr is not None:
                tr.append(f"body: siteconfig {pattern}")
            break

    # autodetect gates (ContentExtractor.php:354-372)
    detect_title = title is None and (not site_config.title or site_config.autodetect())
    detect_body = body is None and (not site_config.body or site_config.autodetect())
    detect_date = date is None and (not site_config.date or site_config.autodetect())
    detect_author = not authors and (not site_config.author or site_config.autodetect())

    # hNews (D20)
    if detect_title or detect_body:
        hentries = _query("//*[" + _class_contains_expr("class", "hentry") + "]", dom, dom)
        hentry = _first_node(hentries) if hentries else None
        if hentry is not None:
            if detect_title:
                extracted = _extract_query_entity(
                    ".//*[" + _class_contains_expr("class", "entry-title") + "]", hentry, dom
                )
                if extracted is not None:
                    title = extracted
                    detect_title = False
            if detect_date:
                extracted = _extract_query_entity(
                    ".//time[@pubdate or @pubDate] | .//abbr["
                    + _class_contains_expr("class", "published")
                    + "]",
                    hentry,
                    dom,
                )
                if extracted is not None:
                    date = extracted
                    detect_date = False
            if detect_author:
                extracted_authors = _extract_hnews_authors(hentry, dom)
                if extracted_authors:
                    authors = authors + extracted_authors
                    detect_author = False
            if detect_body:
                extracted_body = _extract_body_from_pattern(
                    ".//*[" + _class_contains_expr("class", "entry-content") + "]",
                    hentry,
                    dom,
                    readability,
                    site_config,
                )
                if extracted_body is not None:
                    body = extracted_body
                    detect_body = False
                    if tr is not None:
                        tr.append("body: hnews entry-content")

    # instapaper classes (D21)
    if detect_title:
        extracted = _extract_query_entity(
            ".//*[" + _class_contains_expr("class", "instapaper_title") + "]", dom, dom
        )
        if extracted is not None:
            title = extracted
            detect_title = False
    if detect_body:
        extracted_body = _extract_body_from_pattern(
            "//*[" + _class_contains_expr("class", "instapaper_body") + "]",
            dom,
            dom,
            readability,
            site_config,
        )
        if extracted_body is not None:
            body = extracted_body
            detect_body = False
            if tr is not None:
                tr.append("body: instapaper_body")

    # Schema.org articleBody (D22)
    if detect_body:
        extracted_body = _extract_body_from_pattern(
            "//*[@itemprop='articleBody']", dom, dom, readability, site_config
        )
        if extracted_body is not None:
            body = extracted_body
            detect_body = False
            if tr is not None:
                tr.append("body: schema.org articleBody")

    # rel=author / meta author (D23)
    if detect_author:
        extracted = _extract_query_entity(
            "//a[" + _class_contains_expr("rel", "author") + "]", dom, dom
        )
        if extracted is not None:
            authors = authors + [extracted]
        extracted = _extract_query_entity('//meta[@name="author"]/@content', dom, dom)
        if extracted is not None:
            authors = authors + [extracted]

    # time[@pubdate] (D24)
    if detect_date:
        extracted = _extract_query_entity("//time[@pubdate or @pubDate]", dom, dom)
        if extracted is not None:
            date = extracted

    # Readability fallback (D25).  The reference calls init() whenever
    # detectTitle || detectBody (ContentExtractor.php:529-538), but for a
    # title-only detection init()'s only observable output is getTitle()
    # — identical to the plain <title>/single-<h1> lookup on the
    # unmutated tree (get_title falls back to exactly that) — so the
    # expensive Arc90 scoring pass is gated on detect_body alone:
    # output-equivalent (goldens byte-identical) and skips ~30% of the
    # per-doc Python on ruleset-covered corpora.  This also obviates the
    # defensive body.clone() that protected a found body from init()'s
    # tree mutations.
    readability_success = False
    if detect_body:
        readability_success = readability.init()

    if detect_title:
        rd_title = readability.get_title().strip()
        if rd_title:
            title = rd_title

    date = textutils.validate_date(date, options.tz_name)

    if detect_body and readability_success:
        body = readability.get_content()
        if len(body.children) == 1 and isinstance(body.children[0], Element):
            body = body.children[0]
        if site_config.prune_enabled():
            readability.prep_article(body)
        if tr is not None:
            tr.append(
                "body: readability"
                + (" pruned" if site_config.prune_enabled() else "")
            )

    success = False
    if body is not None:
        _body_fixups(body, title, lazy_attrs, site_config, dom)
        success = True

    # D2 smart-tidy retry (ContentExtractor.php:674-683): failed with the
    # tidy normalizations active → one more pass on the original html
    # without them
    if not success and readability.tidied and smart_tidy:
        retried = process(
            readability.original_html,
            url,
            ruleset,
            site_config=site_config,
            options=options,
            smart_tidy=False,
        )
        if tr is not None:
            retried.trace = tr + ["retry: smart_tidy off"] + retried.trace
        return retried

    result.title = title
    result.language = language
    result.date = date
    result.authors = authors
    result.image = image
    result.is_native_ad = native_ad
    result.is_success = success
    result.next_page_url = next_page_url
    result.single_page_url = single_page_url
    result.content = body
    result.readability = readability
    if tr is not None:
        if title is not None and not any(t.startswith("title:") for t in tr):
            tr.append("title: autodetect (og/json-ld/hnews/readability)")
        tr.append(f"result: success={success}")
        result.trace = tr
    return result


def _extract_query_entity(expr: str, context: Node, dom: Document) -> str | None:
    """extractEntityFromQuery (ContentExtractor.php:903-937): first node's
    text, node removed."""
    elems = _query(expr, context, dom)
    if not elems:
        return None
    first = _first_node(elems)
    if first is None:
        return None
    value = first.text_content.strip()
    _detach_any(first)
    return value


def _extract_hnews_authors(hentry: Node, dom: Document) -> list[str] | None:
    """hNews vcard author extraction (ContentExtractor.php:997-1037)."""
    elems = _query(
        ".//*[" + _class_contains_expr("class", "vcard") + " and ("
        + _class_contains_expr("class", "author") + " or "
        + _class_contains_expr("class", "byline") + ")]",
        hentry,
        dom,
    )
    if not elems:
        return None
    author = elems[0]
    authors: list[str] = []
    fns = _query(".//*[" + _class_contains_expr("class", "fn") + "]", author, dom)
    if fns:
        for fn in fns:
            text = fn.text_content.strip()
            if text:
                authors.append(text)
    else:
        text = author.text_content.strip()
        if text:
            authors.append(text)
    return authors or None


def _body_fixups(
    body: Element,
    title: str | None,
    lazy_attrs: list[str],
    site_config: SiteConfig,
    dom: Document,
) -> None:
    """D26-D29 (ContentExtractor.php:567-667)."""
    # remove leading h1-h6 equal to title (D26)
    if title and body.children:
        first_child = body.children[0]
        idx = 0
        while (
            not isinstance(first_child, Element)
            and idx + 1 < len(body.children)
        ):
            idx += 1
            first_child = body.children[idx]
        if (
            isinstance(first_child, Element)
            and first_child.tag in _HEADING_TAGS
            and first_child.text_content.strip().lower() == title.strip().lower()
        ):
            body.remove_child(first_child)

    # iframe placeholders (D27)
    if body.tag == "iframe":
        if not body.children:
            body.append(TextNode("[embedded content]"))
    else:
        for iframe in body.iter("iframe"):
            if not iframe.children:
                iframe.append(TextNode("[embedded content]"))

    # lazy-load images (D28)
    for img in body.iter_list("img"):
        if not any(img.has_attr(attr) for attr in lazy_attrs):
            continue
        sibling = img.next_sibling()
        # skip whitespace text between img and noscript?  reference checks
        # direct nextSibling only; whitespace text nodes block the noscript
        # branch there too, so match that.
        if (
            isinstance(sibling, Element)
            and sibling.tag == "noscript"
            and sibling.parent is not None
            and img.parent is not None
        ):
            # WordPress lazy-load: replace noscript with its (re)parsed
            # content and drop the amended img
            frag_nodes = parse_fragment(inner_html(sibling))
            parent = sibling.parent
            pos = parent.children.index(sibling)
            parent.remove_child(sibling)
            for offset, frag in enumerate(frag_nodes):
                parent.insert(pos + offset, frag)
            img.detach()
            continue
        attributes: dict[str, str] = {}
        for attr in lazy_attrs:
            if img.has_attr(attr):
                key = "srcset" if attr == "data-srcset" else "src"
                attributes[key] = img.get(attr) or ""
                img.remove_attr(attr)
        for attr in ("src", "srcset"):
            if attributes.get(attr):
                img.set_attr(attr, attributes[attr])

    # post_strip_attr (D29)
    for pattern in site_config.post_strip_attr:
        elems = _query(pattern, body, body.root())
        if not elems and pattern.startswith("//"):
            elems = _query("." + pattern, body, body.root())
        _remove_attr_nodes(elems)

    # strip all style attributes
    for el in body.iter_with_self():
        if el.has_attr("style"):
            el.remove_attr("style")


# ---------------------------------------------------------------------------
# Graby::cleanupHtml equivalent (O1-O11)
# ---------------------------------------------------------------------------

def _collapse_blank_runs(root: Element) -> None:
    """Merge runs of adjacent newline-bearing whitespace-only text nodes
    into a single '\\n', in every element of the subtree (an explicit
    stack, so nesting depth is not bounded by the recursion limit).
    Pure-space separator nodes (moved-out inline edge spaces) are left
    alone."""
    stack = [root]
    while stack:
        el = stack.pop()
        prev_blank = None
        for child in list(el.children):
            if (
                isinstance(child, TextNode)
                and child.data.strip() == ""
                and "\n" in child.data
            ):
                if prev_blank is not None:
                    el.remove_child(child)
                else:
                    child.data = "\n"
                    prev_blank = child
            else:
                prev_blank = None
                if isinstance(child, Element):
                    stack.append(child)


def cleanup_html(
    content: Element,
    readability: Readability,
    url: str,
    options: ExtractOptions,
) -> str:
    """Post-processing & serialization (Graby.php:195-275)."""
    readability.clean(content, "select")  # O1

    if getattr(readability, "tidied", False):
        # tidy-mode: element removals leave runs of adjacent newline
        # separator nodes; the reference (tidy's one-line-break-per-slot
        # output) shows a single '\n' (lifehacker comments section)
        _collapse_blank_runs(content)

    if options.strip_classes:
        _normalize_presentation(content)

    if options.rewrite_relative_urls:
        _make_absolute(url, content)  # O2

    # O3 footnotes (skipped for wikipedia, Graby.php:226-228)
    if options.content_links == "footnotes" and "wikipedia.org" not in host_of_url(url):
        readability.add_footnotes(content)

    content.normalize()
    # O5 (Graby.php:233-237): PHP's foreach over a live childNodes list
    # iterates via nextSibling — removing the current node nulls its
    # nextSibling and ENDS the loop, so exactly the first whitespace-only
    # text child is removed.  Pinned by the lemonde golden (the separator
    # after <figure> is gone, the later <p> separators survive).
    for child in list(content.children):
        if isinstance(child, TextNode) and child.data.strip() == "":
            content.remove_child(child)
            break

    # nesting unwrap (O6)
    while len(content.children) == 1 and isinstance(content.children[0], Element):
        if content.tag not in _UNWRAP_TAGS:
            break
        content = content.children[0]

    # O7: img referrerpolicy toggle (Graby.php:250-255)
    if options.img_no_referrer:
        for img in content.iter("img"):
            img.set_attr("referrerpolicy", "no-referrer")

    # serialize (O8)
    if content.tag in _CONTAINER_TAGS:
        html = inner_html(content)
    else:
        html = serialize(content)

    html = textutils.remove_empty_paragraphs(html)  # O9
    if options.content_links == "remove":
        html = textutils.remove_links_keep_text(html)  # O4

    if options.xss_filter:
        from .sanitize import sanitize_html  # O10

        html = sanitize_html(html)
    return html.strip()


def _normalize_presentation(content: Element) -> None:
    """Strip class attributes recursively and unwrap <span> elements left
    with no attributes (observed full-pipeline behavior of the reference's
    golden outputs — e.g. lemonde '<figure class=..>' → '<figure>',
    '<span class="st">x</span>' → 'x')."""
    if content.has_attr("class"):
        content.remove_attr("class")
    # each affected children list is rebuilt once (a detach per
    # script/style, or an index, remove and insert per span, would make
    # many siblings quadratic)
    hosts: dict[int, Element] = {}
    for el in content.iter_list():
        if el.tag in ("script", "style"):
            hosts[id(el.parent)] = el.parent
            continue
        if el.has_attr("class"):
            el.remove_attr("class")
    for parent in hosts.values():
        kept = []
        for child in parent.children:
            if isinstance(child, Element) and child.tag in ("script", "style"):
                child.parent = None
            else:
                kept.append(child)
        parent.children[:] = kept
    # every attribute-less span gives way to its children, nested ones
    # too: the nearest ancestor that stays inlines them all in one walk
    spans = [span for span in content.iter_list("span") if not span.attrs]
    unwrap = {id(span) for span in spans}
    hosts = {}
    for span in spans:
        host = span.parent
        while id(host) in unwrap:
            host = host.parent
        hosts[id(host)] = host
    for host in hosts.values():
        kept = []
        stack = host.children[::-1]
        while stack:
            node = stack.pop()
            if id(node) in unwrap:
                stack.extend(node.children[::-1])
                node.children.clear()
                node.parent = None
            else:
                node.parent = host
                kept.append(node)
        host.children[:] = kept


_TAG_ATTR_MAP = {"a": "href", "img": "src", "iframe": "src"}
_ABS_OR_ANCHOR_RE = re.compile(r"^(https?://|#)", re.I)


def _make_absolute(base: str, elem: Element) -> None:
    """O2 (Graby.php:800-847)."""
    attr = _TAG_ATTR_MAP.get(elem.tag)
    if attr:
        _make_absolute_attr(base, elem, attr)
    for tag, attr in _TAG_ATTR_MAP.items():
        for e in elem.iter(tag):
            _make_absolute_attr(base, e, attr)


def _make_absolute_attr(base: str, e: Element, attr: str) -> None:
    if not e.has_attr(attr):
        return
    url = (e.get(attr) or "").replace("%20", " ").strip()
    url = url.replace(" ", "%20")
    absolute = url
    if not _ABS_OR_ANCHOR_RE.match(url):
        resolved = textutils.make_absolute(base, url)
        if resolved is not None:
            absolute = resolved
        else:
            absolute = None
    if absolute is not None:
        e.set_attr(attr, absolute)


# ---------------------------------------------------------------------------
# Top-level per-document entry (prefetched-content fetchContent path)
# ---------------------------------------------------------------------------

def extract_one(
    html_bytes: bytes,
    url: str,
    ruleset: RuleSet,
    content_type: str = "text/html; charset=utf-8",
    http_status: int = 200,
    lang_hint: str | None = None,
    options: ExtractOptions | None = None,
    *,
    render: bool = True,
) -> ExtractedContent:
    """One document through the full pipeline (Graby.php:288-472,
    prefetched mode: no network, single/multi-page handled by the job's
    self-join using the emitted ``next_page_url``/single-page columns).

    ``render=False`` skips :func:`render_content`, for callers that read
    none of ``html``/``text``/``summary``/``spans``: they stay at their
    dataclass defaults and every other field is unchanged."""
    options = options or ExtractOptions()
    effective_url = textutils.strip_trackers(url)

    result = ExtractedContent(url=url, effective_url=effective_url)

    mime_info = mime_action_info(content_type)
    result.mime = mime_info.get("mime", "")
    if "action" in mime_info:
        return _handle_mime_action(mime_info, html_bytes, effective_url, content_type, result, options)

    if options.max_input_bytes and len(html_bytes) > options.max_input_bytes:
        result.html = options.error_message
        result.title = options.error_message_title
        result.summary = textutils.excerpt(result.html)
        return result

    html = convert_to_utf8(html_bytes, content_type)

    # find_string/replace_string run BEFORE the redirect checks
    # (HttpClient.php:217 processStringReplacements precedes :224) — site
    # configs rely on this ordering to SUPPRESS refresh-following (e.g.
    # lifehacker.com.au.txt rewrites '<meta http-equiv="refresh"' to
    # '<meta norefresh' precisely so the nojs redirect is never taken).
    # process() applies them again like ContentExtractor.php:130 does; the
    # second pass is a no-op on already-replaced text, same as the
    # reference's double application.
    _trace_seed: list[str] | None = [] if options.trace else None
    _pre_host = host_of_url(effective_url)
    _pre_config = ruleset.for_host(_pre_host)
    if _pre_config.autodetect() and ruleset.fingerprint_configs_have_find_string():
        # only when a fingerprint config could actually contribute
        # find_string rules does the pre-pass pay the full-page scan
        _pre_config = ruleset.for_page(_pre_host, html)
    if _pre_config.find_string and len(_pre_config.find_string) == len(
        _pre_config.replace_string
    ):
        for _find, _replace in zip(_pre_config.find_string, _pre_config.replace_string):
            if _trace_seed is not None and _find in html:
                _trace_seed.append(f"find_string: {_find!r}")
            html = html.replace(_find, _replace)

    # S8/S9 redirect detection, reference precedence (HttpClient.php:224:
    # getMetaRefreshURL ?? getUglyURL, guarded by _escaped_fragment_
    # absence).  A meta-refresh target is RECORDED (redirect_target) — the
    # crawler would have re-fetched it; in table mode the content is
    # prefetched, so the row is flagged for the curation loop instead.
    redirect_target: str | None = None
    if "_escaped_fragment_" not in effective_url:
        redirect_target = _meta_refresh_url(effective_url, html)
        if redirect_target is None and _has_ajax_trigger(html):
            sep = "&" if "?" in effective_url else "?"
            effective_url = f"{effective_url}{sep}_escaped_fragment_="
            result.effective_url = effective_url

    html = textutils.pre_clean(html)

    extracted = process(html, effective_url, ruleset, options=options, _trace_seed=_trace_seed)
    extracted.mime = result.mime
    extracted.url = url
    extracted.effective_url = effective_url
    extracted.redirect_target = redirect_target

    # G1/G2: next/single-page links resolve RFC 3986 against the effective
    # url (Graby.php:389 / :766 via UriResolver::resolve) so the job-level
    # equi-joins key on the true absolute url ('../p2', 'page2.html', ...).
    # An unresolvable link stays raw — resolve_multipage treats a surviving
    # non-absolute link as the reference's makeAbsoluteStr-failure abort.
    for _attr in ("next_page_url", "single_page_url"):
        _link = getattr(extracted, _attr)
        if _link:
            setattr(
                extracted,
                _attr,
                textutils.make_absolute(effective_url, _link) or _link,
            )

    # image absolutize (O13)
    if extracted.image:
        absolute = textutils.make_absolute(effective_url, extracted.image)
        if absolute is not None:
            extracted.image = absolute

    # header Content-Language fallback (Graby.php:370-373)
    if not extracted.language and lang_hint:
        extracted.language = lang_hint

    extracted.title = extracted.title or options.error_message_title
    if render:
        render_content(extracted, options)
    return extracted


def render_content(extracted: ExtractedContent, options: ExtractOptions) -> None:
    """The output tail of :func:`extract_one`: clean up and serialize the
    content node into ``spans``/``html``/``summary``/``text`` (an
    unsuccessful extraction gets the error html).  It sets only those four
    fields; the content node it cleans up in place is read by nothing
    else."""
    if not extracted.is_success or extracted.content is None:
        extracted.html = options.error_message
        extracted.summary = textutils.excerpt(extracted.html)
        extracted.text = ""
        return

    extracted.spans = content_spans(extracted.content)
    html_out = cleanup_html(
        extracted.content, extracted.readability, extracted.effective_url, options
    )
    extracted.html = html_out
    extracted.summary = textutils.excerpt(html_out)
    extracted.text = _plain_text(html_out)


# Meta-refresh patterns, both attribute orders (HttpClient.php:459, :461);
# the Refresh HTTP header uses the same value grammar (HttpClient.php:193)
_META_REFRESH_RES = (
    re.compile(
        r"""<meta http-equiv=["']?refresh["']? content=["']?[0-9];\s*url=["']?([^"'>]+)["']?""",
        re.I,
    ),
    re.compile(
        r"""<meta content=["']?[0-9];\s*url=["']?([^"'>]+)["']? http-equiv=["']?refresh["']?""",
        re.I,
    ),
)
_ABS_HTTP_RE = re.compile(r"^https?://", re.I)


def _meta_refresh_url(effective_url: str, html: str) -> str | None:
    """getMetaRefreshURL (HttpClient.php:452-475): first match of either
    attribute order; ``&amp;`` decoded; relative targets resolved RFC 3986
    against the page url (UriResolver::resolve analog)."""
    if not html:
        return None
    for pattern in _META_REFRESH_RES:
        m = pattern.search(html)
        if m:
            target = m.group(1).strip().replace("&amp;", "&")
            if _ABS_HTTP_RE.match(target):
                return target
            return textutils.make_absolute(effective_url, target)
    return None


# HttpClientConfig.php:73-78
AJAX_TRIGGERS = (
    "<meta name='fragment' content='!'",
    '<meta name="fragment" content="!"',
    "<meta content='!' name='fragment'",
    '<meta content="!" name="fragment"',
)


def _has_ajax_trigger(html: str) -> bool:
    lower = html.lower()
    return any(trigger in lower for trigger in AJAX_TRIGGERS)


def content_spans(content: Element) -> list[tuple[int, int]]:
    """Source-character spans of the extracted content (north_star output
    column ``spans``): offsets into the decoded page where the chosen
    blocks came from.  Synthesized wrappers (no offsets) fall through to
    their children; overlapping/adjacent spans merge."""
    raw: list[tuple[int, int]] = []
    stack: list[Element] = [content]
    while stack:
        el = stack.pop()
        if el.src_start is not None and el.src_end is not None:
            raw.append((el.src_start, el.src_end))
            continue
        for child in el.children:
            if isinstance(child, Element):
                stack.append(child)
    raw.sort()
    merged: list[tuple[int, int]] = []
    for start, end in raw:
        if merged and start <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], end))
        else:
            merged.append((start, end))
    return merged


_TAG_STRIP_RE = re.compile(r"<[^>]+>")


def _plain_text(html: str) -> str:
    """Deterministic tag-strip text of the final HTML (north_rule's
    'extracted text' column): tags → space, entities left as-is, whitespace
    collapsed.  The collapse runs as C-level replace/split/join — ~2.4×
    faster than regex sub on text-heavy documents, byte-identical output
    (split(" ")+filter collapses exactly the [ \\t\\r\\n]+ runs once the
    other three are mapped to spaces; final strip() matches the regex
    version's strip())."""
    text = _TAG_STRIP_RE.sub(" ", html)
    if "\t" in text:
        text = text.replace("\t", " ")
    if "\r" in text:
        text = text.replace("\r", " ")
    if "\n" in text:
        text = text.replace("\n", " ")
    return " ".join([w for w in text.split(" ") if w]).strip()


def _handle_mime_action(
    mime_info: dict,
    body: bytes,
    effective_url: str,
    content_type: str,
    result: ExtractedContent,
    options: ExtractOptions,
) -> ExtractedContent:
    """handleMimeAction (Graby.php:621-707): link/image/pdf/text routes."""
    result.title = mime_info["name"]
    result.language = ""
    result.is_success = True

    if mime_info["action"] == "exclude":
        # excluded mime: the reference throws; we emit a reject row
        result.is_success = False
        result.html = ""
        result.summary = ""
        return result

    result.html = f'<a href="{effective_url}">Download {mime_info["name"]}</a>'

    if mime_info.get("type") == "image":
        result.html = (
            f'<a href="{effective_url}">'
            f'<img src="{effective_url}" alt="{mime_info["name"]}" /></a>'
        )

    if mime_info.get("mime") == "application/pdf":
        from .pdf import extract_pdf

        pdf = extract_pdf(body)
        html = pdf.text.replace("\n", "<br />\n")
        html = re.sub(
            "[^\u0009\u000a\u000d\u0020-\ud7ff\ue000-\ufffd]+", " ", html
        )
        result.html = html
        if pdf.title:
            result.title = pdf.title
        if pdf.author:
            result.authors = [pdf.author]
        if pdf.creation_date:
            result.date = textutils.validate_date(pdf.creation_date, options.tz_name)

    if mime_info.get("mime") == "text/plain":
        text = convert_to_utf8(body, content_type)
        if options.xss_filter:
            # Graby.php:698 runs the converted body through cleanupXss
            # before wrapping it in <pre>
            from .sanitize import sanitize_html

            text = sanitize_html(text)
        result.html = "<pre>" + text + "</pre>"

    if options.xss_filter:
        # Graby.php:704: ALL handleMimeAction html passes through cleanupXss
        from .sanitize import sanitize_html

        result.html = sanitize_html(result.html)

    result.summary = textutils.excerpt(result.html)
    result.text = _plain_text(result.html)
    return result

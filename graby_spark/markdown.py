"""HTML → Markdown serialization of extracted article content.

LLM training corpora ship extracted web text as Markdown (headings, lists
and links survive; boilerplate markup does not), so this is the natural
final serialization of the extraction pipeline's ``content_html``.

:func:`to_markdown` walks the in-house DOM (``graby_spark.dom`` — the same
parser the extractor uses, so the conversion sees exactly the tree the
extractor produced) and emits CommonMark-flavored text:

- ``h1``–``h6`` → ``#``-prefixed headings; ``p`` → blank-line paragraphs
- ``ul``/``ol`` → ``- `` / ``1. `` items, nested lists indented two spaces
- ``blockquote`` → ``> `` line prefix; ``hr`` → ``---``
- ``pre`` → fenced code block (content verbatim); inline ``code`` → backticks
- ``a`` → ``[text](href)``; ``img`` → ``![alt](src)``
- ``strong``/``b`` → ``**x**``; ``em``/``i`` → ``*x*``; ``br`` → line break
- inline whitespace collapses to single spaces (block boundaries supply
  the structure); unknown tags are transparent containers

Markdown metacharacters inside text are NOT escaped: the output is for
model consumption, not lossless round-tripping — documented so consumers
don't assume re-parseability.

The distributed operator :func:`markdown_column` is an Arrow-vectorized
``pandas_udf`` (row-local, narrow, no shuffle — inherits the scan's
parallelism like the extraction stage itself).
"""

from __future__ import annotations

# top-level so pandas_udf string annotations resolve against module globals
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from graby_spark.dom import Element, Node, TextNode, parse_html

_HEADINGS = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_SKIP = {"script", "style", "head", "template", "noscript"}
_BLOCK = {
    "p", "div", "article", "section", "main", "body", "html", "header",
    "footer", "aside", "figure", "figcaption", "ul", "ol", "li",
    "blockquote", "pre", "hr", "table", "thead", "tbody", "tr",
} | set(_HEADINGS)


# <br> emits this sentinel so the hard break survives whitespace collapse
_BR = "\x00"


def _collapse(text: str) -> str:
    return "\n".join(
        s for s in (" ".join(seg.split()) for seg in text.split(_BR))
    ).strip("\n")


def _inline(node: Node) -> str:
    """Render a node in inline context → markdown string (uncollapsed)."""
    if isinstance(node, TextNode):
        return node.data
    if not isinstance(node, Element):
        return ""
    tag = node.tag
    if tag in _SKIP:
        return ""
    inner = "".join(_inline(c) for c in node.children)
    if tag in ("strong", "b"):
        body = inner.strip()
        return f"**{body}**" if body else ""
    if tag in ("em", "i"):
        body = inner.strip()
        return f"*{body}*" if body else ""
    if tag == "code":
        body = inner.strip()
        return f"`{body}`" if body else ""
    if tag == "a":
        href = node.get("href") or ""
        body = _collapse(inner) or href
        return f"[{body}]({href})" if href else inner
    if tag == "img":
        src = node.get("src") or ""
        alt = node.get("alt") or ""
        return f"![{alt}]({src})" if src else ""
    if tag == "br":
        return _BR
    return inner


def _list_items(el: Element, ordered: bool) -> list[str]:
    items: list[str] = []
    n = 0
    for child in el.children:
        if not (isinstance(child, Element) and child.tag == "li"):
            continue
        n += 1
        marker = f"{n}. " if ordered else "- "
        sub_blocks = _blocks(child)
        # tight nesting: a sub-list attaches directly under its item text,
        # other block types keep the paragraph break
        parts: list[str] = []
        for b in sub_blocks:
            sep = "\n" if parts and b.lstrip().startswith(("- ", "1. ")) else "\n\n"
            parts.append(b if not parts else sep + b)
        body = "".join(parts)
        lines = body.split("\n")
        indented = [marker + lines[0]] + ["  " + ln if ln else ln for ln in lines[1:]]
        items.append("\n".join(indented))
    return items


def _blocks(el: Element) -> list[str]:
    """Render an element's children as a list of markdown blocks; bare
    inline runs between block children become implicit paragraphs."""
    out: list[str] = []
    run: list[str] = []

    def flush() -> None:
        if run:
            text = _collapse("".join(run))
            if text:
                out.append(text)
            run.clear()

    for child in el.children:
        tag = child.tag if isinstance(child, Element) else None
        if tag is None or tag not in _BLOCK:
            if tag in _SKIP:
                continue
            run.append(_inline(child))
            continue
        flush()
        if tag in _HEADINGS:
            text = _collapse(_inline(child))
            if text:
                out.append("#" * _HEADINGS[tag] + " " + text)
        elif tag == "hr":
            out.append("---")
        elif tag == "pre":
            body = child.text_content.strip("\n")
            out.append(f"```\n{body}\n```")
        elif tag == "blockquote":
            inner = "\n\n".join(_blocks(child))
            out.append(
                "\n".join(("> " + ln).rstrip() for ln in inner.split("\n"))
            )
        elif tag in ("ul", "ol"):
            items = _list_items(child, ordered=tag == "ol")
            if items:
                out.append("\n".join(items))
            # lenient salvage: malformed lists carry text/blocks outside
            # any <li> (found by the totality property) — surface that
            # content as trailing blocks instead of dropping it
            loose = [
                c
                for c in child.children
                if not (isinstance(c, Element) and c.tag == "li")
            ]
            if loose:
                holder = Element("div")
                holder.children = loose  # read-only walk; parents untouched
                out.extend(_blocks(holder))
        elif tag == "tr":
            cells = [
                _collapse(_inline(c))
                for c in child.children
                if isinstance(c, Element) and c.tag in ("td", "th")
            ]
            if cells:
                out.append("| " + " | ".join(cells) + " |")
        else:  # p, div, li, table containers, …
            out.extend(_blocks(child))
    flush()
    return out


def to_markdown(html: str) -> str:
    if not html:
        return ""
    doc = parse_html(html)
    return "\n\n".join(_blocks(doc))


def markdown_column(df: DataFrame) -> DataFrame:
    """Append a markdown rendering of ``content_html`` (Arrow-vectorized)."""

    @pandas_udf("string")
    def _md(html: pd.Series) -> pd.Series:
        return html.map(lambda v: to_markdown(v) if v is not None else None)

    return df.withColumn("markdown", _md(F.col("content_html")))

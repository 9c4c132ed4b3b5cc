"""Allowlist HTML sanitizer (SURVEY.md §2.8 O10).

Approximates the reference's htmLawed ``safe=1`` profile
(/root/reference/src/Graby.php:1013-1032: keep all elements plus iframe,
drop <meta>, deny ``style``/``srcdoc`` attributes, strip comments/CDATA)
pinned by tests/GrabyTest.php:1159-1184.  Implemented over our DOM as a
parse → filter → serialize pass; runs inside the extraction UDF only when
``xss_filter`` is enabled (the golden fixtures disable it,
tests/GrabyTest.php:69).
"""

from __future__ import annotations

import re
from html import unescape as html_unescape

from .dom import (
    VOID_ELEMENTS,
    CommentNode,
    Element,
    Node,
    RawTextNode,
    TextNode,
    _escape_attr,
    _escape_text,
    parse_fragment,
)

__all__ = ["sanitize_html"]

# htmLawed safe=1 removes these vectors entirely
_DENY_TAGS = frozenset(
    ["script", "applet", "embed", "object", "meta", "base", "basefont", "isindex"]
)
_DENY_ATTRS = frozenset(["style", "srcdoc"])
_EVENT_ATTR_RE = re.compile(r"^on", re.I)
_BAD_SCHEME_RE = re.compile(r"^\s*(javascript|vbscript|data\s*:(?!image/))", re.I)
# browsers strip ASCII control chars / whitespace inside URLs before
# resolving the scheme ("jav\tascript:"), so the scheme check must run on
# the control-stripped value (htmLawed safe=1 does the same)
_CTRL_IN_URL_RE = re.compile(r"[\x00-\x20]+")
_URL_ATTRS = frozenset(["href", "src", "action", "formaction", "poster", "background"])


def _clean_element(el: Element) -> None:
    kept_attrs: list[tuple[str, str]] = []
    for name, value in el.attrs:
        lname = name.lower()
        if lname in _DENY_ATTRS or _EVENT_ATTR_RE.match(lname):
            continue
        if lname in _URL_ATTRS and _BAD_SCHEME_RE.match(
            _CTRL_IN_URL_RE.sub("", html_unescape(value or ""))
        ):
            continue
        kept_attrs.append((name, value))
    el.attrs = kept_attrs
    # htmLawed fills required attributes with defaults (img alt="image")
    if el.tag == "img" and not el.has_attr("alt"):
        el.set_attr("alt", "image")


def _walk(root: Element) -> None:
    # explicit stack — immune to pathological nesting depth
    stack = [root]
    while stack:
        node = stack.pop()
        for child in list(node.children):
            if isinstance(child, CommentNode):
                node.remove_child(child)
            elif isinstance(child, Element):
                if child.tag in _DENY_TAGS:
                    node.remove_child(child)
                else:
                    _clean_element(child)
                    stack.append(child)


def _serialize_lawed(node: Node, out: list[str]) -> None:
    """htmLawed-style serialization: void elements self-close with
    ``<img ... />`` (space before the slash, as pinned by
    tests/GrabyTest.php:1117-1123), non-void empties stay as tag pairs."""
    # explicit stack of (node | closing-string) — no recursion
    stack: list[object] = [node]
    while stack:
        item = stack.pop()
        if isinstance(item, str):
            out.append(item)
        elif isinstance(item, RawTextNode):
            out.append(item.data)
        elif isinstance(item, TextNode):
            out.append(_escape_text(item.data))
        elif isinstance(item, Element):
            out.append("<")
            out.append(item.tag)
            for k, v in item.attrs:
                out.append(f' {k}="{_escape_attr(v)}"')
            if item.tag in VOID_ELEMENTS:
                out.append(" />")
                continue
            out.append(">")
            stack.append(f"</{item.tag}>")
            stack.extend(reversed(item.children))
        # comments are stripped (htmLawed comment=1)


def sanitize_html(html: str) -> str:
    nodes = _walk_fragment(html)
    out: list[str] = []
    for n in nodes:
        _serialize_lawed(n, out)
    return "".join(out)


def _walk_fragment(html: str) -> list[Node]:
    container = Element("div")
    for node in parse_fragment(html):
        container.append(node)
    _walk(container)
    return list(container.children)

"""Lightweight HTML DOM for the extraction pipeline.

A from-scratch, stdlib-only DOM used inside the Arrow/pandas UDFs.  It plays
the role libxml2's recovering HTML parser plays for the reference
(ContentExtractor.php:1134-1149 builds a ``\\DOMDocument`` via php-readability,
all rule application then happens on that mutable tree).  lxml / bs4 are not
available in this environment, so the parser is a one-pass scanner (``_scan``)
that tokenizes as ``html.parser`` does and feeds a tree builder with a small
HTML5-ish recovery model (implied end tags, void elements, implicit
<html>/<body> wrappers).

The serializer targets byte parity with PHP ``DOMDocument::saveXML`` output as
observed in the reference golden fixtures
(/root/reference/tests/fixtures/sites/*.test PARSED_CONTENT):
  * empty elements self-close with a space-less ``/>``  (``<img src="x"/>``)
  * text escapes ``& < >``; attributes additionally escape ``"``
  * attribute order is preserved as parsed
"""

from __future__ import annotations

import re
from html import unescape

__all__ = [
    "Node",
    "Element",
    "TextNode",
    "CommentNode",
    "Document",
    "AttrNode",
    "parse_html",
    "serialize",
    "inner_html",
]

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

# Elements whose open tag implicitly closes a same-or-listed open element
# (small recovery model in the spirit of the HTML5 tree construction rules).
_P_CLOSERS = frozenset(
    "address article aside blockquote details div dl fieldset figcaption figure "
    "footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre section "
    "table ul".split()
)
_IMPLIED_END = {
    "li": frozenset(["li"]),
    "dt": frozenset(["dt", "dd"]),
    "dd": frozenset(["dt", "dd"]),
    "tr": frozenset(["tr", "td", "th"]),
    "td": frozenset(["td", "th"]),
    "th": frozenset(["td", "th"]),
    "option": frozenset(["option"]),
    "optgroup": frozenset(["option", "optgroup"]),
    "thead": frozenset(["tbody", "tfoot"]),
    "tbody": frozenset(["thead", "tbody", "tfoot", "tr", "td", "th"]),
    "tfoot": frozenset(["thead", "tbody", "tr", "td", "th"]),
}
# libxml2 HTMLparser.c allowPCData: elements whose content model includes
# text — whitespace-only runs survive around them (areBlanks)
_PCDATA_ALLOWED = frozenset(
    "a abbr acronym address applet b bdo big blockquote body button caption "
    "center cite code dd del dfn div dt em font form h1 h2 h3 h4 h5 h6 i "
    "iframe ins kbd label legend li noframes noscript object p pre q s samp "
    "small span strike strong sub sup td th tt u var".split()
)

# Elements which cannot be closed implicitly by those rules (scope barriers).
_SCOPE_BARRIERS = frozenset(
    "html body table template caption applet object marquee".split()
)
# List-item scope: a new <li> must not close an <li> OUTSIDE the innermost
# list (html5 "list item scope"; libxml's current-node autoclose walk gives
# the same nesting for ul>li>…>ul>li — lifehacker comment toolbox pin).
_RULE_BARRIERS = {
    "li": frozenset(["ul", "ol"]),
    "dt": frozenset(["dl"]),
    "dd": frozenset(["dl"]),
    "option": frozenset(["select"]),
    "optgroup": frozenset(["select"]),
}
# Open elements whose stack positions the tree builder keeps, by list: one
# list per <p>, implied-end closer and rule barrier tag, and one shared by
# all scope barriers.  An implied close compares the innermost closer with
# the innermost barrier instead of scanning the open stack.
_POSITION_KEY = {
    tag: tag
    for tag in {"p"}.union(*_IMPLIED_END.values(), *_RULE_BARRIERS.values())
}
_POSITION_KEY.update((tag, "#barrier") for tag in _SCOPE_BARRIERS)

# HTML 4.01 element vocabulary (libxml2's htmlElemDesc table).  libxml's
# recovering parser drops whitespace-only text that directly follows an
# element it has no description for (html5 tags like figure/figcaption/
# article) or a void element, and leading blanks — behavior pinned by the
# reference golden fixtures (lemonde figure internals vs kept <p> separators).
_HTML4_TAGS = frozenset(
    "a abbr acronym address applet area b base basefont bdo big blockquote "
    "body br button caption center cite code col colgroup dd del dfn dir div "
    "dl dt em embed fieldset font form frame frameset h1 h2 h3 h4 h5 h6 head "
    "hr html i iframe img input ins isindex kbd label legend li link map menu "
    "meta noframes noscript object ol optgroup option p param pre q s samp "
    "script select small span strike strong style sub sup table tbody td "
    "textarea tfoot th thead title tr tt u ul var".split()
)


class Node:
    """Base DOM node."""

    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: Element | None = None

    @property
    def text_content(self) -> str:
        return ""

    def clone(self) -> "Node":  # pragma: no cover - overridden
        raise NotImplementedError

    def root(self) -> "Node":
        node: Node = self
        while node.parent is not None:
            node = node.parent
        return node


class TextNode(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        super().__init__()
        self.data = data

    @property
    def text_content(self) -> str:
        return self.data

    def clone(self) -> "TextNode":
        return TextNode(self.data)

    def __repr__(self) -> str:  # pragma: no cover
        return f"TextNode({self.data!r})"


class RawTextNode(TextNode):
    """Text stored pre-escaped; serialized verbatim.

    Models PHP ``DOMDocument::createElement($tag, $value)`` whose value is
    not escaped again at save time (used by the JSON-LD articleBody path,
    ContentExtractor.php:1482-1485).
    """

    __slots__ = ()

    def clone(self) -> "RawTextNode":
        return RawTextNode(self.data)


class CommentNode(Node):
    __slots__ = ("data",)

    def __init__(self, data: str) -> None:
        super().__init__()
        self.data = data

    def clone(self) -> "CommentNode":
        return CommentNode(self.data)

    def __repr__(self) -> str:  # pragma: no cover
        return f"CommentNode({self.data!r})"


class AttrNode(Node):
    """Attribute pseudo-node, returned by XPath ``@attr`` selections.

    Mirrors ``\\DOMAttr`` results in the reference: strip rules may target
    attributes (``strip_attr: //img/@srcset``) and removal detaches the
    attribute from its owner element (ContentExtractor.php:819-827).
    """

    __slots__ = ("owner", "name")

    def __init__(self, owner: "Element", name: str) -> None:
        super().__init__()
        self.owner = owner
        self.name = name

    @property
    def value(self) -> str:
        return self.owner.get(self.name) or ""

    @property
    def text_content(self) -> str:
        return self.value

    def detach(self) -> None:
        self.owner.remove_attr(self.name)

    def clone(self) -> "AttrNode":
        return AttrNode(self.owner, self.name)


class Element(Node):
    __slots__ = ("tag", "attrs", "children", "src_start", "src_end")

    def __init__(self, tag: str, attrs: list[tuple[str, str]] | None = None) -> None:
        super().__init__()
        self.tag = tag
        # ordered (name, value) pairs; duplicate names keep first (libxml rule)
        self.attrs: list[tuple[str, str]] = list(attrs or [])
        self.children: list[Node] = []
        # source character offsets (set by the scanner; None when the
        # element was synthesized) — the basis of the output `spans` column
        self.src_start: int | None = None
        self.src_end: int | None = None

    # -- attribute API ---------------------------------------------------
    def get(self, name: str, default: str | None = None) -> str | None:
        for k, v in self.attrs:
            if k == name:
                return v
        return default

    def has_attr(self, name: str) -> bool:
        for k, _ in self.attrs:
            if k == name:
                return True
        return False

    def set_attr(self, name: str, value: str) -> None:
        for i, (k, _) in enumerate(self.attrs):
            if k == name:
                self.attrs[i] = (name, value)
                return
        self.attrs.append((name, value))

    def remove_attr(self, name: str) -> None:
        self.attrs = [(k, v) for k, v in self.attrs if k != name]

    # -- tree API --------------------------------------------------------
    def append(self, node: Node) -> None:
        if node.parent is not None:
            node.parent.remove_child(node)
        node.parent = self
        self.children.append(node)

    def insert(self, index: int, node: Node) -> None:
        if node.parent is not None:
            node.parent.remove_child(node)
        node.parent = self
        self.children.insert(index, node)

    def remove_child(self, node: Node) -> None:
        for i, child in enumerate(self.children):
            if child is node:
                del self.children[i]
                node.parent = None
                return

    def replace_child(self, new: Node, old: Node) -> None:
        for i, child in enumerate(self.children):
            if child is old:
                if new.parent is not None:
                    new.parent.remove_child(new)
                new.parent = self
                self.children[i] = new
                old.parent = None
                return

    def detach(self) -> None:
        if self.parent is not None:
            self.parent.remove_child(self)

    @property
    def first_child(self) -> Node | None:
        return self.children[0] if self.children else None

    def next_sibling(self) -> Node | None:
        if self.parent is None:
            return None
        sibs = self.parent.children
        for i, child in enumerate(sibs):
            if child is self:
                return sibs[i + 1] if i + 1 < len(sibs) else None
        return None

    # -- queries ---------------------------------------------------------
    def iter(self, tag: str | None = None):
        """Depth-first pre-order over descendant elements (self excluded).
        Class-identity check + slice reversal match iter_list's idiom
        (a nested Document cannot occur below an element, and slicing a
        small children list beats a reversed-iterator round trip)."""
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            if node.__class__ is Element:
                if tag is None or node.tag == tag:
                    yield node
                c = node.children
                if c:
                    stack.extend(c[::-1])

    def iter_list(self, tag: str | None = None) -> list["Element"]:
        """List-returning twin of ``iter`` — measurably faster for the
        whole-tree scans of compiled XPath descendant steps (no generator
        resume per element)."""
        out: list[Element] = []
        append = out.append
        stack = self.children[::-1]
        pop = stack.pop
        extend = stack.extend
        while stack:
            node = pop()
            if node.__class__ is Element:
                if tag is None or node.tag == tag:
                    append(node)
                c = node.children
                if c:
                    extend(c[::-1])
        return out

    def iter_with_self(self):
        yield self
        yield from self.iter()

    @property
    def text_content(self) -> str:
        parts: list[str] = []
        append = parts.append
        stack = self.children[::-1]
        while stack:
            node = stack.pop()
            cls = node.__class__
            if cls is TextNode:
                append(node.data)
            elif cls is Element:
                c = node.children
                if c:
                    stack.extend(c[::-1])
        return "".join(parts)

    def clone(self) -> "Element":
        # iterative deep copy — immune to pathological nesting depth
        new = Element(self.tag, list(self.attrs))
        new.src_start, new.src_end = self.src_start, self.src_end
        stack: list[tuple[Element, Element]] = [(self, new)]
        while stack:
            src, dst = stack.pop()
            for child in src.children:
                if isinstance(child, Element):
                    c = Element(child.tag, list(child.attrs))
                    c.src_start, c.src_end = child.src_start, child.src_end
                    stack.append((child, c))
                else:
                    c = child.clone()
                c.parent = dst
                dst.children.append(c)
        return new

    def normalize(self) -> None:
        """Merge adjacent text nodes, drop empty ones (DOM ``normalize()``);
        iterative to survive pathological depth."""
        stack: list[Element] = [self]
        while stack:
            el = stack.pop()
            merged: list[Node] = []
            for child in el.children:
                if isinstance(child, TextNode):
                    if child.data == "":
                        continue
                    if merged and isinstance(merged[-1], TextNode) and type(merged[-1]) is type(child):
                        merged[-1].data += child.data
                        continue
                merged.append(child)
            el.children = merged
            for child in el.children:
                if isinstance(child, Element):
                    stack.append(child)

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Element {self.tag} attrs={self.attrs!r} children={len(self.children)}>"


class Document(Element):
    """Document root; ``tag`` is the synthetic ``#document``."""

    def __init__(self) -> None:
        super().__init__("#document")

    @property
    def document_element(self) -> Element | None:
        for child in self.children:
            if isinstance(child, Element):
                return child
        return None

    def body(self) -> Element | None:
        doc_el = self.document_element
        if doc_el is None:
            return None
        if doc_el.tag == "body":
            return doc_el
        for child in doc_el.children:
            if isinstance(child, Element) and child.tag == "body":
                return child
        return None


class _TreeBuilder:
    """Recovering tree builder producing our Document tree from the
    scanner's tag, text and comment events.

    ``profile='libxml'`` (default) reproduces libxml2 recovery quirks —
    areBlanks whitespace dropping per the allowPCData table (the behavior
    graby's default ``parser: libxml`` sees through PHP's DOMDocument).
    ``profile='html5'`` keeps every whitespace-only text node like an
    html5 tree builder does (graby's ``parser: html5`` / html5-php path);
    the implied-close/list-scope rules are shared (both parsers agree on
    them for the constructs graby meets).
    """

    def __init__(self, profile: str = "libxml") -> None:
        self.profile = profile
        self.document = Document()
        self.stack: list[Element] = []
        #: per-tag count of the elements on ``stack``
        self.open: dict[str, int] = {}
        #: ``stack`` positions of the open elements ``_POSITION_KEY``
        #: names, ascending per list: an implied close reads the innermost
        #: of each, no scan (no nesting makes a parse quadratic)
        self.positions: dict[str, list[int]] = {key: [] for key in _POSITION_KEY.values()}
        self._saw_html = False
        self._saw_body = False
        self._src_pos: int | None = None  # open-tag offset (fast scanner)
        self._src_end: int | None = None  # close-tag end offset

    # stack helpers
    def _truncate(self, i: int) -> None:
        for el in self.stack[i:]:
            self.open[el.tag] -= 1
            key = _POSITION_KEY.get(el.tag)
            if key is not None:
                self.positions[key].pop()
        del self.stack[i:]

    def _reset(self, *stack: Element) -> None:
        """Make ``stack`` the open-element stack (a restart at html, head or
        body level)."""
        self.stack = list(stack)
        self.open = {}
        self.positions = {key: [] for key in _POSITION_KEY.values()}
        for i, el in enumerate(stack):
            self.open[el.tag] = self.open.get(el.tag, 0) + 1
            key = _POSITION_KEY.get(el.tag)
            if key is not None:
                self.positions[key].append(i)

    def _current(self) -> Element:
        if not self.stack:
            self._ensure_body()
        return self.stack[-1]

    def _ensure_html(self) -> Element:
        for child in self.document.children:
            if isinstance(child, Element) and child.tag == "html":
                return child
        html = Element("html")
        self.document.append(html)
        return html

    def _ensure_body(self) -> None:
        """Open implicit <html><body> when content appears at top level."""
        html = self._ensure_html()
        body = None
        for child in html.children:
            if isinstance(child, Element) and child.tag == "body":
                body = child
                break
        if body is None:
            body = Element("body")
            html.append(body)
        if not self.stack:
            self._reset(body)

    def _implied_close(self, tag: str) -> None:
        positions = self.positions
        if tag in _P_CLOSERS and positions["p"]:
            # close the innermost open <p> unless a scope barrier opened
            # inside it
            p = positions["p"][-1]
            scope = positions["#barrier"]
            if not scope or scope[-1] < p:
                self._truncate(p)
        closers = _IMPLIED_END.get(tag)
        if closers:
            # close the innermost open closer unless a scope or rule
            # barrier opened inside it
            closer = max((positions[c][-1] for c in closers if positions[c]), default=-1)
            if closer < 0:
                return
            scope = positions["#barrier"]
            barrier = scope[-1] if scope else -1
            for b in _RULE_BARRIERS.get(tag, ()):
                if positions[b] and positions[b][-1] > barrier:
                    barrier = positions[b][-1]
            if closer > barrier:
                self._truncate(closer)

    # tokenizer events (html.parser's hook names)
    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        tag = tag.lower()
        if len(attrs) < 2:  # no duplicates possible — skip the seen-set pass
            clean_attrs = [(k, v if v is not None else "") for k, v in attrs]
        else:
            clean_attrs = []
            seen: set[str] = set()
            for k, v in attrs:
                if k in seen:
                    continue  # libxml keeps the first duplicate attribute
                seen.add(k)
                clean_attrs.append((k, v if v is not None else ""))

        if tag == "html":
            html = self._ensure_html()
            if not self._saw_html:
                self._saw_html = True
                for k, v in clean_attrs:
                    if not html.has_attr(k):
                        html.set_attr(k, v)
            if not self.stack:
                self._reset(html)
            return
        if tag in ("head", "body"):
            html = self._ensure_html()
            existing = None
            for child in html.children:
                if isinstance(child, Element) and child.tag == tag:
                    existing = child
                    break
            if existing is None:
                existing = Element(tag, clean_attrs)
                html.append(existing)
            else:
                for k, v in clean_attrs:
                    if not existing.has_attr(k):
                        existing.set_attr(k, v)
            self._reset(existing)
            return

        at_html_level = not self.stack or self.stack[-1].tag == "html"
        if at_html_level:
            # metadata content lives in the (implicit) head; everything else
            # opens the implicit body (libxml recovery behaves the same for
            # both missing <html> and content directly under <html>)
            if tag in ("meta", "link", "title", "style", "base"):
                html = self._ensure_html()
                head = None
                for child in html.children:
                    if isinstance(child, Element) and child.tag == "head":
                        head = child
                        break
                if head is None:
                    head = Element("head")
                    html.insert(0, head)
                el = Element(tag, clean_attrs)
                head.append(el)
                if tag not in VOID_ELEMENTS:
                    self._reset(head, el)
                return
            self._reset()
            self._ensure_body()

        self._implied_close(tag)
        el = Element(tag, clean_attrs)
        el.src_start = self._src_pos
        if tag in VOID_ELEMENTS:
            el.src_end = self._src_end
        self._current().append(el)
        if tag not in VOID_ELEMENTS:
            key = _POSITION_KEY.get(tag)
            if key is not None:
                self.positions[key].append(len(self.stack))
            self.stack.append(el)
            self.open[tag] = self.open.get(tag, 0) + 1

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            self.handle_starttag(tag, attrs)
            return
        # <div/> in text/html is an open tag per spec, but libxml's recovery
        # treats XML self-closing syntax as an empty element; match libxml.
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS or not self.open.get(tag):
            return  # void, or unmatched: ignored (recovery)
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i].tag == tag:
                if self._src_end is not None:
                    self.stack[i].src_end = self._src_end
                self._truncate(i)
                if not self.stack:
                    if tag not in ("html", "body", "head"):
                        self._ensure_body()
                return

    def handle_data(self, data: str) -> None:
        if not self.stack or self.stack[-1].tag == "html":
            if data.strip() == "":
                return
            self._reset()
            self._ensure_body()
        cur = self._current()
        if (
            data.strip() == ""
            and self.profile != "html5"
            and self._drops_blank(cur)
        ):
            return
        if cur.children and isinstance(cur.children[-1], TextNode):
            cur.children[-1].data += data
        else:
            cur.append(TextNode(data))

    @staticmethod
    def _drops_blank(cur: Element) -> bool:
        """libxml areBlanks() rule (HTMLparser.c): a whitespace-only run
        between tags is dropped unless its context "allows PCDATA":
        leading blanks survive only inside elements that can hold text
        (blockquote/div/p/... — libxml's allowPCData table; NOT ul/ol/
        table or html5 tags absent from the HTML 4 table like figure/
        section), and blanks after an element survive only when that
        element allows PCDATA and actually has content (void or emptied
        wrappers drop the following run).  Pinned by all three golden
        fixtures (lemonde figure internals, blogger list spacing,
        lifehacker modal/blockquote line breaks)."""
        if cur.tag in ("head", "html"):
            return True
        if not cur.children:
            return cur.tag not in _PCDATA_ALLOWED  # leading blanks
        last = cur.children[-1]
        if isinstance(last, TextNode):
            return False
        if isinstance(last, Element):
            if last.tag in VOID_ELEMENTS:
                return True
            if not last.children:
                return True
            if last.tag not in _PCDATA_ALLOWED:
                return True
        return False

    def handle_comment(self, data: str) -> None:
        if not self.stack:
            return
        self._current().append(CommentNode(data))

    def unknown_decl(self, data: str) -> None:  # CDATA etc.
        if data.startswith("CDATA["):
            self.handle_data(data[6:])


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------
# html.parser.HTMLParser spends most of its time in bookkeeping
# (updatepos/goahead); this scanner drives the _TreeBuilder hooks with one
# pass and a couple of compiled regexes.  Its semantics are html.parser's
# (lowercased names, first-duplicate-attr wins, charrefs resolved in text and
# attribute values, script/style as raw text) and a differential fuzz test
# pins it against an HTMLParser that feeds the same builder
# (tests/test_properties.py).

_TAGNAME_RE = re.compile(r"[a-zA-Z][^\t\n\r\f />\x00]*")
# html.parser's own tolerant attribute regex — keeps the scanner
# byte-identical to html.parser on malformed attribute syntax (e.g. quoted bare names)
from html import parser as _html_parser_mod

_ATTR_RE = _html_parser_mod.attrfind_tolerant
# raw-text elements: match html.parser's CDATA_CONTENT_ELEMENTS exactly
# (script/style only) so both tokenizers build identical trees
_RAWTEXT_CLOSE = {
    tag: re.compile(rf"</{tag}(?=[\s/>])|</{tag}$", re.I) for tag in ("script", "style")
}


def _emit_tail(html: str, pos: int, builder: "_TreeBuilder") -> None:
    """Incomplete construct at EOF: html.parser flushes it as text."""
    tail = html[pos:]
    if tail:
        builder.handle_data(unescape(tail) if "&" in tail else tail)


def _scan(html: str, builder: "_TreeBuilder") -> None:
    pos = 0
    n = len(html)
    find = html.find
    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            text = html[pos:]
            if text:
                builder.handle_data(unescape(text) if "&" in text else text)
            break
        if lt > pos:
            text = html[pos:lt]
            builder.handle_data(unescape(text) if "&" in text else text)
        # dispatch on what follows '<'
        nxt = html[lt + 1 : lt + 2]
        if nxt == "!":
            if html.startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end < 0:
                    # unterminated comment at EOF flushes as text (html.parser)
                    _emit_tail(html, lt, builder)
                    break
                builder.handle_comment(html[lt + 4 : end])
                pos = end + 3
                continue
            if html.startswith("<![CDATA[", lt):
                end = find("]]>", lt + 9)
                if end < 0:
                    builder.unknown_decl("CDATA[" + html[lt + 9 :])
                    break
                builder.unknown_decl("CDATA[" + html[lt + 9 : end])
                pos = end + 3
                continue
            end = find(">", lt)  # doctype / bogus decl
            if end < 0:
                _emit_tail(html, lt, builder)
                break
            pos = end + 1
            continue
        if nxt == "?":
            end = find(">", lt)  # processing instruction
            if end < 0:
                _emit_tail(html, lt, builder)
                break
            pos = end + 1
            continue
        if nxt == "/":
            m = _TAGNAME_RE.match(html, lt + 2)
            end = find(">", lt)
            if end < 0:
                _emit_tail(html, lt, builder)
                break
            if m:
                builder._src_end = end + 1
                builder.handle_endtag(m.group(0).lower())
                builder._src_end = None
            pos = end + 1
            continue
        m = _TAGNAME_RE.match(html, lt + 1)
        if m is None:
            if lt + 1 >= n or nxt in ("!", "?", "/"):
                _emit_tail(html, lt, builder)
                break
            # literal '<' in text
            builder.handle_data("<")
            pos = lt + 1
            continue
        tag = m.group(0).lower()
        i = m.end()
        builder._src_pos = lt
        attrs: list[tuple[str, str | None]] = []
        self_closing = False
        while i < n:
            ch = html[i]
            if ch == ">":
                i += 1
                break
            if ch == "/" and html[i + 1 : i + 2] == ">":
                self_closing = True
                i += 2
                break
            am = _ATTR_RE.match(html, i)
            if am is None or am.end() == i:
                i += 1
                continue
            name = am.group(1).lower()
            raw = am.group(3)
            if raw is None:
                value: str | None = None
            else:
                if raw[:1] == "'" == raw[-1:] or raw[:1] == '"' == raw[-1:]:
                    raw = raw[1:-1]
                value = unescape(raw) if "&" in raw else raw
            attrs.append((name, value))
            i = am.end()
        else:
            # unterminated start tag at EOF: HTMLParser emits it as text
            _emit_tail(html, lt, builder)
            break
        builder._src_end = i
        if self_closing:
            builder.handle_startendtag(tag, attrs)
        else:
            builder.handle_starttag(tag, attrs)
            closer = _RAWTEXT_CLOSE.get(tag)
            if closer is not None:
                cm = closer.search(html, i)
                if cm is None:
                    if i < n:
                        builder.handle_data(html[i:])
                    builder.handle_endtag(tag)
                    break
                raw_text = html[i : cm.start()]
                if raw_text:
                    builder.handle_data(raw_text)
                builder.handle_endtag(tag)
                gt = find(">", cm.start())
                i = (gt + 1) if gt >= 0 else n
        pos = i


def parse_html(html: str, profile: str = "libxml") -> Document:
    """Parse an HTML string into a Document, never raising on bad markup.

    The one-pass scanner above tokenizes ``html`` into the tree builder.
    ``profile`` picks the recovery semantics: 'libxml' (graby default) or
    'html5' (site configs with ``parser: html5``)."""
    builder = _TreeBuilder(profile=profile)
    try:
        _scan(html, builder)
    except Exception:
        # total recovery: return whatever tree was built so far
        pass
    builder._ensure_body()
    return builder.document


# ---------------------------------------------------------------------------
# Serialization (PHP DOMDocument::saveXML parity)
# ---------------------------------------------------------------------------

def _escape_text(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(value: str) -> str:
    return (
        value.replace("&", "&amp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
        .replace('"', "&quot;")
    )


# Raw-text elements: PHP saveXML still escapes their text (they become normal
# text nodes after parse); match that.

def serialize(node: Node) -> str:
    """Outer serialization of a node, saveXML-style (iterative — immune to
    pathological nesting depth)."""
    out: list[str] = []
    _serialize_into(node, out)
    return "".join(out)


def _serialize_into(node: Node, out: list[str]) -> None:
    # explicit stack of (node | closing-string) — no recursion
    stack: list[object] = [node]
    while stack:
        item = stack.pop()
        if isinstance(item, str):
            out.append(item)
            continue
        if isinstance(item, RawTextNode):
            out.append(item.data)
        elif isinstance(item, TextNode):
            out.append(_escape_text(item.data))
        elif isinstance(item, CommentNode):
            out.append(f"<!--{item.data}-->")
        elif isinstance(item, AttrNode):
            out.append(item.value)
        elif isinstance(item, Element):
            if item.tag == "#document":
                stack.extend(reversed(item.children))
                continue
            out.append("<")
            out.append(item.tag)
            for k, v in item.attrs:
                out.append(f' {k}="{_escape_attr(v)}"')
            if not item.children:
                out.append("/>")
                continue
            out.append(">")
            stack.append(f"</{item.tag}>")
            stack.extend(reversed(item.children))


def inner_html(node: Element) -> str:
    out: list[str] = []
    for child in node.children:
        _serialize_into(child, out)
    return "".join(out)


def parse_fragment(html: str) -> list[Node]:
    """Parse an HTML fragment and return the list of top-level body nodes."""
    doc = parse_html(html)
    body = doc.body()
    if body is None:
        return []
    nodes = list(body.children)
    for node in nodes:
        node.parent = None
    body.children = []
    return nodes


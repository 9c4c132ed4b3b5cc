"""XPath 1.0 subset evaluator over the graby_spark DOM.

Covers the expression subset observed across the reference's internal queries
(ContentExtractor.php:149-527) and the five-filters site-config corpus
(/root/reference/tests/fixtures/site_config/*.txt): child / descendant steps,
attribute axis, wildcards, predicates with ``and``/``or``/``not``, string
functions (contains, concat, normalize-space, starts-with, string,
substring-before, substring-after, string-length, translate), node tests
(``text()``, ``node()``), unions ``|``, positional predicates, and top-level
``string(...)`` producing a string result like PHP ``DOMXPath::evaluate``.

There is one evaluator: :func:`compile_xpath` parses an expression and
compiles the AST, once, into a tree of closures that ``evaluate`` and
``query`` call.  Compiled expressions are cached (the broadcast ruleset
compiles each rule once per executor, mirroring the reference's per-request
site-config cache, ConfigBuilder.php:67-95).
"""

from __future__ import annotations

import math
import operator
import re
from functools import lru_cache, reduce

from .dom import AttrNode, CommentNode, Element, Node, TextNode

__all__ = ["XPathError", "compile_xpath", "evaluate", "query"]


class XPathError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    \s*(?:
        (?P<dslash>//)
      | (?P<slash>/)
      | (?P<dcolon>::)
      | (?P<lbracket>\[) | (?P<rbracket>\])
      | (?P<lparen>\() | (?P<rparen>\))
      | (?P<union>\|)
      | (?P<comma>,)
      | (?P<neq>!=) | (?P<le><=) | (?P<ge>>=) | (?P<lt><) | (?P<gt>>) | (?P<eq>=)
      | (?P<at>@)
      | (?P<ddot>\.\.)
      | (?P<dot>\.)
      | (?P<star>\*)
      | (?P<number>\d+(?:\.\d+)?)
      | (?P<literal>"[^"]*"|'[^']*')
      | (?P<name>[A-Za-z_][\w.-]*)
    )
    """,
    re.VERBOSE,
)


def _tokenize(expr: str) -> list[tuple[str, str]]:
    tokens: list[tuple[str, str]] = []
    pos = 0
    while pos < len(expr):
        m = _TOKEN_RE.match(expr, pos)
        if m is None or m.end() == pos:
            rest = expr[pos:].strip()
            if not rest:
                break
            raise XPathError(f"cannot tokenize {expr!r} at {pos}")
        pos = m.end()
        kind = m.lastgroup
        assert kind is not None
        tokens.append((kind, m.group(kind)))
    tokens.append(("eof", ""))
    return tokens


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------

class _Ast:
    """An AST node: its fields are its ``__slots__``, set in order."""

    __slots__ = ()

    def __init__(self, *values):
        for name, value in zip(self.__slots__, values, strict=True):
            setattr(self, name, value)


class _Or(_Ast):
    __slots__ = ("parts",)


class _And(_Ast):
    __slots__ = ("parts",)


class _Compare(_Ast):
    __slots__ = ("op", "left", "right")


class _Union(_Ast):
    __slots__ = ("parts",)


class _Path(_Ast):
    __slots__ = ("absolute", "steps")  # steps: list of _Step


class _Step(_Ast):
    # axis: child | descendant | descendant-or-self | attribute | self | parent
    # test: element name, '*', 'text()', 'node()' or 'comment()'
    __slots__ = ("axis", "test", "predicates")


class _Func(_Ast):
    __slots__ = ("name", "args")


class _Literal(_Ast):
    __slots__ = ("value",)


class _Number(_Ast):
    __slots__ = ("value",)


_AXES = ("child", "descendant", "descendant-or-self", "self", "parent", "attribute")


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]], source: str) -> None:
        self.tokens = tokens
        self.pos = 0
        self.source = source

    def peek(self) -> tuple[str, str]:
        return self.tokens[self.pos]

    def next(self) -> tuple[str, str]:
        tok = self.tokens[self.pos]
        self.pos += 1
        return tok

    def expect(self, kind: str) -> str:
        tok = self.next()
        if tok[0] != kind:
            raise XPathError(f"expected {kind}, got {tok} in {self.source!r}")
        return tok[1]

    # Expr := OrExpr
    def parse(self) -> _Ast:
        expr = self.parse_or()
        if self.peek()[0] != "eof":
            raise XPathError(f"trailing tokens in {self.source!r}: {self.peek()}")
        return expr

    def parse_or(self) -> _Ast:
        parts = [self.parse_and()]
        while self.peek() == ("name", "or"):
            self.next()
            parts.append(self.parse_and())
        return parts[0] if len(parts) == 1 else _Or(parts)

    def parse_and(self) -> _Ast:
        parts = [self.parse_compare()]
        while self.peek() == ("name", "and"):
            self.next()
            parts.append(self.parse_compare())
        return parts[0] if len(parts) == 1 else _And(parts)

    def parse_compare(self) -> _Ast:
        left = self.parse_union()
        while self.peek()[0] in ("eq", "neq", "lt", "gt", "le", "ge"):
            op = self.next()[0]
            right = self.parse_union()
            left = _Compare(op, left, right)
        return left

    def parse_union(self) -> _Ast:
        parts = [self.parse_path()]
        while self.peek()[0] == "union":
            self.next()
            parts.append(self.parse_path())
        return parts[0] if len(parts) == 1 else _Union(parts)

    def parse_path(self) -> _Ast:
        kind, value = self.peek()
        if kind == "literal":
            self.next()
            return _Literal(value[1:-1])
        if kind == "number":
            self.next()
            return _Number(float(value))
        if kind == "lparen":
            self.next()
            inner = self.parse_or()
            self.expect("rparen")
            return inner
        if kind == "name" and self.tokens[self.pos + 1][0] == "lparen":
            # a function call, unless it is a node test (text(), node(),
            # comment()) starting a path; no path continues a call
            if value not in ("text", "node", "comment"):
                return self._parse_function()
        return self._parse_location_path()

    def _parse_function(self) -> _Func:
        name = self.expect("name")
        self.expect("lparen")
        args: list[_Ast] = []
        if self.peek()[0] != "rparen":
            args.append(self.parse_or())
            while self.peek()[0] == "comma":
                self.next()
                args.append(self.parse_or())
        self.expect("rparen")
        return _Func(name, args)

    def _parse_location_path(self) -> _Path:
        steps: list[_Step] = []
        absolute = False
        kind, _ = self.peek()
        if kind == "dslash":
            absolute = True
            self.next()
            steps.append(_Step("descendant-or-self", "node()", []))
        elif kind == "slash":
            absolute = True
            self.next()
        steps_expected = True
        while steps_expected:
            kind, value = self.peek()
            if kind == "dot":
                self.next()
                steps.append(_Step("self", "node()", []))
            elif kind == "ddot":
                self.next()
                steps.append(_Step("parent", "node()", []))
            elif kind == "at":
                self.next()
                nk, nv = self.next()  # a star's value is "*"
                if nk not in ("star", "name"):
                    raise XPathError(f"bad attribute test in {self.source!r}")
                steps.append(_Step("attribute", nv, self._parse_predicates()))
            elif kind == "star":
                self.next()
                steps.append(_Step("child", "*", self._parse_predicates()))
            elif kind == "name":
                name = value
                self.next()
                if self.peek()[0] == "dcolon":
                    self.next()
                    axis = name
                    if axis not in _AXES:
                        raise XPathError(f"unsupported axis {axis} in {self.source!r}")
                    kind2, value2 = self.next()
                    if kind2 == "star":
                        test = "*"
                    elif kind2 == "name":
                        test = value2
                        if self.peek()[0] == "lparen":
                            self.next()
                            self.expect("rparen")
                            test = f"{test}()"
                    else:
                        raise XPathError(f"bad node test in {self.source!r}")
                    steps.append(_Step(axis, test, self._parse_predicates()))
                elif self.peek()[0] == "lparen":
                    self.next()
                    self.expect("rparen")
                    steps.append(_Step("child", f"{name}()", self._parse_predicates()))
                else:
                    steps.append(_Step("child", name, self._parse_predicates()))
            else:
                if not steps:
                    raise XPathError(f"empty path in {self.source!r}")
                break
            # continuation?
            kind, _ = self.peek()
            if kind == "slash":
                self.next()
                steps_expected = True
            elif kind == "dslash":
                self.next()
                steps.append(_Step("descendant-or-self", "node()", []))
                steps_expected = True
            else:
                steps_expected = False
        return _Path(absolute, steps)

    def _parse_predicates(self) -> list[_Ast]:
        preds: list[_Ast] = []
        while self.peek()[0] == "lbracket":
            self.next()
            preds.append(self.parse_or())
            self.expect("rbracket")
        return preds


# ---------------------------------------------------------------------------
# Compilation
#
# Every AST node compiles to a closure f(node, position, size, root) that
# returns the node's value as the type its consumer reads: "N" node-set
# (a list in document order, without duplicates), "s" string, "b" boolean or
# "n" number.  Coercions are thus chosen once per expression, not once per
# candidate node.
# ---------------------------------------------------------------------------

#: XPath whitespace (XPath 1.0 [3]; what libxml2's normalize-space strips)
_WS_RE = re.compile(r"[ \t\r\n]+")
_WS_TO_SPACE = str.maketrans("\t\r\n", "   ")
_DOT = _Path(False, [_Step("self", "node()", [])])
_OPS = {
    "eq": operator.eq,
    "neq": operator.ne,
    "lt": operator.lt,
    "gt": operator.gt,
    "le": operator.le,
    "ge": operator.ge,
}
#: the comparison with its operands swapped: a < b is b > a
_SWAPPED = {"lt": "gt", "gt": "lt", "le": "ge", "ge": "le"}


def _normalize_space(s: str) -> str:
    return _WS_RE.sub(" ", s).strip(" ")


def _translate(s: str, frm: str, to: str) -> str:
    table: dict[int, str | None] = {}
    for i, ch in enumerate(frm):
        table.setdefault(ord(ch), to[i] if i < len(to) else None)  # first wins
    return s.translate(table)


def _round(x: float) -> float:
    """XPath 1.0 round(): halves go up; NaN and infinities stay."""
    return math.floor(x + 0.5) if math.isfinite(x) else x


def _substring(s: str, start: float, length: float | None = None) -> str:
    """The characters at positions p (from 1) with round(start) <= p <
    round(start) + round(length); none when either bound is NaN."""
    first = _round(start)
    end = math.inf if length is None else first + _round(length)
    if math.isnan(first) or math.isnan(end):
        return ""
    lo, hi = max(first, 1), min(end, len(s) + 1)
    return s[int(lo) - 1 : int(hi) - 1] if lo < hi else ""


def _name(nodes: list[Node]) -> str:
    node = nodes[0] if nodes else None
    if isinstance(node, Element):
        return node.tag
    return node.name if isinstance(node, AttrNode) else ""


#: name -> (result type, argument types, implementation).  A trailing "*"
#: repeats the last argument type; a trailing "?" makes the last argument
#: optional.  position() and last() read the context instead.
_FUNCTIONS = {
    "contains": ("b", "ss", operator.contains),
    "starts-with": ("b", "ss", str.startswith),
    "concat": ("s", "s*", lambda *parts: "".join(parts)),
    "normalize-space": ("s", "s", _normalize_space),
    "string": ("s", "s", str),
    "not": ("b", "b", operator.not_),
    "true": ("b", "", lambda: True),
    "false": ("b", "", lambda: False),
    "substring-before": ("s", "ss", lambda s, sub: s[: s.find(sub)] if sub in s else ""),
    "substring-after": ("s", "ss", lambda s, sub: s[s.find(sub) + len(sub) :] if sub in s else ""),
    "substring": ("s", "snn?", _substring),
    "string-length": ("n", "s", lambda s: float(len(s))),
    "translate": ("s", "sss", _translate),
    "count": ("n", "N", lambda nodes: float(len(nodes))),
    "name": ("s", "N", _name),
    "local-name": ("s", "N", _name),
    "position": ("n", "", None),
    "last": ("n", "", None),
}
#: functions whose one argument defaults to the context node
_CONTEXT_ARG = {"normalize-space", "string", "string-length", "name", "local-name"}


def _type(ast: _Ast) -> str:
    if isinstance(ast, _Func):
        if ast.name not in _FUNCTIONS:
            raise XPathError(f"unsupported XPath function {ast.name}()")
        return _FUNCTIONS[ast.name][0]
    return {_Path: "N", _Union: "N", _Literal: "s", _Number: "n"}.get(type(ast), "b")


def _uses_position(ast: _Ast) -> bool:
    """Whether ``ast`` reads the context position or size itself (the
    predicates of its steps have contexts of their own)."""
    if isinstance(ast, _Func):
        return ast.name in ("position", "last") or any(map(_uses_position, ast.args))
    if isinstance(ast, _Compare):
        return _uses_position(ast.left) or _uses_position(ast.right)
    if isinstance(ast, (_Or, _And, _Union)):
        return any(map(_uses_position, ast.parts))
    return False


def _positional(pred: _Ast) -> bool:
    return _type(pred) == "n" or _uses_position(pred)


def _steps(path: _Path) -> list[_Step]:
    """The path's steps with ``self::node()`` dropped, and each
    ``descendant-or-self::node()/child::T[p]`` whose predicates are not
    positional rewritten to ``descendant::T[p]``: the same node-set, from one
    walk and without a merge."""
    out: list[_Step] = []
    for step in path.steps:
        if (step.axis, step.test, step.predicates) == ("self", "node()", []):
            continue
        prev = (out[-1].axis, out[-1].test, out[-1].predicates) if out else None
        if prev == ("descendant-or-self", "node()", []) and step.axis == "child":
            if any(map(_positional, step.predicates)):
                out.append(step)
            else:
                out[-1] = _Step("descendant", step.test, step.predicates)
        else:
            out.append(step)
    return out


def _relative_attr(ast: _Ast) -> str | None:
    """The name when ``ast`` is a relative ``@name`` path."""
    if isinstance(ast, _Path) and not ast.absolute:
        steps = _steps(ast)
        if len(steps) == 1 and steps[0].axis == "attribute" and steps[0].test != "*":
            return None if steps[0].predicates else steps[0].test
    return None


def _compile(ast: _Ast, want: str):
    """Closure f(node, position, size, root) giving ``ast``'s value as type
    ``want``."""
    attr = _relative_attr(ast)
    if attr is not None and want == "s":
        return lambda n, p, s, r: (n.get(attr) or "") if isinstance(n, Element) else ""
    if attr is not None and want == "b":
        return lambda n, p, s, r: isinstance(n, Element) and n.get(attr) is not None
    if isinstance(ast, _Path) and not ast.absolute and not _steps(ast) and want == "s":
        return lambda n, p, s, r: n.text_content
    have = _type(ast)
    if isinstance(ast, (_Literal, _Number)):
        value = _convert(lambda n, p, s, r: ast.value, have, want)(None, 0, 0, None)
        return lambda n, p, s, r: value
    if isinstance(ast, _Path):
        f = _compile_path(ast)
    elif isinstance(ast, _Union):
        f = _union([_compile(part, "N") for part in ast.parts])
    elif isinstance(ast, _Func):
        f = _compile_call(ast)
    elif isinstance(ast, _Compare):
        f = _compile_compare(ast)
    else:
        parts = [_compile(part, "b") for part in ast.parts]
        f = reduce(_or if isinstance(ast, _Or) else _and, parts)
    return _convert(f, have, want)


def _union(parts):
    return lambda n, p, s, r: _merge([part(n, p, s, r) for part in parts], r)


def _or(a, b):
    return lambda n, p, s, r: a(n, p, s, r) or b(n, p, s, r)


def _and(a, b):
    return lambda n, p, s, r: a(n, p, s, r) and b(n, p, s, r)


def _num_str(value: float) -> str:
    if value != value:
        return "NaN"
    return str(int(value)) if value == int(value) else repr(value)


def _str_num(value: str) -> float:
    try:
        return float(value.strip())
    except ValueError:
        return float("nan")


def _first_string(nodes: list[Node]) -> str:
    return nodes[0].text_content if nodes else ""


#: (from type, to type) -> conversion of one value
_CONVERSIONS = {
    ("N", "s"): _first_string,
    ("N", "b"): bool,
    ("N", "n"): lambda nodes: _str_num(_first_string(nodes)),
    ("s", "b"): bool,
    ("s", "n"): _str_num,
    ("b", "s"): lambda v: "true" if v else "false",
    ("b", "n"): float,
    ("n", "s"): _num_str,
    ("n", "b"): lambda v: v != 0 and v == v,
}


def _convert(f, have: str, want: str):
    if have == want:
        return f
    if want == "N":
        raise XPathError("expression is not a node-set")
    convert = _CONVERSIONS[have, want]
    return lambda n, p, s, r: convert(f(n, p, s, r))


def _class_token(func: _Func):
    """(t, X) when ``func`` is ``contains(concat(' ', normalize-space(X),
    ' '), ' t ')`` with one token t, which is true exactly when t is one of
    X's tokens: the call then compiles to ``_has_token(X, t)``."""
    if func.name != "contains" or len(func.args) != 2:
        return None
    hay, needle = func.args
    if not (isinstance(hay, _Func) and hay.name == "concat" and len(hay.args) == 3):
        return None
    left, mid, right = hay.args
    if not (
        isinstance(left, _Literal) and left.value == " "
        and isinstance(right, _Literal) and right.value == " "
        and isinstance(mid, _Func) and mid.name == "normalize-space" and len(mid.args) == 1
        and isinstance(needle, _Literal)
    ):
        return None
    token = needle.value
    if len(token) < 3 or token[0] != " " or token[-1] != " " or _WS_RE.search(token[1:-1]):
        return None
    return token[1:-1], mid.args[0]


def _has_token(value: str, word: str) -> bool:
    """Whether ``word`` is one of ``value``'s XPath-whitespace-separated tokens."""
    return word in value and word in value.translate(_WS_TO_SPACE).split(" ")


def _compile_call(func: _Func):
    name, args = func.name, func.args
    _result, kinds, impl = _FUNCTIONS[name]
    token = _class_token(func)
    if token is not None:
        word, value = token
        args = [value, _Literal(word)]
        impl = _has_token
    if name == "position":
        return lambda n, p, s, r: float(p)
    if name == "last":
        return lambda n, p, s, r: float(s)
    if not args and name in _CONTEXT_ARG:
        args = [_DOT]
    if kinds.endswith("*"):
        kinds = kinds[:-1] * len(args)
    elif kinds.endswith("?") and len(args) == len(kinds) - 2:
        kinds = kinds[:-2]
    kinds = kinds.rstrip("?")
    if len(args) != len(kinds):
        raise XPathError(f"{name}() takes {len(kinds)} argument(s), got {len(args)}")
    fs = [_compile(arg, kind) for arg, kind in zip(args, kinds)]
    if all(isinstance(arg, (_Literal, _Number)) for arg in args):  # constant
        value = impl(*[f(None, 0, 0, None) for f in fs])
        return lambda n, p, s, r: value
    if len(fs) == 1:
        (a,) = fs
        return lambda n, p, s, r: impl(a(n, p, s, r))
    if len(fs) == 2 and isinstance(args[1], (_Literal, _Number)):
        a, b = fs[0], fs[1](None, 0, 0, None)
        return lambda n, p, s, r: impl(a(n, p, s, r), b)
    return lambda n, p, s, r: impl(*[f(n, p, s, r) for f in fs])


def _compile_compare(ast: _Compare):
    """XPath 1.0 §3.4: a node-set operand compares each of its nodes'
    string-values, existentially; otherwise both operands convert to
    boolean, else number, else string."""
    op, left, right = _OPS[ast.op], ast.left, ast.right
    lt, rt = _type(left), _type(right)
    if "b" in (lt, rt):
        kind = "b"
    elif "n" in (lt, rt) or ast.op not in ("eq", "neq"):
        kind = "n"
    else:
        kind = "s"
    if lt != "N" and rt != "N":
        a, b = _compile(left, kind), _compile(right, kind)
        return lambda n, p, s, r: op(a(n, p, s, r), b(n, p, s, r))
    from_string = _CONVERSIONS.get(("s", kind), str)
    if lt == "N" and rt == "N":
        a, b = _compile(left, "N"), _compile(right, "N")

        def both(n, p, s, r):
            rights = {from_string(node.text_content) for node in b(n, p, s, r)}
            return any(op(from_string(x.text_content), y) for x in a(n, p, s, r) for y in rights)

        return both
    if rt == "N":  # keep the node-set on the left
        op, left, right = _OPS[_SWAPPED.get(ast.op, ast.op)], right, left
    b = _compile(right, kind)
    attr = _relative_attr(left)
    if attr is not None:  # at most one node: compare the attribute directly

        def one(n, p, s, r):
            v = n.get(attr) if isinstance(n, Element) else None
            return v is not None and op(from_string(v), b(n, p, s, r))

        return one
    a = _compile(left, "N")

    def some(n, p, s, r):
        nodes = a(n, p, s, r)
        if not nodes:
            return False
        value = b(n, p, s, r)
        return any(op(from_string(x.text_content), value) for x in nodes)

    return some


def _compile_path(path: _Path):
    steps = [_compile_step(step) for step in _steps(path)]
    absolute = path.absolute
    if len(steps) == 1:
        (step,) = steps
        if absolute:
            return lambda n, p, s, r: step([r], r)
        return lambda n, p, s, r: step([n], r)

    def run(n, p, s, r):
        nodes = [r if absolute else n]
        for step in steps:
            if not nodes:
                break
            nodes = step(nodes, r)
        return nodes

    return run


def _compile_step(step: _Step):
    """Closure (context node-set, root) -> the step's node-set."""
    axis = _axis(step.axis, step.test)
    filters = [_compile_predicate(pred) for pred in step.predicates]
    if any(map(_positional, step.predicates)):
        # positions count within each context node's candidates
        # (//div/p[1] is the first <p> of every div)
        def per_context(nodes, r):
            groups = []
            for node in nodes:
                group = axis(node)
                for keep in filters:
                    group = keep(group, r)
                groups.append(group)
            return _merge(groups, r)

        return per_context

    gather = _gather(step.axis, axis)

    def merged(nodes, r):
        out = axis(nodes[0]) if len(nodes) == 1 else gather(nodes, r)
        for keep in filters:
            out = keep(out, r)
        return out

    return merged


def _gather(name: str, axis):
    """Closure (context node-set, root) -> the candidates of all the context
    nodes, one node-set."""
    if name == "attribute":  # owners in document order: so are their attributes
        return lambda nodes, r: [a for node in nodes for a in axis(node)]
    if name == "descendant":  # staircase: skip contexts inside an earlier one
        return lambda nodes, r: [d for node in _outermost(nodes) for d in axis(node)]
    return lambda nodes, r: _merge([axis(node) for node in nodes], r)


def _compile_predicate(pred: _Ast):
    """Closure (candidates, root) -> the candidates the predicate keeps."""
    if _type(pred) == "n":
        f = _compile(pred, "n")
        return lambda group, r: [x for i, x in enumerate(group, 1) if f(x, i, len(group), r) == i]
    if _uses_position(pred):
        f = _compile(pred, "b")
        return lambda group, r: [x for i, x in enumerate(group, 1) if f(x, i, len(group), r)]
    f = _compile(pred, "b")
    return lambda group, r: [x for x in group if f(x, 0, 0, r)]


def _node_test(test: str):
    if test == "node()":
        return lambda node: True
    if test == "text()":
        return lambda node: isinstance(node, TextNode)
    if test == "comment()":
        return lambda node: isinstance(node, CommentNode)
    if test == "*":
        return lambda node: isinstance(node, Element) and node.tag != "#document"
    return lambda node: isinstance(node, Element) and node.tag == test


def _descendants(node: Node) -> list[Node]:
    out: list[Node] = []
    stack = node.children[::-1] if isinstance(node, Element) else []
    while stack:
        child = stack.pop()
        out.append(child)
        if isinstance(child, Element):
            stack.extend(child.children[::-1])
    return out


def _axis(axis: str, test: str):
    """Closure node -> the axis' candidates that pass the node test, in
    document order."""
    match = _node_test(test)
    if axis == "attribute":
        return lambda node: _attributes(node, test)
    if axis == "child":
        return lambda node: [c for c in node.children if match(c)] if isinstance(node, Element) else []
    if axis == "self":
        return lambda node: [node] if match(node) else []
    if axis == "parent":
        return lambda node: [node.parent] if node.parent is not None and match(node.parent) else []
    below = _below(test, match)
    if axis == "descendant":
        return below
    return lambda node: ([node] if match(node) else []) + below(node)


def _below(test: str, match):
    """Closure node -> its descendants that pass the node test."""
    if not test.endswith("()"):  # an element test walks the elements only
        tag = None if test == "*" else test
        return lambda node: node.iter_list(tag) if isinstance(node, Element) else []
    return lambda node: [d for d in _descendants(node) if match(d)]


def _attributes(node: Node, name: str) -> list[Node]:
    """The node's attributes called ``name`` (``*``: all of them).  Values
    are strings, so ``get`` is None exactly when the attribute is absent."""
    if not isinstance(node, Element):
        return []
    if name == "*":
        return [AttrNode(node, k) for k, _v in node.attrs]
    return [AttrNode(node, name)] if node.get(name) is not None else []


def _outermost(nodes: list[Node]) -> list[Element]:
    """The elements of a document-ordered node-set that no earlier one
    contains: their descendants, concatenated, are in document order and
    without duplicates."""
    kept: list[Element] = []
    for node in nodes:
        if not isinstance(node, Element):
            continue  # no descendants
        if kept:
            up = node.parent
            while up is not None and up is not kept[-1]:
                up = up.parent
            if up is not None:
                continue
        kept.append(node)
    return kept


def _merge(groups: list[list[Node]], root: Node) -> list[Node]:
    """One node-set from document-ordered ones (the candidates of several
    context nodes, or union operands): without duplicates, in document
    order."""
    groups = [group for group in groups if group]
    if len(groups) < 2:
        return groups[0] if groups else []
    seen = set()
    out: list[Node] = []
    for group in groups:
        for node in group:
            key = (id(node.owner), node.name) if isinstance(node, AttrNode) else id(node)
            if key not in seen:
                seen.add(key)
                out.append(node)
    return _in_document_order(out, root)


def _in_document_order(nodes: list[Node], root: Node) -> list[Node]:
    """``nodes`` sorted into document order, as DOMXPath returns node-sets.
    An attribute sorts right after its owner element (attributes of one
    owner keep their relative order); a node outside ``root``'s tree sorts
    last."""
    rank: dict[int, int] = {}
    stack = [root]
    while stack:
        node = stack.pop()
        rank[id(node)] = len(rank)
        if isinstance(node, Element):
            stack.extend(reversed(node.children))
    last = len(rank)

    def key(node: Node) -> tuple[int, int]:
        if isinstance(node, AttrNode):
            return (rank.get(id(node.owner), last), 1)
        return (rank.get(id(node), last), 0)

    return sorted(nodes, key=key)


@lru_cache(maxsize=4096)
def compile_xpath(expr: str):
    """``expr`` as one closure f(node, position, size, root) giving its
    value; the broadcast ruleset compiles each rule once per executor."""
    ast = _Parser(_tokenize(expr), expr).parse()
    return _compile(ast, _type(ast))


def evaluate(expr: str, context: Node, root: Node | None = None):
    """Evaluate like PHP ``DOMXPath::evaluate``: node-set list, string, float
    or bool depending on the expression type.  Raises XPathError on
    unsupported syntax (callers treat that as 'bad pattern' and skip, matching
    the reference's ``false === $elems`` branches)."""
    return compile_xpath(expr)(context, 1, 1, context.root() if root is None else root)


def query(expr: str, context: Node, root: Node | None = None) -> list[Node]:
    """Evaluate and coerce to a node list (PHP ``DOMXPath::query``)."""
    result = evaluate(expr, context, root)
    if not isinstance(result, list):
        raise XPathError(f"expression {expr!r} does not yield a node-set")
    return result

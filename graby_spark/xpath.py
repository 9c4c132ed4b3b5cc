"""XPath 1.0 subset evaluator over the graby_spark DOM.

Covers the expression subset observed across the reference's internal queries
(ContentExtractor.php:149-527) and the five-filters site-config corpus
(/root/reference/tests/fixtures/site_config/*.txt): child / descendant steps,
attribute axis, wildcards, predicates with ``and``/``or``/``not``, string
functions (contains, concat, normalize-space, starts-with, string,
substring-before, substring-after, string-length, translate), node tests
(``text()``, ``node()``), unions ``|``, positional predicates, and top-level
``string(...)`` producing a string result like PHP ``DOMXPath::evaluate``.

Compiled expressions are cached (the broadcast ruleset compiles each rule once
per executor, mirroring the reference's per-request site-config cache,
ConfigBuilder.php:67-95).
"""

from __future__ import annotations

import re
from functools import lru_cache

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
    __slots__ = ()


class _Or(_Ast):
    __slots__ = ("parts",)

    def __init__(self, parts):
        self.parts = parts


class _And(_Ast):
    __slots__ = ("parts",)

    def __init__(self, parts):
        self.parts = parts


class _Compare(_Ast):
    __slots__ = ("op", "left", "right")

    def __init__(self, op, left, right):
        self.op = op
        self.left = left
        self.right = right


class _Union(_Ast):
    __slots__ = ("parts",)

    def __init__(self, parts):
        self.parts = parts


class _Path(_Ast):
    __slots__ = ("absolute", "steps")

    def __init__(self, absolute: bool, steps):
        self.absolute = absolute
        self.steps = steps  # list of _Step


class _Step(_Ast):
    __slots__ = ("axis", "test", "predicates")

    def __init__(self, axis: str, test: str, predicates):
        self.axis = axis  # child | descendant-or-self | attribute | self | parent
        self.test = test  # element name, '*', 'text()', 'node()'
        self.predicates = predicates


class _Func(_Ast):
    __slots__ = ("name", "args")

    def __init__(self, name, args):
        self.name = name
        self.args = args


class _Literal(_Ast):
    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value


class _Number(_Ast):
    __slots__ = ("value",)

    def __init__(self, value):
        self.value = value


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
            # function call (may be a node-test function like text() inside
            # a path — handled by parse_step; here it's a top-level call)
            if value in ("text", "node", "comment"):
                return self._parse_location_path()
            func = self._parse_function()
            # allow path continuation: string(...) has none in our corpus
            return func
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
                nk, nv = self.next()
                if nk == "star":
                    steps.append(_Step("attribute", "*", self._parse_predicates()))
                elif nk == "name":
                    steps.append(_Step("attribute", nv, self._parse_predicates()))
                else:
                    raise XPathError(f"bad attribute test in {self.source!r}")
            elif kind == "star":
                self.next()
                steps.append(_Step("child", "*", self._parse_predicates()))
            elif kind == "name":
                name = value
                self.next()
                if self.peek()[0] == "dcolon":
                    self.next()
                    axis = name
                    if axis not in (
                        "child",
                        "descendant",
                        "descendant-or-self",
                        "self",
                        "parent",
                        "attribute",
                    ):
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


@lru_cache(maxsize=4096)
def compile_xpath(expr: str) -> _Ast:
    return _Parser(_tokenize(expr), expr).parse()


# ---------------------------------------------------------------------------
# Evaluation
# ---------------------------------------------------------------------------

_WS_RE = re.compile(r"\s+")


def _string_value(node: Node) -> str:
    return node.text_content


def _to_string(value) -> str:
    if isinstance(value, list):
        return _string_value(value[0]) if value else ""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        if value != value:  # NaN
            return "NaN"
        if value == int(value):
            return str(int(value))
        return repr(value)
    return str(value)


def _to_bool(value) -> bool:
    if isinstance(value, list):
        return len(value) > 0
    if isinstance(value, str):
        return value != ""
    if isinstance(value, float):
        return value != 0 and value == value
    return bool(value)


def _to_number(value) -> float:
    if isinstance(value, bool):
        return 1.0 if value else 0.0
    if isinstance(value, list):
        value = _to_string(value)
    if isinstance(value, str):
        try:
            return float(value.strip())
        except ValueError:
            return float("nan")
    return float(value)


class _Context:
    __slots__ = ("node", "position", "size", "root")

    def __init__(self, node: Node, position: int, size: int, root: Node) -> None:
        self.node = node
        self.position = position
        self.size = size
        self.root = root


def _node_key(node: Node):
    if isinstance(node, AttrNode):
        return (id(node.owner), node.name)
    return id(node)


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


def _eval(ast: _Ast, ctx: _Context):
    if isinstance(ast, _Literal):
        return ast.value
    if isinstance(ast, _Number):
        return ast.value
    if isinstance(ast, _Or):
        for part in ast.parts:
            if _to_bool(_eval(part, ctx)):
                return True
        return False
    if isinstance(ast, _And):
        for part in ast.parts:
            if not _to_bool(_eval(part, ctx)):
                return False
        return True
    if isinstance(ast, _Compare):
        return _compare(ast.op, _eval(ast.left, ctx), _eval(ast.right, ctx))
    if isinstance(ast, _Union):
        seen = set()
        out: list[Node] = []
        operands = 0
        for part in ast.parts:
            result = _eval(part, ctx)
            if not isinstance(result, list):
                raise XPathError("union operand is not a node-set")
            operands += bool(result)
            for node in result:
                key = _node_key(node)
                if key not in seen:
                    seen.add(key)
                    out.append(node)
        return _in_document_order(out, ctx.root) if operands > 1 else out
    if isinstance(ast, _Func):
        return _call_function(ast, ctx)
    if isinstance(ast, _Path):
        return _eval_path(ast, ctx)
    raise XPathError(f"cannot evaluate {ast!r}")


def _compare(op: str, left, right) -> bool:
    # node-set vs value: existential semantics (XPath 1.0 §3.4)
    if isinstance(left, list) or isinstance(right, list):
        if isinstance(left, list) and isinstance(right, list):
            lvals = [_string_value(n) for n in left]
            rvals = {_string_value(n) for n in right}
            return any(_compare(op, lv, rv) for lv in lvals for rv in rvals)
        if isinstance(right, list):
            # normalize so the node-set is on the left, flipping the operator
            flip = {"lt": "gt", "gt": "lt", "le": "ge", "ge": "le"}
            op = flip.get(op, op)
            left, right = right, left
        return any(_compare(op, _string_value(n), right) for n in left)
    if isinstance(left, bool) or isinstance(right, bool):
        left_b, right_b = _to_bool(left), _to_bool(right)
        return left_b == right_b if op == "eq" else _num_compare(op, _to_number(left_b), _to_number(right_b))
    if isinstance(left, float) or isinstance(right, float) or op in ("lt", "gt", "le", "ge"):
        return _num_compare(op, _to_number(left), _to_number(right))
    if op == "eq":
        return left == right
    if op == "neq":
        return left != right
    raise XPathError(f"bad comparison op {op}")


def _num_compare(op: str, a: float, b: float) -> bool:
    if a != a or b != b:
        return op == "neq"
    return {
        "eq": a == b,
        "neq": a != b,
        "lt": a < b,
        "gt": a > b,
        "le": a <= b,
        "ge": a >= b,
    }[op]


def _call_function(func: _Func, ctx: _Context):
    name = func.name
    args = func.args
    if name == "contains":
        return _to_string(_eval(args[1], ctx)) in _to_string(_eval(args[0], ctx))
    if name == "starts-with":
        return _to_string(_eval(args[0], ctx)).startswith(_to_string(_eval(args[1], ctx)))
    if name == "concat":
        return "".join(_to_string(_eval(a, ctx)) for a in args)
    if name == "normalize-space":
        if args:
            s = _to_string(_eval(args[0], ctx))
        else:
            s = _string_value(ctx.node)
        return _WS_RE.sub(" ", s).strip()
    if name == "string":
        if not args:
            return _string_value(ctx.node)
        return _to_string(_eval(args[0], ctx))
    if name == "not":
        return not _to_bool(_eval(args[0], ctx))
    if name == "true":
        return True
    if name == "false":
        return False
    if name == "substring-before":
        s = _to_string(_eval(args[0], ctx))
        sub = _to_string(_eval(args[1], ctx))
        idx = s.find(sub)
        return s[:idx] if idx >= 0 else ""
    if name == "substring-after":
        s = _to_string(_eval(args[0], ctx))
        sub = _to_string(_eval(args[1], ctx))
        idx = s.find(sub)
        return s[idx + len(sub):] if idx >= 0 else ""
    if name == "substring":
        s = _to_string(_eval(args[0], ctx))
        start = round(_to_number(_eval(args[1], ctx)))
        if len(args) > 2:
            length = round(_to_number(_eval(args[2], ctx)))
            return s[max(start - 1, 0): max(start - 1 + length, 0)]
        return s[max(start - 1, 0):]
    if name == "string-length":
        s = _to_string(_eval(args[0], ctx)) if args else _string_value(ctx.node)
        return float(len(s))
    if name == "translate":
        s = _to_string(_eval(args[0], ctx))
        frm = _to_string(_eval(args[1], ctx))
        to = _to_string(_eval(args[2], ctx))
        table = {}
        for i, ch in enumerate(frm):
            if ch not in table:
                table[ord(ch)] = to[i] if i < len(to) else None
        return s.translate(table)
    if name == "count":
        result = _eval(args[0], ctx)
        if not isinstance(result, list):
            raise XPathError("count() requires a node-set")
        return float(len(result))
    if name == "position":
        return float(ctx.position)
    if name == "last":
        return float(ctx.size)
    if name == "name" or name == "local-name":
        node = ctx.node
        if args:
            nodes = _eval(args[0], ctx)
            if not isinstance(nodes, list) or not nodes:
                return ""
            node = nodes[0]
        if isinstance(node, Element):
            return node.tag
        if isinstance(node, AttrNode):
            return node.name
        return ""
    raise XPathError(f"unsupported XPath function {name}()")


def _eval_path(path: _Path, ctx: _Context) -> list[Node]:
    if path.absolute:
        nodes: list[Node] = [ctx.root]
    else:
        nodes = [ctx.node]
    for step in path.steps:
        nodes = _eval_step(step, nodes, ctx.root)
    return nodes


def _axis_candidates(axis: str, node: Node):
    if axis == "self":
        yield node
    elif axis == "child":
        if isinstance(node, Element):
            yield from node.children
    elif axis == "descendant" or axis == "descendant-or-self":
        if axis == "descendant-or-self":
            yield node
        if isinstance(node, Element):
            stack = list(reversed(node.children))
            while stack:
                child = stack.pop()
                yield child
                if isinstance(child, Element):
                    stack.extend(reversed(child.children))
    elif axis == "parent":
        if node.parent is not None:
            yield node.parent


def _matches_test(test: str, node: Node) -> bool:
    if test == "node()":
        return True
    if test == "text()":
        return isinstance(node, TextNode)
    if test == "comment()":
        return isinstance(node, CommentNode)
    if test == "*":
        return isinstance(node, Element) and node.tag != "#document"
    return isinstance(node, Element) and node.tag == test


def _eval_step(step: _Step, nodes: list[Node], root: Node) -> list[Node]:
    # XPath 1.0: predicates (position(), last(), ...) apply WITHIN the
    # candidate list of EACH context node, not over the merged step result
    # (//div/p[1] selects the first <p> of every div).  Candidates are
    # therefore kept grouped per context node until all predicates ran;
    # the merged result dedupes by node identity and, when more than one
    # context node contributed, is sorted back into document order.
    groups: list[list[Node]] = []
    if step.axis == "attribute":
        for node in nodes:
            if not isinstance(node, Element):
                continue
            if step.test == "*":
                groups.append([AttrNode(node, k) for k, _v in node.attrs])
            elif node.has_attr(step.test):
                groups.append([AttrNode(node, step.test)])
            else:
                groups.append([])
    else:
        for node in nodes:
            groups.append(
                [
                    cand
                    for cand in _axis_candidates(step.axis, node)
                    if _matches_test(step.test, cand)
                ]
            )
    for pred in step.predicates:
        next_groups: list[list[Node]] = []
        for group in groups:
            size = len(group)
            filtered: list[Node] = []
            for i, node in enumerate(group, start=1):
                value = _eval(pred, _Context(node, i, size, root))
                if isinstance(value, float):
                    if float(i) == value:
                        filtered.append(node)
                elif _to_bool(value):
                    filtered.append(node)
            next_groups.append(filtered)
        groups = next_groups
    out: list[Node] = []
    seen = set()
    for group in groups:
        for node in group:
            key = _node_key(node)
            if key not in seen:
                seen.add(key)
                out.append(node)
    if sum(1 for group in groups if group) > 1:
        return _in_document_order(out, root)
    return out


# ---------------------------------------------------------------------------
# Fast paths for the dominant site-config / graby pattern families.
# Profiling shows generic evaluation of token-contains predicates
# (``//*[contains(concat(' ',normalize-space(@class),' '),' x ')]``) is >80%
# of the extraction hot path; these compile to direct attribute scans.
# ---------------------------------------------------------------------------

_TOKEN_CONTAINS_RE = re.compile(
    r"^(?P<rel>\.?)//(?P<tag>\*|[a-zA-Z][\w-]*)\["
    r"contains\(concat\(' ',\s*normalize-space\(@(?P<a1>[\w-]+)\),\s*' '\),\s*' (?P<t1>[^']+) '\)"
    r"(?:\s+or\s+contains\(concat\(' ',\s*normalize-space\(@(?P<a2>[\w-]+)\),\s*' '\),\s*' (?P<t2>[^']+) '\))?"
    r"\]$"
)
_ATTR_EQ_RE = re.compile(
    r"^(?P<rel>\.?)//(?P<tag>\*|[a-zA-Z][\w-]*)\[@(?P<attr>[\w-]+)\s*=\s*(?P<q>['\"])(?P<val>[^'\"]*)(?P=q)\]"
    r"(?:/@(?P<out>[\w-]+))?$"
)
_PLAIN_TAG_RE = re.compile(r"^(?P<rel>\.?)//(?P<tag>[a-zA-Z][\w-]*)$")
_ATTR_PRESENT_RE = re.compile(
    r"^(?P<rel>\.?)//(?P<tag>\*|[a-zA-Z][\w-]*)\[@(?P<a1>[\w-]+)(?:\s+or\s+@(?P<a2>[\w-]+))?\]"
    r"(?:/@(?P<out>[\w-]+))?$"
)


def _norm_tokens(value: str) -> str:
    return " " + " ".join(value.split()) + " "


def _compile_fast(expr: str):
    m = _TOKEN_CONTAINS_RE.match(expr)
    if m:
        tag = None if m.group("tag") == "*" else m.group("tag")
        checks = [(m.group("a1"), f" {m.group('t1')} ")]
        if m.group("a2"):
            checks.append((m.group("a2"), f" {m.group('t2')} "))

        def eval_token_contains(context: Node, root: Node) -> list[Node]:
            base = context if m.group("rel") else root
            if not isinstance(base, Element):
                return []
            out = []
            for el in base.iter_list(tag):
                for attr, needle in checks:
                    value = el.get(attr)
                    if value is not None and needle in _norm_tokens(value):
                        out.append(el)
                        break
            return out

        return eval_token_contains

    m = _ATTR_EQ_RE.match(expr)
    if m:
        tag = None if m.group("tag") == "*" else m.group("tag")
        attr, val, out_attr = m.group("attr"), m.group("val"), m.group("out")

        def eval_attr_eq(context: Node, root: Node) -> list[Node]:
            base = context if m.group("rel") else root
            if not isinstance(base, Element):
                return []
            result: list[Node] = []
            for el in base.iter_list(tag):
                if el.get(attr) == val:
                    if out_attr is None:
                        result.append(el)
                    elif el.has_attr(out_attr):
                        result.append(AttrNode(el, out_attr))
            return result

        return eval_attr_eq

    m = _PLAIN_TAG_RE.match(expr)
    if m:
        tag = m.group("tag")

        def eval_plain(context: Node, root: Node) -> list[Node]:
            base = context if m.group("rel") else root
            if not isinstance(base, Element):
                return []
            return base.iter_list(tag)

        return eval_plain

    m = _ATTR_PRESENT_RE.match(expr)
    if m:
        tag = None if m.group("tag") == "*" else m.group("tag")
        a1, a2, out_attr = m.group("a1"), m.group("a2"), m.group("out")

        def eval_attr_present(context: Node, root: Node) -> list[Node]:
            base = context if m.group("rel") else root
            if not isinstance(base, Element):
                return []
            result: list[Node] = []
            for el in base.iter_list(tag):
                if el.has_attr(a1) or (a2 is not None and el.has_attr(a2)):
                    if out_attr is None:
                        result.append(el)
                    elif el.has_attr(out_attr):
                        result.append(AttrNode(el, out_attr))
            return result

        return eval_attr_present

    if expr == "//*[contains(@style,'display:none') or contains(@style,'visibility:hidden')]":

        def eval_hidden(context: Node, root: Node) -> list[Node]:
            if not isinstance(root, Element):
                return []
            out = []
            for el in root.iter_list():
                style = el.get("style")
                if style and ("display:none" in style or "visibility:hidden" in style):
                    out.append(el)
            return out

        return eval_hidden

    if expr == "//a[not(./*) and normalize-space(.)='']":

        def eval_empty_a(context: Node, root: Node) -> list[Node]:
            if not isinstance(root, Element):
                return []
            out = []
            for a in root.iter_list("a"):
                if not any(isinstance(c, Element) for c in a.children) and a.text_content.strip() == "":
                    out.append(a)
            return out

        return eval_empty_a

    return None


@lru_cache(maxsize=4096)
def _fast_or_ast(expr: str):
    fast = _compile_fast(expr)
    if fast is not None:
        return ("fast", fast)
    return ("ast", compile_xpath(expr))


def evaluate(expr: str, context: Node, root: Node | None = None):
    """Evaluate like PHP ``DOMXPath::evaluate``: node-set list, string, float
    or bool depending on the expression type.  Raises XPathError on
    unsupported syntax (callers treat that as 'bad pattern' and skip, matching
    the reference's ``false === $elems`` branches)."""
    kind, impl = _fast_or_ast(expr)
    if root is None:
        root = context.root()
    if kind == "fast":
        return impl(context, root)
    return _eval(impl, _Context(context, 1, 1, root))


def query(expr: str, context: Node, root: Node | None = None) -> list[Node]:
    """Evaluate and coerce to a node list (PHP ``DOMXPath::query``)."""
    result = evaluate(expr, context, root)
    if not isinstance(result, list):
        raise XPathError(f"expression {expr!r} does not yield a node-set")
    return result

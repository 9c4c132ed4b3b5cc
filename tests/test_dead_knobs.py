"""No dead knobs: every defaulted parameter of the package is passed by
some caller.

A dead knob is a defaulted parameter of a module-level function or class
method in ``graby_spark/`` whose name (a constructor's: its class name)
is unique in the package, that is called at least once, and that no
call passes — by keyword or by
position — anywhere in the package, the registry, the benchmarks, the
tools or the tests.  Such an option is never exercised at any value but
its default, so it should be a constant instead.  Pure AST scan, no
imports of the scanned code.
"""

from __future__ import annotations

import ast
import functools
import os
from collections import Counter, defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLERS = (
    "graby_spark",
    "tools",
    "perfbench",
    "tests",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
)


def _py_files(rel: str):
    path = os.path.join(REPO, rel)
    if path.endswith(".py"):
        if os.path.exists(path):
            yield path
        return
    for folder, _dirs, files in os.walk(path):
        for name in sorted(files):
            if name.endswith(".py"):
                yield os.path.join(folder, name)


@functools.lru_cache(maxsize=None)
def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _definitions():
    """(module, qualified name, def node, is method, name its calls use)
    per module-level function and class method of the package; a
    constructor is called by its class name."""
    for path in _py_files("graby_spark"):
        module = os.path.relpath(path, REPO)
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield module, node.name, node, False, node.name
            elif isinstance(node, ast.ClassDef):
                for sub in node.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        callee = node.name if sub.name == "__init__" else sub.name
                        yield module, f"{node.name}.{sub.name}", sub, True, callee


def _defaulted(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of each defaulted parameter."""
    args = fn.args
    positional = args.posonlyargs + args.args
    first = len(positional) - len(args.defaults)
    out = [(i, p.arg) for i, p in enumerate(positional) if i >= first]
    out += [(None, k.arg) for k, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None]
    return out


def _calls_by_name() -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    for rel in CALLERS:
        for path in _py_files(rel):
            for node in ast.walk(_parse(path)):
                if isinstance(node, ast.Call):
                    func = node.func
                    if isinstance(func, ast.Name):
                        calls[func.id].append(node)
                    elif isinstance(func, ast.Attribute):
                        calls[func.attr].append(node)
    return calls


def _passes(call: ast.Call, position: int | None, name: str) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):  # None: **kwargs
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return position is not None and len(call.args) > position


def dead_knobs() -> list[str]:
    defs = list(_definitions())
    names = Counter(callee for *_rest, callee in defs)
    calls = _calls_by_name()
    dead = []
    for module, qual, node, is_method, callee in defs:
        if names[callee] != 1 or not calls.get(callee):
            continue
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in node.decorator_list)
        # a bound call's first argument fills the parameter after self
        shift = 1 if is_method and not static else 0
        for position, param in _defaulted(node):
            slot = None if position is None else position - shift
            if not any(_passes(c, slot, param) for c in calls[callee]):
                dead.append(f"{module}: {qual}({param}=...)")
    return dead


def test_no_dead_knobs():
    dead = dead_knobs()
    assert not dead, (
        f"{len(dead)} defaulted parameter(s) that no caller passes — "
        "replace each with the value its default gives:\n  " + "\n  ".join(dead)
    )


def test_scan_sees_a_planted_dead_knob(tmp_path, monkeypatch):
    """The scan flags a defaulted parameter no call passes, and clears it
    once one call passes it by position or by keyword."""
    monkeypatch.setitem(globals(), "REPO", str(tmp_path))
    pkg = tmp_path / "graby_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def op(df, id_col='doc_id', k=3):\n    return df\n\n"
        "class C:\n    def __init__(self, y=0):\n        self.y = y\n\n"
        "    def m(self, x=1):\n        return x\n"
    )
    callers = tmp_path / "tools"
    callers.mkdir()
    (callers / "use.py").write_text("op(1)\nC().m()\n")
    assert dead_knobs() == [
        "graby_spark/mod.py: op(id_col=...)",
        "graby_spark/mod.py: op(k=...)",
        "graby_spark/mod.py: C.__init__(y=...)",
        "graby_spark/mod.py: C.m(x=...)",
    ]
    (callers / "use.py").unlink()  # parses are cached by path
    (callers / "use2.py").write_text("op(1, 'id')\nop(1, k=4)\nC(1).m(2)\n")
    assert dead_knobs() == []

"""Reach or remove: every knob, parameter, definition and module-level
name of the package is used.

Five pure-AST scans (no imports of the scanned code), sharing one parse
and one walk per file:

- **Dead knobs.**  A defaulted parameter of a module-level function or
  class method in ``graby_spark/`` whose name (a constructor's: its
  class name) is unique in the package, that is called at least once,
  and that no call passes — by keyword or by position — anywhere in the
  package, the registry, the benchmarks, the tools or the tests.  Such
  an option is never exercised at any value but its default, so it
  should be a constant instead.
- **One-literal parameters.**  A parameter of such a function that
  every call passes as the same literal, counting a call that omits it
  as passing its default.  It is a constant spelled at each call site;
  fold it into the function.
- **Unreachable definitions.**  A function, class or method of
  ``graby_spark/`` whose name no non-test file mentions outside the
  definition itself.  The system never runs it; only tests do.
- **Test-only seams.**  The first two scans again, over the non-test
  callers only: a parameter that only a test sets or varies.  The
  system runs it at one value, so it is folded to that value, unless
  ``TEST_SEAMS`` names it with its reason.
- **Unused module-level names.**  A module-level assignment or import of
  ``graby_spark/`` that its module never reads and no file imports or
  reads as an attribute.
"""

from __future__ import annotations

import ast
import bisect
import functools
import os
from collections import Counter, defaultdict

import pytest

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

#: one-literal parameters whose callers are frozen; each entry names them
ONE_LITERAL_ALLOWED = {
    # bench.py's dedup_minhash_lsh leaf passes threshold=0.9 by keyword
    "graby_spark/operators/dedup.py: minhash_lsh_pairs(threshold=0.9)",
    # bench.py's ann_ivf_sq8 leaf passes nprobe=2 by keyword
    "graby_spark/operators/similarity.py: ivf_sq8_topk(nprobe=2)",
    # bench.py's ann_ivf_sq8 leaf passes n_iter=2 by keyword
    "graby_spark/operators/similarity.py: ivf_sq8_topk(n_iter=2)",
    # called inside __spark_entry__.oracle_sql(), whose source is frozen
    "graby_spark/pages.py: oracle_excerpt_sql(text_expr='expected_text')",
    # called inside __spark_entry__.oracle_sql(), whose source is frozen
    "graby_spark/operators/search.py: oracle_bm25_sql(k=10)",
}

#: parameters that only tests set or vary, each kept for one of four
#: reasons: a frozen caller passes it; it builds a decoder's or reader's
#: coverage from a synthetic input; it lowers a bound so that a branch
#: the system takes at scale runs at test size (or reports which branch
#: ran); it pins the manifest snapshot a read sees
TEST_SEAMS = {
    "graby_spark/operators/dedup.py: ngram_jaccard_pairs(threshold)": "bench.py passes threshold=0.8 by keyword",
    "graby_spark/operators/dedup.py: semantic_dedup(threshold)": "bench.py passes threshold=0.4 by keyword",
    "graby_spark/operators/cluster.py: kmeans_embeddings(n_iter)": "bench.py passes n_iter=2 by keyword",
    "graby_spark/operators/similarity.py: ivfpq_topk(k)": "bench.py passes k=10 by keyword",
    "graby_spark/operators/similarity.py: ivfpq_topk(nprobe)": "bench.py passes nprobe=3 by keyword",
    "graby_spark/operators/graph.py: pagerank(n_iter)": "bench.py passes n_iter=10 by keyword",
    "graby_spark/operators/bpe.py: oracle_merges_sql(n_merges)": "passed inside oracle_sql(), whose source is frozen",
    "graby_spark/operators/bpe.py: oracle_token_counts_sql(n_merges)": "passed inside oracle_sql(), whose source is frozen",
    "graby_spark/operators/jpeg.py: encode_jpeg(quality)": "builds decoder coverage: quantisation tables",
    "graby_spark/operators/jpeg.py: encode_jpeg(quant_chroma)": "builds decoder coverage: a separate chroma table",
    "graby_spark/operators/jpeg.py: encode_jpeg(restart_interval)": "builds decoder coverage: restart markers",
    "graby_spark/operators/jpeg.py: encode_jpeg(subsample)": "builds decoder coverage: 4:2:0 chroma",
    "graby_spark/operators/webp.py: encode_webp_vp8l(color_elements)": "builds decoder coverage: the colour transform",
    "graby_spark/operators/webp.py: encode_webp_vp8l(meta_split)": "builds decoder coverage: meta prefix codes",
    "graby_spark/operators/webp.py: encode_webp_vp8l(palette)": "builds decoder coverage: the palette transform",
    "graby_spark/operators/webp.py: encode_webp_vp8l(predictor_mode)": "builds decoder coverage: predictor modes",
    "graby_spark/operators/webp.py: encode_webp_vp8l(subtract_green)": "builds decoder coverage: subtract-green",
    "graby_spark/operators/multimodal.py: encode_png(filters)": "builds decoder coverage: row filters",
    "graby_spark/operators/multimodal.py: encode_png(interlace)": "builds decoder coverage: Adam7 interlacing",
    "graby_spark/operators/avi.py: encode_avi_mjpeg(rate)": "builds reader coverage: frame timestamps",
    "graby_spark/sources/warc.py: build_warc_blobs(records_per_file)": "builds reader coverage: multi-file splits",
    "graby_spark/sources/warc.py: build_warc_blobs(gzip_records)": "builds reader coverage: plain and gzip members",
    "graby_spark/sources/warc.py: build_wet_blobs(records_per_file)": "builds reader coverage: multi-file splits",
    "graby_spark/sources/warc.py: build_wat_blobs(records_per_file)": "builds reader coverage: multi-file splits",
    "graby_spark/operators/similarity.py: make_clustered_embeddings(n)": "builds index coverage: corpus size",
    "graby_spark/operators/similarity.py: make_clustered_embeddings(dim)": "builds index coverage: vector width",
    "graby_spark/operators/similarity.py: make_clustered_embeddings(n_clusters)": "builds index coverage: cluster count",
    "graby_spark/operators/similarity.py: make_clustered_embeddings(seed)": "builds index coverage: independent draws",
    "graby_spark/operators/similarity.py: make_clustered_embeddings(sigma)": "builds index coverage: cluster spread",
    "graby_spark/job.py: run_extraction(partitions)": "lowered bound: partition invariance at test size",
    "graby_spark/operators/dedup.py: duplicate_clusters(star_after)": "lowered bound: the star-contraction branch at test size",
    "graby_spark/operators/dedup.py: duplicate_clusters(star_max_iter)": "lowered bound: the iteration cap at test size",
    "graby_spark/operators/dedup.py: duplicate_clusters(stats)": "out-parameter: reports which branch ran",
    "graby_spark/operators/dedup.py: embedding_near_dups(max_exact_rows)": "lowered bound: the LSH branch at test size",
    "graby_spark/manifest.py: read_manifest(history)": "snapshot pin: read every snapshot, not the current one",
    "graby_spark/manifest.py: filter_resumable(as_of_snapshot)": "snapshot pin: resume as of an older snapshot",
}


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


def _is_test(path: str) -> bool:
    rel = os.path.relpath(path, REPO)
    return rel.split(os.sep)[0] == "tests" or os.path.basename(path).startswith("test_")


def _dotted(path: str) -> str:
    mod = os.path.relpath(path, REPO)[: -len(".py")].replace(os.sep, ".")
    return mod[: -len(".__init__")] if mod.endswith(".__init__") else mod


@functools.lru_cache(maxsize=None)
def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


class _Index:
    """What one walk of a file sees: calls by callee name, every mention
    of a name (with its line), loaded names, attribute names, string
    constants and from-imports."""

    def __init__(self, path: str):
        self.calls: dict[str, list[ast.Call]] = defaultdict(list)
        self.mentions: dict[str, list[int]] = defaultdict(list)
        self.loaded: set[str] = set()
        self.attrs: set[str] = set()
        self.strings: set[str] = set()
        self.imports: set[tuple[str, str]] = set()
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Name):
                self.mentions[node.id].append(node.lineno)
                if not isinstance(node.ctx, ast.Store):
                    self.loaded.add(node.id)
            elif isinstance(node, ast.Attribute):
                self.mentions[node.attr].append(node.lineno)
                self.attrs.add(node.attr)
            elif isinstance(node, ast.Call):
                func = node.func
                if isinstance(func, ast.Name):
                    self.calls[func.id].append(node)
                elif isinstance(func, ast.Attribute):
                    self.calls[func.attr].append(node)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                self.strings.add(node.value)
                if node.value.isidentifier():
                    self.mentions[node.value].append(node.lineno)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                source = _import_source(path, node) if isinstance(node, ast.ImportFrom) else None
                for alias in node.names:
                    self.mentions[alias.name.rsplit(".", 1)[-1]].append(node.lineno)
                    if source is not None:
                        self.imports.add((source, alias.name))
        for lines in self.mentions.values():
            lines.sort()


def _import_source(path: str, node: ast.ImportFrom) -> str:
    """Dotted module a from-import reads, relative imports resolved."""
    if not node.level:
        return node.module or ""
    base = _dotted(path).split(".")
    if not path.endswith("__init__.py"):
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


@functools.lru_cache(maxsize=None)
def _index(path: str) -> _Index:
    return _Index(path)


def _caller_files():
    for rel in CALLERS:
        yield from _py_files(rel)


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


def _defaults(fn: ast.FunctionDef) -> dict[str, ast.expr]:
    """Default expression of each defaulted parameter, by name."""
    args = fn.args
    positional = args.posonlyargs + args.args
    out = dict(zip([p.arg for p in positional[len(positional) - len(args.defaults):]], args.defaults))
    out.update((k.arg, d) for k, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None)
    return out


def _parameters(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """(position or None for keyword-only, name) of every named parameter."""
    args = fn.args
    out = [(i, p.arg) for i, p in enumerate(args.posonlyargs + args.args)]
    return out + [(None, k.arg) for k in args.kwonlyargs]


def _non_test_caller_files():
    return (path for path in _caller_files() if not _is_test(path))


def _calls_by_name(files) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    for path in files:
        for name, found in _index(path).calls.items():
            calls[name].extend(found)
    return calls


def _given(call: ast.Call, position: int | None, name: str) -> ast.expr | None:
    """The expression a call passes for a parameter; None when it passes
    none or may pass one through ``*args``/``**kwargs``."""
    for k in call.keywords:
        if k.arg == name:
            return k.value
        if k.arg is None:
            return None
    if any(isinstance(a, ast.Starred) for a in call.args):
        return None
    if position is not None and len(call.args) > position:
        return call.args[position]
    return None


def _passes(call: ast.Call, position: int | None, name: str) -> bool:
    if any(k.arg in (name, None) for k in call.keywords):  # None: **kwargs
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return position is not None and len(call.args) > position


def _called_definitions(files):
    """Definitions with a package-unique call name and at least one call
    in ``files``, with those calls and the shift a bound call applies to
    positions."""
    defs = list(_definitions())
    names = Counter(callee for *_rest, callee in defs)
    calls = _calls_by_name(files)
    for module, qual, node, is_method, callee in defs:
        if names[callee] != 1 or not calls.get(callee):
            continue
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in node.decorator_list)
        # a bound call's first argument fills the parameter after self
        shift = 1 if is_method and not static else 0
        yield module, qual, node, shift, calls[callee]


def dead_knobs(files) -> list[str]:
    """Defaulted parameters that no call in the caller ``files`` passes."""
    dead = []
    for module, qual, node, shift, calls in _called_definitions(files):
        for position, param in _defaulted(node):
            slot = None if position is None else position - shift
            if not any(_passes(c, slot, param) for c in calls):
                dead.append(f"{module}: {qual}({param}=...)")
    return dead


def one_literal_parameters(files) -> list[str]:
    """Parameters that every call in the caller ``files`` passes as the
    same literal."""
    found = []
    for module, qual, node, shift, calls in _called_definitions(files):
        defaults = _defaults(node)
        for position, param in _parameters(node)[shift:]:
            slot = None if position is None else position - shift
            # a call that omits the argument passes its default
            given = [
                _given(c, slot, param) if _passes(c, slot, param) else defaults.get(param)
                for c in calls
            ]
            if all(isinstance(g, ast.Constant) for g in given):
                values = {repr(g.value) for g in given}
                if len(values) == 1:
                    found.append(f"{module}: {qual}({param}={values.pop()})")
    return found


def unreachable_definitions() -> list[str]:
    mentions: Counter = Counter()
    for path in _caller_files():
        if not _is_test(path):
            mentions.update({k: len(v) for k, v in _index(path).mentions.items()})
    found = []
    for path in _py_files("graby_spark"):
        module = os.path.relpath(path, REPO)
        own_file = _index(path).mentions
        for node in _parse(path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            defs = [(node.name, node)]
            if isinstance(node, ast.ClassDef):
                defs += [
                    (f"{node.name}.{sub.name}", sub)
                    for sub in node.body
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not (sub.name.startswith("__") and sub.name.endswith("__"))
                ]
            for qual, d in defs:
                # mentions inside the definition itself (recursion) do not reach it
                lines = own_file.get(d.name, [])
                own = bisect.bisect_right(lines, d.end_lineno) - bisect.bisect_left(lines, d.lineno)
                if mentions[d.name] <= own:
                    found.append(f"{module}: {qual}")
    return found


def _module_bindings(stmt: ast.stmt):
    """(name, is import) per name a module-level statement binds."""
    if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
        return
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        for alias in stmt.names:
            yield (alias.asname or alias.name).split(".")[0], True
    elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        for target in targets:
            for n in ast.walk(target):
                if isinstance(n, ast.Name):
                    yield n.id, False


def unused_module_names() -> list[str]:
    attrs: set[str] = set()
    strings: set[str] = set()
    imported: set[tuple[str, str]] = set()
    for path in _caller_files():
        idx = _index(path)
        attrs |= idx.attrs
        strings |= idx.strings
        imported |= idx.imports
    found = []
    for path in _py_files("graby_spark"):
        idx, module = _index(path), _dotted(path)
        for stmt in _parse(path).body:
            for name, is_import in _module_bindings(stmt):
                if name.startswith("__") and name.endswith("__"):
                    continue
                if name in idx.loaded or name in attrs or (module, name) in imported:
                    continue
                # a string names it: its own ``__all__``, or (for an
                # assignment) a getattr anywhere
                if name in (idx.strings if is_import else strings):
                    continue
                found.append(f"{os.path.relpath(path, REPO)}: {name}")
    return found


def test_no_dead_knobs():
    dead = dead_knobs(_caller_files())
    assert not dead, (
        f"{len(dead)} defaulted parameter(s) that no caller passes — "
        "replace each with the value its default gives:\n  " + "\n  ".join(dead)
    )


def test_no_one_literal_parameters():
    found = one_literal_parameters(_caller_files())
    extra = [p for p in found if p not in ONE_LITERAL_ALLOWED]
    assert not extra, (
        f"{len(extra)} parameter(s) that every call passes as the same literal — "
        "fold each into its function:\n  " + "\n  ".join(extra)
    )
    stale = ONE_LITERAL_ALLOWED - set(found)
    assert not stale, f"allow-list entries the scan no longer finds: {sorted(stale)}"


def seams_only_tests_vary() -> list[str]:
    """``module: qual(param)`` per parameter that the dead-knob or the
    one-literal scan flags once the tests no longer count as callers."""
    found = dead_knobs(_non_test_caller_files()) + [
        p for p in one_literal_parameters(_non_test_caller_files()) if p not in ONE_LITERAL_ALLOWED
    ]
    return sorted({p.split("=", 1)[0] + ")" for p in found})


def test_no_test_only_seams():
    found = seams_only_tests_vary()
    extra = [p for p in found if p not in TEST_SEAMS]
    assert not extra, (
        f"{len(extra)} parameter(s) that only tests set or vary — fold each "
        "to the value the system passes:\n  " + "\n  ".join(extra)
    )
    stale = sorted(set(TEST_SEAMS) - set(found))
    assert not stale, f"TEST_SEAMS entries the scan no longer finds: {stale}"


def test_no_unreachable_definitions():
    found = unreachable_definitions()
    assert not found, (
        f"{len(found)} definition(s) that no non-test file reaches — "
        "call each from the system or delete it with its tests:\n  " + "\n  ".join(found)
    )


def test_no_unused_module_names():
    found = unused_module_names()
    assert not found, (
        f"{len(found)} module-level name(s) or import(s) that nothing reads:\n  "
        + "\n  ".join(found)
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
    assert dead_knobs(_caller_files()) == [
        "graby_spark/mod.py: op(id_col=...)",
        "graby_spark/mod.py: op(k=...)",
        "graby_spark/mod.py: C.__init__(y=...)",
        "graby_spark/mod.py: C.m(x=...)",
    ]
    (callers / "use.py").unlink()  # parses are cached by path
    (callers / "use2.py").write_text("op(1, 'id')\nop(1, k=4)\nC(1).m(2)\n")
    assert dead_knobs(_caller_files()) == []


def test_scans_see_planted_reach_faults(tmp_path, monkeypatch):
    """One planted package: the one-literal, reach and unused-name scans
    each flag their case, and each clears once a caller varies the
    literal, reaches the helper or reads the name."""
    monkeypatch.setitem(globals(), "REPO", str(tmp_path))
    pkg = tmp_path / "graby_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "import os\n"
        "from re import compile as _compile\n\n"
        "_LIMIT = 3\n"
        "_USED = 4\n\n\n"
        "def op(df, col, k=2):\n    return helper(df) + _USED\n\n\n"
        "def cap(df, n=10):\n    return df\n\n\n"
        "def helper(df):\n    return df\n\n\n"
        "def only_tested(n):\n    return only_tested(n - 1) if n else 0\n\n\n"
        "class C:\n"
        "    def run(self, x):\n        return x\n\n"
        "    def spare(self):\n        return self.run(1)\n"
    )
    tools = tmp_path / "tools"
    tools.mkdir()
    (tools / "use.py").write_text("op(1, 'url', k=5)\nop(2, 'url', 5)\nC().run(0)\ncap(1, n=10)\ncap(2)\n")
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_mod.py").write_text("only_tested(2)\nC().spare()\n")
    assert one_literal_parameters(_caller_files()) == [
        "graby_spark/mod.py: op(col='url')",
        "graby_spark/mod.py: op(k=5)",
        "graby_spark/mod.py: cap(n=10)",  # the omitting call passes the default
    ]
    assert unreachable_definitions() == [
        "graby_spark/mod.py: only_tested",
        "graby_spark/mod.py: C.spare",
    ]
    assert unused_module_names() == [
        "graby_spark/mod.py: os",
        "graby_spark/mod.py: _compile",
        "graby_spark/mod.py: _LIMIT",
    ]
    (tools / "more.py").write_text(
        "from graby_spark.mod import _LIMIT\n"
        "op(3, 'html', k=6)\nonly_tested(1)\nC().spare()\nmod.os.sep\nmod._compile\ncap(3, 20)\n"
    )
    assert one_literal_parameters(_caller_files()) == []
    assert unreachable_definitions() == []
    assert unused_module_names() == []


def test_seam_scan_sees_a_test_only_parameter(tmp_path, monkeypatch):
    """A parameter that only a ``tests/test_*.py`` file passes clears the
    all-callers scans but is flagged by the non-test scan; the seam test
    fails on it until ``TEST_SEAMS`` names it, and on a stale entry."""
    monkeypatch.setitem(globals(), "REPO", str(tmp_path))
    pkg = tmp_path / "graby_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text("def op(df, k=2):\n    return df\n")
    tools = tmp_path / "tools"
    tools.mkdir()
    (tools / "use.py").write_text("op(df)\n")
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_mod.py").write_text("op(df, k=5)\n")
    assert dead_knobs(_caller_files()) == []
    assert one_literal_parameters(_caller_files()) == []
    assert seams_only_tests_vary() == ["graby_spark/mod.py: op(k)"]
    monkeypatch.setitem(globals(), "TEST_SEAMS", {})
    with pytest.raises(AssertionError, match="only tests set or vary"):
        test_no_test_only_seams()
    monkeypatch.setitem(globals(), "TEST_SEAMS", {"graby_spark/mod.py: op(k)": "a reason"})
    test_no_test_only_seams()
    monkeypatch.setitem(
        globals(),
        "TEST_SEAMS",
        {"graby_spark/mod.py: op(k)": "a reason", "graby_spark/mod.py: gone(x)": "a reason"},
    )
    with pytest.raises(AssertionError, match="no longer finds"):
        test_no_test_only_seams()

"""HTML table extraction — tables → normalized cell grids.

LLM-pipeline operator (no reference analog: the reference strips tables
to prose, ContentExtractor.php keeps/drops whole <table> subtrees): web
tables are a major structured-data source for training corpora, and
extracting them needs the span-aware grid model browsers use, not a
regex.

``extract_tables`` parses each page with the repo's own DOM
(:mod:`graby_spark.dom`), walks every ``<table>`` in document order
(nested tables are their own tables), and normalizes each one to a
rectangular grid per the HTML table model:

* rows/cells are assigned by NEAREST ancestor (a ``tr`` belongs to the
  closest enclosing ``table``, a ``td``/``th`` to the closest enclosing
  ``tr``), which is also robust to the tag-soup misnesting real pages
  and lenient parsers produce (e.g. an unclosed ``<tr>`` swallowing the
  next row);
* ``colspan`` repeats the cell value across its columns, ``rowspan``
  fills it down into the covered rows (the slot-covering algorithm of
  the HTML spec, simplified: a spanning cell overwrites colliding slots
  of broken tables instead of shifting);
* cell text is the whitespace-normalized text content EXCLUDING any
  nested table's text (the nested table re-appears as its own rows);
* a row is a header row when it sits in ``thead`` or all of its cells
  are ``th``.

Scale shape: one Arrow-batched ``mapInPandas`` over (url, html) only —
the input projection prunes every other column at the scan — emitting
already-exploded (url, table_idx, row_idx, ...) rows, so no
post-explode shuffle is needed.  Python-side work is a single DOM parse
per page reusing the extraction pipeline's tokenizer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["extract_tables", "table_stats", "tables_to_markdown"]

_SECTION_TAGS = {"thead", "tbody", "tfoot"}


def _span(cell, name: str) -> int:
    """colspan/rowspan attribute → clamped int (HTML parse rules:
    non-numeric or missing → 1; 0 means "rest of column group" in the
    spec but is treated as 1 here; clamp at the spec's 1000)."""
    raw = cell.get(name)
    if raw is None:
        return 1
    digits = raw.strip()
    if not digits.isdigit():
        return 1
    return min(max(int(digits), 1), 1000)


def _cell_text(cell) -> str:
    """Whitespace-normalized descendant text, skipping nested tables."""
    from ..dom import Element, TextNode

    parts: list[str] = []
    stack = list(reversed(cell.children))
    while stack:
        node = stack.pop()
        if isinstance(node, TextNode):
            parts.append(node.data)
        elif isinstance(node, Element) and node.tag != "table":
            stack.extend(reversed(node.children))
    return " ".join("".join(parts).split())


def _nearest(node, tags: set[str]):
    """Closest ancestor element whose tag is in ``tags`` (None if the
    document root is reached first)."""
    p = node.parent
    while p is not None:
        tag = getattr(p, "tag", None)
        if tag in tags:
            return p
        p = p.parent
    return None


def doc_tables(html: str) -> list[list[tuple[bool, list[str]]]]:
    """All tables of a document, each as [(is_header, grid_row), ...].

    Pure-Python core of :func:`extract_tables` (exposed for tests and
    for oracle replay): parses once, assigns rows/cells by nearest
    ancestor, normalizes spans to a rectangular occupancy grid."""
    from ..dom import parse_html

    doc = parse_html(html)
    tables = doc.iter_list("table")
    order = {id(t): i for i, t in enumerate(tables)}
    rows_by_table: dict[int, list] = {id(t): [] for t in tables}
    for t in tables:
        for tr in t.iter("tr"):
            if _nearest(tr, {"table"}) is t:
                rows_by_table[id(t)].append(tr)

    out: list[list[tuple[bool, list[str]]]] = [[] for _ in tables]
    for t in tables:
        pending: dict[int, list] = {}  # col -> [text, rows_still_covered]
        grid: list[tuple[bool, list[str]]] = []
        for tr in rows_by_table[id(t)]:
            # nearest of tr OR table: a cell whose closest row/table
            # ancestor is a NESTED table (even one with no <tr> of its
            # own) must not leak into this row
            cells = [
                c
                for c in tr.iter()
                if c.tag in ("td", "th") and _nearest(c, {"tr", "table"}) is tr
            ]
            section = _nearest(tr, _SECTION_TAGS | {"table"})
            in_thead = getattr(section, "tag", None) == "thead"
            is_header = in_thead or (bool(cells) and all(c.tag == "th" for c in cells))
            row: dict[int, str] = {c: v[0] for c, v in pending.items()}
            col = 0
            new_pending: dict[int, list] = {}
            for cell in cells:
                while col in row:
                    col += 1
                text = _cell_text(cell)
                cs, rs = _span(cell, "colspan"), _span(cell, "rowspan")
                for j in range(cs):
                    row[col + j] = text
                    if rs > 1:
                        new_pending[col + j] = [text, rs - 1]
                col += cs
            width = (max(row) + 1) if row else 0
            grid.append((is_header, [row.get(i, "") for i in range(width)]))
            pending = {
                c: [v[0], v[1] - 1] for c, v in pending.items() if v[1] - 1 > 0
            }
            pending.update(new_pending)
        out[order[id(t)]] = grid
    return out


def extract_tables(df: DataFrame) -> DataFrame:
    """(url, html) pages → one row per normalized table row:
    ``(url, table_idx, row_idx, is_header, n_cols, cells)``.

    ``table_idx`` numbers tables in document order (nested tables
    included, as their own entries); ``cells`` is the span-expanded
    grid row; ``n_cols`` its width.  ``html`` may be string or binary
    (binary is decoded UTF-8 with replacement — feed the charset
    pipeline's output when exactness matters)."""
    import pandas as pd

    src = df.select("url", "html")

    def run(batches):
        for pdf in batches:
            recs: dict[str, list] = {
                "url": [],
                "table_idx": [],
                "row_idx": [],
                "is_header": [],
                "n_cols": [],
                "cells": [],
            }
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                for t_idx, rows in enumerate(doc_tables(html)):
                    for r_idx, (is_header, cells) in enumerate(rows):
                        recs["url"].append(url)
                        recs["table_idx"].append(t_idx)
                        recs["row_idx"].append(r_idx)
                        recs["is_header"].append(is_header)
                        recs["n_cols"].append(len(cells))
                        recs["cells"].append(cells)
            # cells must stay an object Series: uniform-length lists
            # otherwise collapse into a 2-D ndarray Arrow can't convert
            yield pd.DataFrame(
                {
                    k: (pd.Series(v, dtype=object) if k == "cells" else v)
                    for k, v in recs.items()
                }
            )

    schema = (
        "url string, table_idx int, row_idx int, is_header boolean, "
        "n_cols int, cells array<string>"
    )
    return src.mapInPandas(run, schema=schema)


def table_stats(rows: DataFrame) -> DataFrame:
    """Per-table quality summary over :func:`extract_tables` output:
    ``(url, table_idx, n_rows, n_header_rows, max_cols, is_rectangular,
    numeric_ratio, empty_ratio)`` — the features a table-quality filter
    ranks on (rectangularity and numeric density separate data tables
    from layout tables).  Pure JVM aggregation: one shuffle on the
    (url, table_idx) key, array columns reduced with higher-order
    functions before the exchange."""
    num = F.size(
        F.filter("cells", lambda c: c.rlike(r"^[+-]?\d+([.,]\d+)?%?$"))
    ).cast("double")
    empty = F.size(F.filter("cells", lambda c: c == "")).cast("double")
    width = F.size("cells").cast("double")
    per_row = rows.select(
        "url",
        "table_idx",
        "is_header",
        "n_cols",
        num.alias("_num"),
        empty.alias("_empty"),
        width.alias("_width"),
    )
    return per_row.groupBy("url", "table_idx").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("is_header").cast("long")).alias("n_header_rows"),
        F.max("n_cols").cast("long").alias("max_cols"),
        (F.min("n_cols") == F.max("n_cols")).alias("is_rectangular"),
        (F.sum("_num") / F.greatest(F.sum("_width"), F.lit(1.0))).alias(
            "numeric_ratio"
        ),
        (F.sum("_empty") / F.greatest(F.sum("_width"), F.lit(1.0))).alias(
            "empty_ratio"
        ),
    )


def tables_to_markdown(rows: DataFrame) -> DataFrame:
    """:func:`extract_tables` output → one GitHub-markdown string per
    table: ``(url, table_idx, n_rows, markdown)``.

    The first grid row becomes the markdown header when it IS a header
    row; otherwise an empty header of the table's width is synthesized
    (markdown tables require one).  Pipes inside cells are escaped.
    Rendering is entirely JVM higher-order functions over one
    collect_list per table — a single shuffle on the (url, table_idx)
    key, no Python worker — so the serialization a corpus-prep job runs
    on billions of tables stays in whole-stage codegen."""

    def line(cells):
        return F.concat(
            F.lit("| "),
            F.array_join(
                F.transform(cells, lambda c: F.regexp_replace(c, r"\|", r"\\|")),
                " | ",
            ),
            F.lit(" |"),
        )

    g = rows.groupBy("url", "table_idx").agg(
        F.sort_array(
            F.collect_list(F.struct("row_idx", "is_header", "cells"))
        ).alias("rs"),
        F.max(F.size("cells")).cast("int").alias("w"),
        F.count("*").cast("long").alias("n_rows"),
    )
    first = F.element_at("rs", 1)
    has_hdr = F.coalesce(first["is_header"], F.lit(False))
    empty_hdr = F.transform(F.sequence(F.lit(1), F.col("w")), lambda _: F.lit(""))
    hdr_line = F.when(has_hdr, line(first["cells"])).otherwise(line(empty_hdr))
    sep_line = line(
        F.transform(F.sequence(F.lit(1), F.col("w")), lambda _: F.lit("---"))
    )
    body = F.when(
        has_hdr, F.slice("rs", 2, F.greatest(F.size("rs") - 1, F.lit(0)))
    ).otherwise(F.col("rs"))
    body_lines = F.transform(body, lambda r: line(r["cells"]))
    md = F.array_join(
        F.concat(F.array(hdr_line, sep_line), body_lines), "\n"
    )
    return g.where(F.col("w") > 0).select(
        "url", "table_idx", "n_rows", md.alias("markdown")
    )

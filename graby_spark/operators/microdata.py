"""HTML Microdata extraction — itemscope/itemprop trees → property rows.

LLM-pipeline operator extending the reference's structured-metadata
reach: Graby reads OpenGraph (ContentExtractor.php og handling) and
JSON-LD (ContentExtractor.php jsonld), but schema.org Microdata — the
third major in-page structured-data channel, still emitted by large
publishers and commerce sites — needs DOM scoping rules no regex can
approximate.  Mined microdata is training-corpus gold (recipes,
products, articles, events with typed fields).

``extract_microdata`` parses each page with the repo's own DOM
(:mod:`graby_spark.dom`) and emits one row per (item, property) with
the HTML microdata model (WHATWG §5.2, simplified):

* every element carrying ``itemscope`` is an item, numbered in document
  order (nested items included); ``itemtype``'s first token is its type;
* an item's properties are its descendant elements carrying
  ``itemprop``, EXCLUDING anything inside a nested ``itemscope`` (those
  belong to the nested item — the scoping rule that breaks flat
  scanners); ``itemref`` indirection is not supported (vanishingly rare
  in the wild);
* ``itemprop`` is a whitespace-separated name list — one output row per
  name;
* the property VALUE follows the spec's per-tag table: ``meta`` →
  content attr, ``img/audio/video/embed/iframe/source/track`` → src,
  ``a/area/link`` → href, ``object`` → data, ``data/meter`` → value
  attr, ``time`` → datetime attr (falling back to text), anything else
  → whitespace-normalized descendant text.  URL-valued properties are
  made absolute against the page base (first ``<base href>`` else the
  page url);
* a property that is itself a nested item yields ``value = ''`` and
  ``child_item`` = the nested item's index, so consumers can stitch the
  item graph back together.

Scale shape: one Arrow-batched ``mapInPandas`` over a (url, html)
projection — every other column pruned at the scan — emitting
already-exploded rows; one DOM parse per page (shared parser with the
extraction pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .imagetext import _norm, _page_base

__all__ = ["doc_microdata", "extract_microdata", "microdata_items"]

_URL_TAGS = {
    "img": "src",
    "audio": "src",
    "video": "src",
    "embed": "src",
    "iframe": "src",
    "source": "src",
    "track": "src",
    "a": "href",
    "area": "href",
    "link": "href",
    "object": "data",
}


def _prop_value(el, base: str) -> str:
    """Property value per the WHATWG per-tag table (URL-valued tags
    absolutized against ``base``)."""
    from .. import textutils

    tag = el.tag
    if tag == "meta":
        return _norm(el.get("content"))
    if tag in _URL_TAGS:
        raw = (el.get(_URL_TAGS[tag]) or "").strip()
        if not raw:
            return ""
        resolved = textutils.make_absolute(base, raw)
        return resolved if resolved is not None else raw
    if tag in ("data", "meter"):
        return _norm(el.get("value"))
    if tag == "time":
        dt = (el.get("datetime") or "").strip()
        return dt if dt else _norm(el.text_content)
    return _norm(el.text_content)


def doc_microdata(html: str, page_url: str) -> list[dict]:
    """Pure-Python core of :func:`extract_microdata` (exposed for tests
    and oracle replay): one dict per (item, property-name)."""
    from ..dom import Element, parse_html

    doc = parse_html(html)
    base = _page_base(doc, page_url)

    items: list = [el for el in doc.iter() if el.has_attr("itemscope")]
    idx_of = {id(el): i for i, el in enumerate(items)}

    out: list[dict] = []
    for item_idx, item in enumerate(items):
        item_type = (item.get("itemtype") or "").split()
        itype = item_type[0] if item_type else ""
        # descendants stopping at nested itemscope boundaries
        stack = [c for c in reversed(item.children) if isinstance(c, Element)]
        while stack:
            el = stack.pop()
            nested = el.has_attr("itemscope")
            names = (el.get("itemprop") or "").split()
            if names:
                value = "" if nested else _prop_value(el, base)
                child = idx_of[id(el)] if nested else None
                for name in names:
                    out.append(
                        {
                            "item_idx": item_idx,
                            "item_type": itype,
                            "prop": name,
                            "value": value,
                            "child_item": child,
                        }
                    )
            if not nested:
                stack.extend(
                    c for c in reversed(el.children) if isinstance(c, Element)
                )
    return out


def extract_microdata(df: DataFrame) -> DataFrame:
    """(url, html) pages → one row per microdata property:
    ``(url, item_idx, item_type, prop, value, child_item)``.

    ``html`` may be string or binary (binary decoded UTF-8 with
    replacement — feed the charset pipeline's output when exactness
    matters).  Items without properties emit no rows (their existence
    is recoverable from ``child_item`` references or irrelevant)."""
    import pandas as pd

    src = df.select("url", "html")

    def run(batches):
        for pdf in batches:
            recs: list[dict] = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if html is None:
                    continue
                if isinstance(html, (bytes, bytearray, memoryview)):
                    html = bytes(html).decode("utf-8", errors="replace")
                for rec in doc_microdata(html, url):
                    recs.append({"url": url, **rec})
            yield pd.DataFrame(
                recs,
                columns=[
                    "url",
                    "item_idx",
                    "item_type",
                    "prop",
                    "value",
                    "child_item",
                ],
            )

    schema = (
        "url string, item_idx int, item_type string, prop string, "
        "value string, child_item int"
    )
    return src.mapInPandas(run, schema=schema)


def microdata_items(props: DataFrame) -> DataFrame:
    """Per-item summary over :func:`extract_microdata` output:
    ``(url, item_idx, item_type, n_props, prop_names)`` — the shape a
    type-targeted miner filters on (``item_type = '…/Recipe'`` →
    fetch its property rows).  Pure JVM: one partial-aggregated shuffle
    on the (url, item_idx) key; ``prop_names`` is the sorted distinct
    name list, deterministic for oracle comparison."""
    return props.groupBy("url", "item_idx", "item_type").agg(
        F.count("*").cast("long").alias("n_props"),
        F.concat_ws(",", F.sort_array(F.collect_set("prop"))).alias("prop_names"),
    )

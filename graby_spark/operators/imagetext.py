"""Image–text pair mining — <img> elements → (src, alt, caption) rows.

LLM-pipeline operator (no reference analog: Graby strips or absolutizes
images inside article bodies, Graby.php:800-847, but never emits them as
data): image–alt-text pairs mined from HTML are the raw material of
image–text training corpora (LAION-style curation), and mining them
needs the same DOM care as table extraction — lazy-load attributes,
``srcset`` candidate lists, ``<base href>`` resolution and
``<figure>``/``<figcaption>`` association, none of which a regex over
raw bytes gets right.

``image_text_pairs`` parses each page with the repo's own DOM
(:mod:`graby_spark.dom`) and emits one row per ``<img>`` in document
order with:

* ``src`` — the effective image URL, made absolute against the page's
  base (the first ``<base href>`` when present, itself resolved against
  the page url, else the page url).  Lazy-loading fallbacks apply in
  the order real loaders use: ``src``, then ``data-src``, then
  ``data-original`` — an img carrying none of these but a ``srcset``
  still yields a row (src from the best srcset candidate);
* ``alt`` / ``title_attr`` — verbatim attribute text (whitespace
  normalized; missing → empty string, so emptiness is filterable);
* ``caption`` — the whitespace-normalized text of the nearest ancestor
  ``<figure>``'s first ``<figcaption>``, excluding nothing (captions
  legitimately contain links/markup), empty when the img sits outside a
  captioned figure;
* ``width`` / ``height`` — the attribute values when they are plain
  digits (CSS lengths like ``100%`` → null), for area-based filtering;
* ``srcset_best`` — the URL of the largest candidate in ``srcset``
  (``data-srcset`` as fallback), absolute; null without a srcset.
  "Largest" is by width descriptor (``800w``), falling back to density
  (``2x``), falling back to first — the candidate a maximum-resolution
  downloader would fetch.

``pair_quality`` adds the standard curation features on top, pure JVM.

Scale shape: one Arrow-batched ``mapInPandas`` over (url, html) only —
the input projection prunes every other column at the scan — emitting
already-exploded rows so no post-explode shuffle is needed; one DOM
parse per page.  ``pair_quality`` is exchange-free column math.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["doc_image_pairs", "image_text_pairs", "pair_quality"]

_SRCSET_SPLIT = re.compile(r"\s*,\s*(?=\S+(?:\s|$))")
_DIGITS = re.compile(r"^\d+$")


def _norm(text: str | None) -> str:
    return " ".join((text or "").split())


def _int_attr(el, name: str) -> int | None:
    raw = (el.get(name) or "").strip()
    return int(raw) if _DIGITS.match(raw) and len(raw) <= 6 else None


def _best_srcset(raw: str | None) -> str | None:
    """Largest srcset candidate's URL (width descriptor, then density,
    then first).  Candidates are comma-separated ``url [descriptor]``;
    URLs may themselves contain commas only inside parens per the spec,
    which real-world srcsets avoid — the split requires a following
    non-space token so bare trailing commas are tolerated."""
    if not raw or not raw.strip():
        return None
    best: tuple[float, float, str] | None = None
    for cand in _SRCSET_SPLIT.split(raw.strip()):
        parts = cand.split()
        if not parts:
            continue
        url, desc = parts[0], (parts[1].lower() if len(parts) > 1 else "")
        w = x = -1.0
        try:
            if desc.endswith("w"):
                w = float(desc[:-1])
            elif desc.endswith("x"):
                x = float(desc[:-1])
        except ValueError:
            pass
        # width descriptor dominates density; first candidate wins ties
        if best is None or (w, x) > (best[0], best[1]):
            best = (w, x, url)
    return best[2] if best else None


def _page_base(doc, page_url: str) -> str:
    """Effective base URL: first <base href> resolved against the page
    url (HTML spec: only the first base element counts), else the page
    url itself."""
    from .. import textutils

    for base in doc.iter("base"):
        href = (base.get("href") or "").strip()
        if href:
            resolved = textutils.make_absolute(page_url, href)
            return resolved if resolved is not None else page_url
        break
    return page_url


def _nearest_figure(node):
    p = node.parent
    while p is not None:
        if getattr(p, "tag", None) == "figure":
            return p
        p = p.parent
    return None


def doc_image_pairs(html: str, page_url: str) -> list[dict]:
    """Pure-Python core of :func:`image_text_pairs` (exposed for tests
    and oracle replay): one dict per <img> in document order."""
    from .. import textutils
    from ..dom import parse_html

    doc = parse_html(html)
    base = _page_base(doc, page_url)

    def absolutize(url: str | None) -> str | None:
        if url is None:
            return None
        url = url.strip()
        if not url:
            return None
        if url.startswith(("data:", "javascript:")):
            return url if url.startswith("data:") else None
        return textutils.make_absolute(base, url)

    out: list[dict] = []
    for img in doc.iter("img"):
        raw_src = next(
            (
                img.get(a)
                for a in ("src", "data-src", "data-original")
                if (img.get(a) or "").strip()
            ),
            None,
        )
        srcset_best = absolutize(
            _best_srcset(img.get("srcset") or img.get("data-srcset"))
        )
        src = absolutize(raw_src) or srcset_best
        if src is None:
            continue
        fig = _nearest_figure(img)
        caption = ""
        if fig is not None:
            for fc in fig.iter("figcaption"):
                caption = _norm(fc.text_content)
                break
        out.append(
            {
                "img_idx": len(out),
                "src": src,
                "alt": _norm(img.get("alt")),
                "title_attr": _norm(img.get("title")),
                "caption": caption,
                "width": _int_attr(img, "width"),
                "height": _int_attr(img, "height"),
                "srcset_best": srcset_best,
            }
        )
    return out


def image_text_pairs(df: DataFrame) -> DataFrame:
    """(url, html) pages → one row per image: ``(url, img_idx, src, alt,
    title_attr, caption, width, height, srcset_best)``.

    ``html`` may be string or binary (binary decoded UTF-8 with
    replacement — feed the charset pipeline's output when exactness
    matters)."""
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
                for rec in doc_image_pairs(html, url):
                    recs.append({"url": url, **rec})
            yield pd.DataFrame(
                recs,
                columns=[
                    "url",
                    "img_idx",
                    "src",
                    "alt",
                    "title_attr",
                    "caption",
                    "width",
                    "height",
                    "srcset_best",
                ],
            )

    schema = (
        "url string, img_idx int, src string, alt string, title_attr string, "
        "caption string, width int, height int, srcset_best string"
    )
    return src.mapInPandas(run, schema=schema)


def pair_quality(pairs: DataFrame) -> DataFrame:
    """Curation features over :func:`image_text_pairs` output — the
    signals LAION-style filters rank on, all exchange-free JVM math:

    * ``text`` — the best available description (alt, else caption,
      else title attribute) and ``text_words`` its word count;
    * ``alt_is_filename`` — alt that is just the image's filename
      (``IMG_1234.jpg``-shaped or equal to the src basename), the
      classic junk-alt signal;
    * ``area`` — width*height when both attributes were present
      (null otherwise; tiny areas are tracking pixels/spacers);
    * ``is_data_uri`` and ``ext`` — inline-payload flag and the
      lowercased extension from the src path (query string excluded).
    """
    text = F.when(F.col("alt") != "", F.col("alt")).otherwise(
        F.when(F.col("caption") != "", F.col("caption")).otherwise(
            F.col("title_attr")
        )
    )
    path = F.regexp_extract("src", r"^[a-z]+://[^/]*([^?#]*)", 1)
    basename = F.regexp_extract(path, r"([^/]*)$", 1)
    filename_shaped = F.col("alt").rlike(
        r"(?i)^[\w\- ]{1,80}\.(jpe?g|png|gif|webp|bmp|svg|avif|tiff?)$"
    )
    return pairs.select(
        "*",
        text.alias("text"),
        F.when(text == "", F.lit(0))
        .otherwise(F.size(F.split(text, r"\s+")))
        .cast("int")
        .alias("text_words"),
        (
            (F.col("alt") != "")
            & (filename_shaped | (F.lower(F.col("alt")) == F.lower(basename)))
        ).alias("alt_is_filename"),
        (F.col("width") * F.col("height")).cast("long").alias("area"),
        F.col("src").startswith("data:").alias("is_data_uri"),
        F.lower(F.regexp_extract(basename, r"\.([A-Za-z0-9]{1,5})$", 1)).alias(
            "ext"
        ),
    )

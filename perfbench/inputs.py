"""Seeded inputs for the benchmark workloads.

Every generator takes the workload seed and returns the same bytes for the
same seed.  Sizes are fixed by the workload, never by the seed: the seed
picks word choices, which docs are near-duplicates, where hostile rows sit
and the per-replica marker of a recorded page, so two seeds produce
tables of identical shape and (almost) identical byte counts.

The page HTML itself is never written here: synthetic pages come from
``graby_spark.pages.build_*``, recorded pages from ``fixtures/``.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "fixtures")
SITE_CONFIG_DIR = os.path.join(FIXTURES, "site_config")

#: the 30-word vocabulary of the sf0.001-sf0.1 ``documents`` test tables
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
#: language mix of the sf0.1 ``documents`` test table (en 41%, the rest ~15% each)
_LANG_CYCLE = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
SF01_DOCS = 5000


def write_documents(path: str, seed: int, n_docs: int = SF01_DOCS) -> str:
    """``documents.parquet`` in the test tables' shape: 10-100 words per doc,
    5% near-duplicates (another doc's text plus `` dup``).  Word counts are
    a fixed multiset permuted by the seed."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_docs, dtype=np.int64)
    n_words = rng.permutation(10 + (ids * 7919) % 91)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(n_words.sum()))]
    ends = np.cumsum(n_words)
    texts = [" ".join(words[e - n : e]) for n, e in zip(n_words, ends)]
    n_dups = n_docs // 20
    dup_ids = rng.choice(n_docs, size=2 * n_dups, replace=False)
    for dst, src in zip(dup_ids[:n_dups], dup_ids[n_dups:]):
        texts[dst] = texts[src] + " dup"
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [_LANG_CYCLE[i % len(_LANG_CYCLE)] for i in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "documents.parquet")
    pq.write_table(table, out)
    return out


# ---------------------------------------------------------------------------
# recorded pages (crawl_write)
# ---------------------------------------------------------------------------

#: url and content type of the recorded pages the fixture tests pin;
#: any other ``fixtures/content/*.html`` gets its url from its file name
_KNOWN_PAGES = {
    "framablog.html": (
        "https://framablog.org/2017/12/02/avancer-ensemble-vers-la-contribution/",
        "text/html; charset=utf-8",
    ),
    "rollingstone.html": (
        "https://www.rollingstone.com/?redirurl=/politics/news/greed-and-debt-20120829",
        "text/html",
    ),
    "https___www.clubic.com_carte-graphique_carte-graphique-amd_article-478936-1-radeon-hd-7750-7770.html": (
        "https://www.clubic.com/carte-graphique/carte-graphique-amd/article-478936-1-radeon-hd-7750-7770.html",
        "text/html; charset=UTF-8",
    ),
    "https___www.motherjones.com_politics_2012_02_mac-mcclelland-free-online-shipping-warehouses-labor_.html": (
        "https://www.motherjones.com/politics/2012/02/mac-mcclelland-free-online-shipping-warehouses-labor/",
        "text/html; charset=UTF-8",
    ),
    "https___www.presseportal.de_pm_103258_2930232.html": (
        "https://www.presseportal.de/pm/103258/2930232",
        "text/html; charset=utf-8",
    ),
    "https___www.xataka.com_movilidad_coches-vendidos-2023-2024-espana.html": (
        "https://www.xataka.com/movilidad/coches-vendidos-2023-2024-espana",
        "text/html; charset=UTF-8",
    ),
    "timothysykes-keepol.html": (
        "https://www.timothysykes.com/blog/10-things-know-short-selling/",
        "text/html",
    ),
}
#: recorded pages with a full-HTML byte golden under fixtures/expected
_EXPECTED_HTML = (
    "framablog.html",
    "rollingstone.html",
    "https___www.clubic.com_carte-graphique_carte-graphique-amd_article-478936-1-radeon-hd-7750-7770.html",
)
_GOLDEN_SITES = ("lemonde", "blogger", "lifehacker")


def _url_from_name(name: str) -> str:
    for scheme in ("https", "http"):
        prefix = scheme + "___"
        if name.startswith(prefix):
            host, _, path = name[len(prefix) :].partition("_")
            return f"{scheme}://{host}/{path}"
    return f"https://recorded.example/{name}"


def recorded_pages() -> list[dict]:
    """One dict per recorded page: ``key``, ``url``, ``content_type``,
    ``html`` bytes and ``golden`` (the byte-exact expected output html, or
    None).  Order is stable."""
    from tests.golden import load_golden

    pages = []
    for name in _GOLDEN_SITES:
        case = load_golden(name)
        pages.append(
            {
                "key": f"sites/{name}",
                "url": case.url,
                "content_type": case.header,
                "html": case.raw_content,
                "golden": case.parsed_content,
            }
        )
    content = os.path.join(FIXTURES, "content")
    for name in sorted(os.listdir(content)):
        if not name.endswith(".html"):
            continue
        url, ctype = _KNOWN_PAGES.get(name, (_url_from_name(name), "text/html"))
        with open(os.path.join(content, name), "rb") as fh:
            html = fh.read()
        golden = None
        if name in _EXPECTED_HTML:
            expected = os.path.join(FIXTURES, "expected", name[: -len(".html")] + ".expected.html")
            with open(expected, encoding="utf-8") as fh:
                golden = fh.read()
        pages.append(
            {"key": f"content/{name}", "url": url, "content_type": ctype, "html": html, "golden": golden}
        )
    return pages


def _replica_url(url: str, copy: int) -> str:
    scheme, _, rest = url.partition("://")
    host, slash, path = rest.partition("/")
    return f"{scheme}://{host}/copy-{copy}{slash}{path}"


def real_pages_frame(seed: int, replicas: int) -> pd.DataFrame:
    """``replicas`` copies of every recorded page as a pages table.  Copy 0
    keeps the page's own url and bytes (the canonical copy the goldens
    pin); copy k>0 gets its own url path and a seed-derived trailing HTML
    comment, so no two rows are byte-identical."""
    rng = np.random.default_rng(seed)
    tags = rng.integers(0, 2**63 - 1, size=replicas, dtype=np.int64)
    pages = recorded_pages()
    rows = []
    for copy in range(replicas):
        marker = f"\n<!-- replica {copy} {int(tags[copy]):016x} -->\n".encode()
        for page in pages:
            rows.append(
                {
                    "url": page["url"] if copy == 0 else _replica_url(page["url"], copy),
                    "warc_ts": datetime(2024, 1, 1),
                    "html": page["html"] if copy == 0 else page["html"] + marker,
                    "lang": None,
                    "content_type": page["content_type"],
                    "http_status": 200,
                    "page_key": page["key"],
                    "copy": copy,
                }
            )
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# hostile rows (crawl_write)
# ---------------------------------------------------------------------------

#: hostile row kinds and whether extraction succeeds on them; the outcome
#: per kind is seed-independent by construction and recorded from the
#: engine, the check compares against it
HOSTILE_KINDS = {
    "empty": False,
    "null": False,
    "pdf": True,
    "image": True,
    "malformed": True,
    "nested": True,
}


def _hostile_html(kind: str, rng: np.random.Generator) -> tuple[bytes | None, str]:
    noise = rng.integers(0x80, 0x100, size=64, dtype=np.uint8).tobytes()
    if kind == "empty":
        return b"", "text/html; charset=utf-8"
    if kind == "null":
        return None, "text/html; charset=utf-8"
    if kind == "pdf":
        return b"%PDF-1.4\n" + noise, "application/pdf"
    if kind == "image":
        return b"\xff\xd8\xff\xe0" + noise, "image/jpeg"
    if kind == "malformed":
        return b"<html><body>\xff\xfe" + noise * 4 + b"<p", "text/html"
    # nested: 500 levels of divs around one paragraph
    words = " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), 40))
    return (b"<div>" * 500 + f"<p>{words}</p>".encode() + b"</div>" * 500), "text/html"


def hostile_frame(seed: int, n_rows: int) -> pd.DataFrame:
    """``n_rows`` hostile pages cycling through :data:`HOSTILE_KINDS`."""
    rng = np.random.default_rng(seed + 1)
    kinds = list(HOSTILE_KINDS)
    rows = []
    for i in range(n_rows):
        kind = kinds[i % len(kinds)]
        html, ctype = _hostile_html(kind, rng)
        rows.append(
            {
                "url": f"http://hostile-{kind}.example.com/item/{i}",
                "warc_ts": datetime(2024, 1, 1),
                "html": html,
                "text": None,
                "lang": None,
                "content_type": ctype,
                "http_status": 200,
                "doc_id": -1 - i,
            }
        )
    return pd.DataFrame(rows)

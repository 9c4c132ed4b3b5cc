"""URL validation / normalization / filtering (SURVEY.md §2.1 S1, S2, S10).

Reimplements ``Graby::validateUrl`` (Graby.php:479-534): scheme defaulting
(``http://`` prepended, ``feed:`` → ``http:``), IDN host → punycode,
percent-encoding of non-ASCII path segments, and final validity check; and
``Graby::isUrlAllowed`` (Graby.php:536-553): case-insensitive substring
allow/block lists where a non-empty allow list wins.

Each operation exists twice: a Python function (used inside the UDF / at
the driver) and a Spark Column builder so the table-level filter runs
JVM-side in whole-stage codegen before any Python is involved.

Graby's fetch-time rewrite (the per-host ``rewrite_url`` map and the
``#!`` → ``_escaped_fragment_`` form, HttpClient.php:250-281, S4) has no
counterpart: the engine fetches nothing, it reads urls as crawled, and
``job.resolve_multipage`` joins next-page links against those raw urls —
a rewritten key would miss its hop.
"""

from __future__ import annotations

import re
from urllib.parse import quote, urlsplit, urlunsplit

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "validate_url",
    "is_url_allowed",
    "allowed_filter_expr",
    "canonical_url_expr",
    "normalize_host_expr",
    "registrable_domain_expr",
    "MULTI_LABEL_SUFFIXES",
]

_SCHEME_RE = re.compile(r"^(https?|feed)://", re.I)
_NON_ASCII_RE = re.compile(r"[\x80-\xff]")


class InvalidUrl(ValueError):
    pass


def validate_url(url: str) -> str:
    """Graby::validateUrl — returns the normalized url or raises InvalidUrl."""
    url = url.strip()
    if not _SCHEME_RE.match(url):
        url = "http://" + url
    if url.lower().startswith("feed://"):
        url = "http://" + url[7:]

    try:
        parts = urlsplit(url)
    except ValueError as exc:
        raise InvalidUrl(f'Url "{url}" is not valid.') from exc

    host = parts.hostname or ""
    if not host:
        raise InvalidUrl(f'Url "{url}" is not valid.')

    if _NON_ASCII_RE.search(host):
        try:
            host = host.encode("idna").decode("ascii")
        except (UnicodeError, UnicodeDecodeError) as exc:
            raise InvalidUrl(f'Url "{url}" is not valid IDN to ascii.') from exc

    path = parts.path
    if path and _NON_ASCII_RE.search(path):
        path = "/".join(quote(seg, safe="") for seg in path.split("/"))

    netloc = host
    if parts.port:
        netloc = f"{host}:{parts.port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"

    return urlunsplit((parts.scheme, netloc, path, parts.query, parts.fragment))


def is_url_allowed(url: str, allowed: list[str] | None = None, blocked: list[str] | None = None) -> bool:
    """Graby::isUrlAllowed — stristr semantics: a non-empty allow list wins,
    otherwise any blocked substring rejects."""
    lower = url.lower()
    if allowed:
        return any(item.lower() in lower for item in allowed)
    for item in blocked or []:
        if item.lower() in lower:
            return False
    return True


def allowed_filter_expr(
    url_col: str | Column = "url",
    allowed: list[str] | None = None,
    blocked: list[str] | None = None,
) -> Column:
    """JVM-side twin of is_url_allowed — a plain boolean Column so Catalyst
    can push the filter below everything else (the S2 'plain filter')."""
    col = F.lower(F.col(url_col) if isinstance(url_col, str) else url_col)
    if allowed:
        cond = F.lit(False)
        for item in allowed:
            cond = cond | col.contains(item.lower())
        return cond
    cond = F.lit(True)
    for item in blocked or []:
        cond = cond & ~col.contains(item.lower())
    return cond


def normalize_host_expr(url_col: str | Column = "url") -> Column:
    """Normalized host key column (lowercase, www. stripped — R1)."""
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.lower(F.regexp_extract(col, r"^[a-zA-Z]+://([^/:?#]+)", 1))
    return F.regexp_replace(host, r"^www\.", "")


def canonical_url_expr() -> Column:
    """Crawl-pipeline URL canonicalization as one JVM expression chain
    (oracle-able — the DuckDB twin applies the identical regexes):

      1. lowercase the scheme://host prefix (path case preserved),
      2. drop the fragment (S10's xtor fragments go with it),
      3. drop utm_*/mtm_* tracking params (HttpClient.php:521-544 family),
      4. normalize the leftover separators (?& runs, trailing ?/&),
      5. strip one trailing slash from non-root paths.

    Used for URL-level exact dedup of a crawl frontier/corpus — pure
    whole-stage-codegen string ops, no UDF, no shuffle.  Reads ``url``.
    """
    col = F.col("url")
    # 1. lowercase scheme://host
    c = F.concat(
        F.lower(F.regexp_extract(col, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)),
        F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
    )
    c = F.when(col.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), c).otherwise(col)
    # 2. fragment off
    c = F.regexp_replace(c, r"#.*$", "")
    # 3. tracking params, marker-free (a literal '$' in a URL must survive):
    #    non-first params drop with their '&'; a first param with a
    #    successor promotes it to '?'; a lone first param drops the '?'
    c = F.regexp_replace(c, r"&(utm_|mtm_)[^&#]*", "")
    c = F.regexp_replace(c, r"\?(utm_|mtm_)[^&#]*&", "?")
    c = F.regexp_replace(c, r"\?(utm_|mtm_)[^&#]*$", "")
    c = F.regexp_replace(c, r"\?$", "")
    # 5. trailing slash on non-root path
    c = F.regexp_replace(c, r"(://[^/?#]+/[^?#]*?)/(\?|$)", "$1$2")
    return c


#: multi-label public suffixes for eTLD+1 grouping — a documented SUBSET
#: of the Mozilla Public Suffix List covering the common two-label
#: country registries (the full PSL is an external ~15k-rule dataset;
#: this built-in list handles the bulk of real traffic and the
#: single-label default rule covers everything else).  Three-label and
#: wildcard PSL rules are intentionally out of scope.  Sorted tuple so
#: the engine expression and any SQL oracle share one literal order.
MULTI_LABEL_SUFFIXES = tuple(sorted(
    suffix
    for group in (
        # UK / IE
        ("co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk", "plc.uk"),
        # Japan / Korea / Taiwan / China / HK / SG
        ("co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp"),
        ("co.kr", "or.kr", "ne.kr", "go.kr", "ac.kr", "re.kr", "pe.kr"),
        ("com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw"),
        ("com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn"),
        ("com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk"),
        ("com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg"),
        # Oceania
        ("com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au", "asn.au"),
        ("co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "geek.nz", "maori.nz"),
        # Americas
        ("com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br", "blog.br"),
        ("com.mx", "org.mx", "gob.mx", "edu.mx", "net.mx"),
        ("com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar"),
        ("com.co", "net.co", "org.co", "edu.co", "gov.co"),
        ("com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe"),
        # South / Southeast Asia
        ("co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in", "gov.in"),
        ("co.th", "in.th", "ac.th", "go.th", "or.th", "net.th"),
        ("com.my", "net.my", "org.my", "gov.my", "edu.my"),
        ("com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn"),
        ("com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph"),
        ("co.id", "or.id", "ac.id", "go.id", "web.id", "my.id"),
        ("com.bd", "net.bd", "org.bd", "gov.bd", "edu.bd"),
        ("com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk"),
        # Middle East / Africa
        ("com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "gen.tr", "web.tr"),
        ("co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il"),
        ("com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa"),
        ("com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg"),
        ("co.za", "net.za", "org.za", "web.za", "gov.za", "ac.za"),
        ("co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke"),
        ("com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng"),
        # Europe
        ("com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl", "info.pl", "biz.pl"),
        ("com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "in.ua", "kiev.ua"),
        ("com.ru", "net.ru", "org.ru", "pp.ru", "msk.ru", "spb.ru"),
        ("com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr"),
        ("com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt", "int.pt"),
        ("com.es", "nom.es", "org.es", "gob.es", "edu.es"),
        ("co.at", "or.at", "ac.at", "gv.at", "priv.at"),
        ("co.hu", "org.hu", "info.hu", "priv.hu", "sport.hu"),
        ("com.ro", "org.ro", "nom.ro", "info.ro", "arts.ro"),
    )
    for suffix in group
))


def registrable_domain_expr(url_col: str | Column = "url") -> Column:
    """eTLD+1 (registrable domain) as one pure-JVM expression — the
    site-level grouping key crawl politeness, domain priors and
    per-site dedup shard on (grouping by raw host splits one site into
    www./m./amp. shards; grouping by last-2-labels merges every
    ``*.co.uk`` site into one).

    Algorithm: lowercase host, trailing dot stripped; IP literals pass
    through whole; if the last TWO labels form a known multi-label
    public suffix (:data:`MULTI_LABEL_SUFFIXES`) the registrable domain
    is the last THREE labels, otherwise the last two (single-label
    default rule of the PSL algorithm).  Fully codegen (split + slice +
    IN), no UDF, no shuffle; the same arithmetic is SQL-replayable and
    gated on the ``url_features`` driver oracle.
    """
    col = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.lower(F.regexp_extract(col, r"^[a-zA-Z]+://([^/:?#]+)", 1))
    host = F.regexp_replace(host, r"\.$", "")
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.concat_ws(".", F.slice(labels, -2, 2))
    last3 = F.concat_ws(".", F.slice(labels, -3, 3))
    is_ip = host.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    return (
        F.when(is_ip | (n <= 2), host)
        .when(last2.isin(*MULTI_LABEL_SUFFIXES), last3)
        .otherwise(last2)
    )


def url_features(df: DataFrame) -> DataFrame:
    """Crawl-prioritization / quality features from URL shape alone —
    the zero-content signals a frontier ranks on before fetching
    (UbiCrawler/IRLbot-style heuristics; also standard features in
    web-page quality classifiers):

    - ``path_depth``     — number of non-empty path segments
    - ``path_len``       — characters in the path (query excluded)
    - ``n_query_params`` — ``&``-separated parameter count (0 without ?)
    - ``digit_ratio``    — digits / characters over the full URL
    - ``has_tilde``      — user-page marker (``/~alice/``)
    - ``is_article_like``— path ends in a slug or .htm(l), not an index
                           root, no query string (cheap article prior)
    - ``registrable_domain`` — eTLD+1 site key
                           (:func:`registrable_domain_expr`)

    Pure JVM expressions appended as columns; narrow, no shuffle, fully
    codegen — run it on 10^12 frontier candidates without a Python
    worker.  The same arithmetic is DuckDB-replayable (oracle
    ``url_features``).
    """
    u = F.coalesce(F.col("url"), F.lit(""))
    after_host = F.regexp_replace(u, r"^[a-z][a-z0-9+.\-]*://[^/?#]*", "")
    path = F.regexp_replace(after_host, r"[?#].*$", "")
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    digits = F.length(F.regexp_replace(u, r"[^0-9]", ""))
    slug = F.regexp_extract(path, r"([^/]+)/?$", 1)
    return df.select(
        *df.columns,
        F.size(segs).cast("long").alias("path_depth"),
        F.length(path).cast("long").alias("path_len"),
        F.when(query == "", F.lit(0))
        .otherwise(F.size(F.split(query, "&")))
        .cast("long")
        .alias("n_query_params"),
        # unrounded on purpose: int/int division is bit-identical IEEE in
        # any engine, while round() ties (e.g. x/128) split between
        # banker's and half-up rounding across engines
        (digits / F.greatest(F.length(u), F.lit(1))).cast("double").alias("digit_ratio"),
        path.contains("~").alias("has_tilde"),
        (
            (query == "")
            & (F.size(segs) >= 1)
            & slug.rlike(r"^[A-Za-z0-9][A-Za-z0-9_\-]*(\.html?)?$")
            & ~F.lower(slug).rlike(r"^(index|default)(\.html?)?$")
        ).alias("is_article_like"),
        registrable_domain_expr(u).alias("registrable_domain"),
    )

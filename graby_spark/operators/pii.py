"""PII detection and redaction operators for web-text curation.

A standard stage of every large-scale training-data pipeline (and of the
downstream users of graby's extracted text): find and mask emails, IPv4
addresses, phone numbers, SSN-shaped ids, and separator-formatted payment
card numbers before the text enters a corpus.

Everything is pure JVM ``regexp_extract_all`` / ``regexp_replace``
(whole-stage codegen; zero Python in the hot path).  The patterns are
deliberately written in the common subset of Java regex and RE2 — no
lookaround, no backreferences — so the exact same pattern strings run in
the DuckDB oracle (`__spark_entry__.oracle_sql`'s ``text_pii`` entry).

Detection is staged: each category is counted on the text as already
redacted by the previous stages (emails -> cards -> SSNs -> IPv4s ->
phones), so a digit-run never double-counts (an IPv4 can otherwise also
match a permissive phone pattern).

Scale notes (100 TB): per-row regex over a projected (id, text) pair —
embarrassingly parallel, no shuffle, no skew surface; the only knob is
input split size.  Redacted text is emitted alongside the counts so the
operator can stream straight into a sink without a second pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["PII_PATTERNS", "pii_scrub", "redact_expr"]

# category -> (pattern, placeholder); ORDER MATTERS (each stage runs on the
# output of the previous one).  Patterns are Java-regex/RE2 common subset.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # separator-formatted 16-digit card numbers only: a bare 16-digit run is
    # far more often an id than a PAN, and Luhn needs per-digit state
    ("card", r"\b\d{4}[ \-]\d{4}[ \-]\d{4}[ \-]\d{4}\b", "<CARD>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # international-prefix phones: +CC then 1-4 digit groups; requiring the
    # leading '+' keeps false positives (dates, ids) near zero without
    # lookbehind, which RE2 (the oracle engine) does not support
    ("phone", r"\+\d{1,3}[ .\-]?\(?\d{1,4}\)?(?:[ .\-]\d{2,4}){1,4}", "<PHONE>"),
]


def redact_expr(col: Column) -> Column:
    """Composable column expression: all PII categories replaced by their
    placeholder tokens, in the canonical stage order."""
    out = col
    for _, pattern, placeholder in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, placeholder)
    return out


def pii_scrub(df: DataFrame) -> DataFrame:
    """Per-document PII counts + fully redacted text.

    Output: (doc, n_email, n_card, n_ssn, n_ipv4, n_phone, n_pii, redacted).
    Counts are staged (see module docstring) so categories never overlap.
    """
    staged = F.coalesce(F.col("text"), F.lit(""))
    counts = []
    for name, pattern, placeholder in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(staged, F.lit(pattern), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        staged = F.regexp_replace(staged, pattern, placeholder)
    total = None
    for c in counts:
        total = c if total is None else total + c
    return df.select(
        F.col("doc_id").alias("doc"),
        *counts,
        total.alias("n_pii"),
        staged.alias("redacted"),
    )

"""Shuffle-SHAPE regression pins: the scale claims, measured.

PLANS_AUDIT lints plans structurally (no row-UDFs, no cartesians);
SHUFFLE.md measures volumes at sf0.1.  This test pins the volume CLAIMS
so a plan regression that re-ships a payload (the class of defect the
round-5 HOF-collapse fix repaired) fails CI instead of surviving as a
silently-4x-slower query:

- extraction ships the page payload across the cluster EXACTLY ONCE
  (the range repartition on manifest bucket + url hash, which levels a
  mega-host without a salt and hands each task whole write buckets) —
  ratio ~1, never ~2;
- simhash dedup is map-side sketching + a keys-only band shuffle —
  document bytes never cross;
- exact dedup shuffles hashes, not documents;
- k-means assignment is broadcast-centroids + partial aggregation —
  near-zero shuffle regardless of corpus size.

Method: tools/shuffle_audit.py in a SUBPROCESS (the audit needs a
UI-enabled session with shuffle compression off; the suite's shared
session keeps the UI disabled), sf0.01, five archetype queries, ~90 s.
Thresholds are generous bands around the measured values (sf0.01 and
sf0.1 agree to well within them) — they pin the plan SHAPE, not the
host's timing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.01")

ARCHETYPES = "extract_text,dedup_exact,dedup_simhash,embed_kmeans,dedup_minhash_lsh"


@pytest.fixture(scope="module")
def audit_rows():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"no test data at {SF_DIR}")
    out = os.path.join(REPO, ".pytest_shuffle_audit.json")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    # distinct REQUESTED port so parallel suites don't race for 4049; if
    # it is taken anyway Spark rebinds to port+1 and the audit follows
    # its own session via sparkContext.uiWebUrl, so a collision is benign
    env["SHUFFLE_AUDIT_UI_PORT"] = "4057"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "shuffle_audit.py"),
            SF_DIR,
            f"--queries={ARCHETYPES}",
            f"--json-out={out}",
        ],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    with open(out) as fh:
        rows = json.load(fh)
    os.unlink(out)
    return {r["query"]: r for r in rows}


def test_extraction_payload_moves_exactly_once(audit_rows):
    r = audit_rows["extract_text"]
    # engine shuffle (input-synthesis calibrated out) vs uncompressed
    # page bytes: the bucket range repartition ships html+url+metadata once;
    # UnsafeRow framing adds a little.  2x would mean a second payload
    # exchange crept into the plan.
    assert 0.4 <= r["ratio"] <= 1.6, r


def test_simhash_never_ships_documents(audit_rows):
    r = audit_rows["dedup_simhash"]
    assert r["ratio"] <= 0.08, r


def test_exact_dedup_shuffles_hashes_only(audit_rows):
    r = audit_rows["dedup_exact"]
    assert r["ratio"] <= 0.35, r


def test_kmeans_is_broadcast_plus_partial_agg(audit_rows):
    r = audit_rows["embed_kmeans"]
    assert r["ratio"] <= 0.12, r


def test_minhash_ships_fixed_signature_record(audit_rows):
    # 128 x 8 B signatures + banded bucket keys + candidate-id pairs:
    # a fixed ~1 KB per document, INDEPENDENT of document size (the
    # scale-invariant for sketch dedup — see SHUFFLE.md "doc count").
    # 3 KB/doc would mean document text leaked into the band shuffle.
    r = audit_rows["dedup_minhash_lsh"]
    assert r["kb_per_row"] <= 2.5, r

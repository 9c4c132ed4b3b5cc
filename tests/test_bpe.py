"""BPE tokenizer tests: Spark training vs a pure-Python reference, the
JVM fold-merge vs a greedy scan, and the chained-CTE DuckDB oracle."""

import random
from collections import Counter

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from graby_spark.operators import bpe
from graby_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    session = get_spark(app_name="graby-bpe-tests", master="local[4]", shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    yield session


CORPUS = [
    (0, "low lower lowest"),
    (1, "new newer newest"),
    (2, "low low new"),
    (3, "wider wide widest"),
    (4, "aaa abab banana"),
    (5, ""),          # no words: must keep a (0, 0) count row
    (6, None),        # null text likewise
    (7, "Mixed CASE and punct! stay-out 42ok"),  # only 'mixed'/'case'/'and'/'42ok' pass the alphabet guard
]


def _py_words(texts):
    words = Counter()
    for t in texts:
        for w in (t or "").lower().strip().split():
            if w and w.isascii() and all(c.islower() or c.isdigit() for c in w):
                words[w] += 1
    return words


def _py_bpe(texts, n):
    """Reference implementation: Sennrich-style word-internal BPE with
    (count DESC, pair ASC) tiebreak and greedy left-to-right merges."""
    words = _py_words(texts)
    vocab = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n + 1):
        pc = Counter()
        for w, toks in vocab.items():
            for i in range(len(toks) - 1):
                pc[(toks[i], toks[i + 1])] += words[w]
        if not pc:
            break
        (a, b), _ = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b))
        for w, toks in vocab.items():
            vocab[w] = _py_apply(toks, a, b)
    return merges, {w: len(t) for w, t in vocab.items()}, words


def _py_apply(toks, a, b):
    out = []
    for t in toks:
        if out and out[-1] == a and t == b:
            out[-1] = a + b
        else:
            out.append(t)
    return out


@pytest.fixture(scope="module")
def trained(spark):
    df = spark.createDataFrame(CORPUS, "doc_id long, text string")
    merges, vocab = bpe.train_bpe(df)
    yield df, merges, vocab
    vocab.unpersist()


def test_train_matches_python_reference(trained):
    _, merges, vocab = trained
    py_merges, py_sizes, _ = _py_bpe([t for _, t in CORPUS], bpe.N_MERGES)
    assert merges == py_merges
    got = {r["word"]: len(r["toks"]) for r in vocab.collect()}
    assert got == py_sizes


def test_token_counts_match_reference_and_keep_empty_docs(trained):
    df, _, vocab = trained
    _, py_sizes, _ = _py_bpe([t for _, t in CORPUS], bpe.N_MERGES)
    counts = {r["id"]: (r["n_words"], r["bpe_tokens"]) for r in bpe.bpe_token_counts(df, vocab).collect()}
    for doc_id, text in CORPUS:
        ws = [
            w
            for w in (text or "").lower().strip().split()
            if w and w.isascii() and all(c.islower() or c.isdigit() for c in w)
        ]
        assert counts[doc_id] == (len(ws), sum(py_sizes[w] for w in ws)), doc_id
    assert counts[5] == (0, 0) and counts[6] == (0, 0)


def test_apply_merge_is_greedy_left_to_right(spark):
    """The JVM fold must equal the greedy scan, including the cascade
    case ('aaa' + (a,a) -> [aa, a], not [aa, aa]) and merged-token
    re-eligibility as a LEFT operand only."""
    rng = random.Random(7)
    cases = [
        (["a", "a", "a"], "a", "a"),
        (["a", "a", "a", "a"], "a", "a"),
        (["a", "b", "a", "b"], "a", "b"),
        (["ab", "b"], "ab", "b"),
        ([], "a", "b"),
        (["x"], "a", "b"),
    ]
    syms = ["a", "b", "ab", "x", "aa"]
    for _ in range(60):
        toks = [rng.choice(syms) for _ in range(rng.randrange(0, 9))]
        cases.append((toks, rng.choice(syms), rng.choice(syms)))
    df = spark.createDataFrame(
        [(i, t, a, b) for i, (t, a, b) in enumerate(cases)],
        "i long, toks array<string>, a string, b string",
    )
    # one pass per distinct (a, b): group cases so each merge pair is a literal
    by_pair = {}
    for i, (t, a, b) in enumerate(cases):
        by_pair.setdefault((a, b), []).append(i)
    for (a, b), idxs in by_pair.items():
        sub = df.where(F.col("i").isin(idxs)).withColumn(
            "merged", bpe.apply_merge(F.col("toks"), a, b)
        )
        for r in sub.collect():
            assert r["merged"] == _py_apply(cases[r["i"]][0], a, b), (cases[r["i"]][0], a, b)


def test_early_break_when_corpus_exhausts(spark):
    """Single-char words have no pairs: training stops short and the
    vocab survives (mirrored by the oracle's LEFT JOIN guard)."""
    df = spark.createDataFrame([(0, "a b a c")], "doc_id long, text string")
    merges, vocab = bpe.train_bpe(df)
    assert merges == []
    assert {r["word"] for r in vocab.collect()} == {"a", "b", "c"}
    vocab.unpersist()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [0], "text": ["a b a c"]}))
    assert con.execute(bpe.oracle_merges_sql(5)).fetchall() == []
    counts = con.execute(bpe.oracle_token_counts_sql(5)).fetchall()
    assert counts == [(0, 4, 4)]


def test_duckdb_oracle_replays_training(trained):
    df, merges, vocab = trained
    pdf = pd.DataFrame(CORPUS, columns=["doc_id", "text"])
    con = duckdb.connect()
    con.register("documents", pdf)
    got = con.execute(bpe.oracle_merges_sql(bpe.N_MERGES) + " ORDER BY rank").fetchall()
    assert [(r, a, b) for r, a, b, _ in got] == merges
    assert [m for *_, m in got] == [a + b for _, a, b in merges]
    spark_counts = sorted(
        (r["id"], r["n_words"], r["bpe_tokens"]) for r in bpe.bpe_token_counts(df, vocab).collect()
    )
    duck_counts = sorted(con.execute(bpe.oracle_token_counts_sql(bpe.N_MERGES)).fetchall())
    assert spark_counts == duck_counts

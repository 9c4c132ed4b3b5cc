"""Byte-pair-encoding tokenizer, trained and applied as Spark jobs.

A training-data pipeline needs a real subword tokenizer, not just
whitespace counts: BPE (Sennrich et al. 2016, "Neural Machine Translation
of Rare Words with Subword Units") learns a merge table from corpus
statistics and every downstream token budget (sequence packing, sampling
weights, contamination windows) is denominated in its tokens.  The
reference engine has no tokenizer — this is one of the beyond-reference
training-data operators (brief: "token counting (whitespace + a BPE-ish
regex)"); here the BPE is real, not -ish.

Scale shape
-----------
Training never touches the corpus after one word-count: BPE statistics
are a function of the *distinct-word* vocabulary with frequencies (the
classic formulation), which is the corpus' unigram table — millions of
rows at 100 TB, not billions.  Each of the ``N_MERGES`` iterations is

  1. a pair-count aggregate over the vocab (adjacent symbol pairs
     weighted by word frequency; map-side partial sums, shuffle carries
     ``(a, b, partial_count)`` only), and
  2. a ``collect()`` of exactly ONE row (the argmax pair), and
  3. a JVM-side fold (``F.aggregate``) that rewrites each word's symbol
     array greedily left-to-right — whole-stage codegen, no Python.

The vocab is ``localCheckpoint``-ed up front and every few iterations so
the loop's lineage stays flat (same pattern as graph.pagerank).  Encoding
is dictionary-style: the final vocab maps word -> subword count, so
per-document token counts are a word-explode + join (broadcast when the
vocab is small) + sum — the document text is never re-segmented per
occurrence.

Determinism / oracle
--------------------
The argmax tiebreak is (count DESC, a ASC, b ASC) under binary string
comparison, identical in Spark and DuckDB for the ``^[a-z0-9]+$`` word
alphabet enforced on both sides.  The DuckDB oracle replays the FULL
training loop as ``n_merges`` chained CTE stages (no recursion needed:
the iteration count is a compile-time constant) and replays greedy merge
application with a double-sentinel ``replace()``: a word's segmentation
is kept as ``\x01\x01 tok \x01\x01 tok \x01\x01`` and applying merge
(a, b) is ``replace(s, '\x01a\x01\x01b\x01', '\x01ab\x01')`` — the
pattern consumes one sentinel from each side's pair, so adjacent
occurrences still match and SQL's left-to-right non-overlapping replace
is exactly BPE's greedy scan (probed: 'aaa' under (a,a) -> [aa, a],
'abab' under (a,b) -> [ab, ab]).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

WORD_RE = "^[a-z0-9]+$"  # shared alphabet guard, Spark + DuckDB
N_MERGES = 8  # merges train_bpe learns


def corpus_words(df: DataFrame) -> DataFrame:
    """One row per word occurrence of ``text`` (column ``word``), lowercased and
    restricted to the cross-engine-safe alphabet."""
    return (
        df.select(
            F.explode(
                F.split(F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+")
            ).alias("word")
        )
        .where(F.col("word").rlike(WORD_RE))
    )


def word_vocab(df: DataFrame) -> DataFrame:
    """Distinct-word frequency table: (word, cnt, toks) with toks the
    initial character segmentation."""
    return (
        corpus_words(df)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "toks", F.filter(F.split(F.col("word"), ""), lambda t: t != "")
        )
    )


def apply_merge(toks: Column, a: str, b: str) -> Column:
    """Greedy left-to-right application of one merge (a, b) -> a+b to a
    symbol array, as a JVM fold — after a merge the new symbol ``a+b`` is
    immediately eligible as the left side of the next comparison, which
    is exactly the non-overlapping greedy scan ('aaa' + (a,a) -> [aa, a])."""
    return F.aggregate(
        toks,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the current segmentation, weighted
    by word count: (a, b, c).  Words segmented to a single symbol
    contribute nothing (zip of empty slices)."""
    pairs = vocab.select(
        "cnt",
        F.explode(
            F.zip_with(
                F.slice(F.col("toks"), 1, F.greatest(F.size("toks") - 1, F.lit(0))),
                F.slice(F.col("toks"), 2, F.greatest(F.size("toks") - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b")).agg(
        F.sum("cnt").alias("c")
    )


def train_bpe(df: DataFrame) -> tuple[list[tuple[int, str, str]], DataFrame]:
    """Learn ``N_MERGES`` BPE merges from the corpus.

    Returns ``(merges, vocab)`` where merges is a list of
    ``(rank, a, b)`` (rank starting at 1) and vocab is the final
    segmented word table (word, cnt, toks).  Stops early if the corpus
    runs out of pairs (every word fully merged).
    """
    vocab = word_vocab(df).localCheckpoint()
    merges: list[tuple[int, str, str]] = []
    for rank in range(1, N_MERGES + 1):
        best = (
            pair_counts(vocab)
            .orderBy(F.desc("c"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((rank, a, b))
        vocab = vocab.withColumn("toks", apply_merge(F.col("toks"), a, b))
        # flatten lineage: each iteration nests a fold inside the last
        if rank % 4 == 0:
            prev = vocab
            vocab = vocab.localCheckpoint()
            prev.unpersist()
    return merges, vocab


def merges_df(spark: SparkSession, merges: list[tuple[int, str, str]]) -> DataFrame:
    rows = [(r, a, b, a + b) for (r, a, b) in merges]
    return spark.createDataFrame(rows, "rank INT, a STRING, b STRING, merged STRING")


def bpe_token_counts(df: DataFrame, vocab: DataFrame) -> DataFrame:
    """Per-document BPE token counts under a trained vocab, dictionary
    style: (id, n_words, bpe_tokens).  Documents whose text yields no
    alphabet words keep a zero row.  The join side carries only
    (word, subword-count); broadcast it — the vocab is the corpus
    unigram table, orders of magnitude smaller than the corpus."""
    words = (
        df.select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.split(
                    F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+"
                )
            ).alias("word"),
        )
        .where(F.col("word").rlike(WORD_RE))
        .groupBy("id", "word")
        .agg(F.count("*").alias("n"))
    )
    sizes = F.broadcast(
        vocab.select("word", F.size("toks").cast("long").alias("nt"))
    )
    per_doc = (
        words.join(sizes, "word")
        .groupBy("id")
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("nt")).alias("bpe_tokens"),
        )
    )
    ids = df.select(F.col("doc_id").alias("id"))
    return ids.join(per_doc, "id", "left").select(
        "id",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("bpe_tokens", F.lit(0)).cast("long").alias("bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle generators (the SQL replays the training loop exactly)
# ---------------------------------------------------------------------------

_SEP = "chr(1)"
_SEP2 = "(chr(1)||chr(1))"


def _oracle_vocab_ctes(n_merges: int) -> str:
    """CTE chain: w (word occurrences), v0..v{n} (segmentations as
    sentinel strings), p{i}/b{i} (pair counts / argmax per iteration).
    ``b{i}`` is LEFT-joined so an exhausted corpus keeps its vocab
    instead of vanishing (mirrors train_bpe's early break)."""
    parts = [
        "w AS (SELECT x.word AS word FROM documents, "
        "unnest(string_split_regex(trim(lower(coalesce(text,''))), '\\s+')) AS x(word) "
        "WHERE regexp_matches(x.word, '^[a-z0-9]+$'))",
        (
            "v0 AS (SELECT word, count(*)::BIGINT AS cnt, "
            "{sep2} || regexp_replace(word, '(.)', '\\1'||{sep2}, 'g') AS s "
            "FROM w GROUP BY word)"
        ).format(sep2=_SEP2),
    ]
    for i in range(n_merges):
        parts.append(
            (
                "p{i} AS (SELECT t.a AS a, t.b AS b, sum(t.cnt) AS c FROM ("
                "SELECT q.cnt AS cnt, q.toks[r.j] AS a, q.toks[r.j+1] AS b FROM "
                "(SELECT cnt, list_filter(string_split(s, {sep2}), x -> x <> '') AS toks FROM v{i}) q, "
                "unnest(range(1, len(q.toks))) AS r(j)"
                ") t GROUP BY t.a, t.b)"
            ).format(i=i, sep2=_SEP2)
        )
        parts.append(
            "b{i} AS (SELECT a, b FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1)".format(i=i)
        )
        parts.append(
            (
                "v{j} AS (SELECT v.word AS word, v.cnt AS cnt, "
                "CASE WHEN b.a IS NULL THEN v.s ELSE "
                "replace(v.s, {sep}||b.a||{sep2}||b.b||{sep}, {sep}||b.a||b.b||{sep}) "
                "END AS s FROM v{i} v LEFT JOIN b{i} b ON true)"
            ).format(i=i, j=i + 1, sep=_SEP, sep2=_SEP2)
        )
    return "WITH " + ",\n".join(parts)


def oracle_merges_sql(n_merges: int = 8) -> str:
    selects = [
        f"SELECT {i + 1} AS rank, a, b, a||b AS merged FROM b{i}"
        for i in range(n_merges)
    ]
    return (
        _oracle_vocab_ctes(n_merges)
        + "\n"
        + " UNION ALL ".join(selects)
    )


def oracle_token_counts_sql(n_merges: int = 8) -> str:
    n = n_merges
    return (
        _oracle_vocab_ctes(n)
        + f""",
vf AS (SELECT word, len(list_filter(string_split(s, {_SEP2}), x -> x <> '')) AS nt FROM v{n}),
dw AS (SELECT d.doc_id AS id, x.word AS word FROM documents d,
       unnest(string_split_regex(trim(lower(coalesce(d.text,''))), '\\s+')) AS x(word)
       WHERE regexp_matches(x.word, '^[a-z0-9]+$')),
wc AS (SELECT id, word, count(*)::BIGINT AS n FROM dw GROUP BY id, word),
per AS (SELECT wc.id AS id, sum(wc.n) AS n_words, sum(wc.n * vf.nt) AS bpe_tokens
        FROM wc JOIN vf USING (word) GROUP BY wc.id)
SELECT d.doc_id AS doc_id,
       coalesce(per.n_words, 0)::BIGINT AS n_words,
       coalesce(per.bpe_tokens, 0)::BIGINT AS bpe_tokens
FROM documents d LEFT JOIN per ON d.doc_id = per.id"""
    )

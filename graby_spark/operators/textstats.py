"""Text-analysis operators: token counts, quality scoring, language ID,
document fingerprinting.

Everything here is pure JVM Spark SQL (whole-stage codegen; zero Python in
the hot path) except the rolling-hash fingerprint, which is a vectorized
pandas UDF.  Each operator has an ANSI-SQL twin used as the DuckDB oracle
in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "token_stats",
    "quality_score",
    "linear_quality_score",
    "linear_quality_score_weighted",
    "language_id",
    "fingerprints",
    "unigram_logprob",
    "build_unigram_lm",
    "build_bigram_lm",
    "build_trigram_lm",
    "perplexity_score_backoff",
    "perplexity_score_backoff3",
    "ccnet_buckets",
    "perplexity_score",
    "repetition_stats",
    "gopher_quality_filter",
    "importance_weights",
    "c4_quality_filter",
    "split_assign",
    "split_exprs",
    "normalize_text",
    "sentences",
    "domain_prior",
    "extract_lite",
    "tfidf_topk",
    "readability",
    "corpus_grep",
    "STOPWORDS",
]

# tiny per-language stopword tables for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "was"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "que"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "en"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu", "den", "von"],
}

#: add-k smoothing of the stored unigram/bigram LMs
ADD_K = 0.5
#: stupid-backoff penalty of the bigram and trigram scorers
BACKOFF_ALPHA = 0.4
#: hash buckets of :func:`linear_quality_score`'s default model
_LINEAR_BUCKETS = 1 << 20
#: winnowing gram length and window of :func:`fingerprints`
_WINNOW = 16


def token_stats(df: DataFrame) -> DataFrame:
    """Whitespace + BPE-ish token counts and basic char stats."""
    text = F.trim(F.col("text"))
    ws_tokens = F.split(text, r"\s+")
    # BPE-ish: word pieces + digits + punctuation as separate tokens
    bpe_tokens = F.split(text, r"(?<=[^\w])|(?=[^\w\s])|\s+")
    return df.select(
        "doc_id",
        F.length(text).alias("char_count"),
        F.size(ws_tokens).alias("ws_token_count"),
        F.size(F.filter(bpe_tokens, lambda t: t != "")).alias("bpe_token_count"),
        F.length(F.regexp_replace(text, r"[^.,;:!?]", "")).alias("punct_count"),
        F.length(F.regexp_replace(text, r"[^0-9]", "")).alias("digit_count"),
    )


def quality_score(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Heuristic quality score in [0, 1]: length band, punctuation ratio,
    stopword ratio, mean word length band.  Mirrors common web-text
    filtering recipes; every term is a SQL expression (oracle-checkable).

    ``keep`` names extra input columns to pass through — cheaper than
    joining the scores back by id (which costs a full shuffle join of two
    scans of the same table; see q_domain_prior's plan audit)."""
    text = F.trim(F.col("text"))
    tokens = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    n_tokens = F.size(tokens)
    n_chars = F.length(text)
    stop_list = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(tokens, lambda t: F.array_contains(stop_list, t)))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    mean_word_len = (n_chars - (n_tokens - 1)) / n_tokens

    length_ok = (n_chars >= 50) & (n_chars <= 20000)
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    word_len_ok = (mean_word_len >= 2.0) & (mean_word_len <= 12.0)

    score = (
        length_ok.cast("double") * 0.25
        + (punct_ratio <= 0.2).cast("double") * 0.25
        + (stop_ratio >= 0.05).cast("double") * 0.25
        + word_len_ok.cast("double") * 0.25
    )
    return df.select(
        "doc_id",
        *[F.col(c) for c in keep],
        n_tokens.alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 2).alias("quality"),
    )


def linear_quality_score(df: DataFrame) -> DataFrame:
    """fastText/CCNet-style hashed linear text classifier, pure JVM.

    The standard pretraining quality gate (CCNet, GPT-3's Wikipedia-vs-
    CommonCrawl filter) is a linear model over hashed bag-of-words
    features: score = sigmoid(mean of per-token weights).  At 100 TB the
    scoring pass must be a map-only projection — here the whole model is
    an expression: token → hash bucket (the cross-engine md5 trick) →
    weight lookup → array mean → sigmoid, no Python, no shuffle, no
    model file shipped per task.

    This default "model" derives each bucket's weight deterministically
    from the bucket hash itself (uniform in [-1, 1]) — a stand-in with
    the exact production plan shape; swapping in trained weights means
    broadcasting a weight map and substituting the lookup expression
    (same plan, one broadcast join or a `F.element_at` on a literal map).

    Returns (doc, n_tokens, logit, prob, keep); prob rounded to 6 dp for
    cross-engine determinism; empty docs get NULL prob / keep = false.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    # bucket = md5-based 60-bit hash (cross-engine: DuckDB computes the
    # identical value); weight = uniform in [-1, 1] from the bucket id
    weight = lambda t: (  # noqa: E731
        (
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("bigint")
            % F.lit(_LINEAR_BUCKETS)
        ).cast("double")
        / F.lit(float(_LINEAR_BUCKETS - 1))
    ) * 2.0 - 1.0
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, weight), F.lit(0.0).cast("double"), lambda acc, v: acc + v
    )
    logit = F.when(n > 0, total / n)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return df.select(
        F.col("doc_id").alias("doc"),
        n.cast("long").alias("n_tokens"),
        F.round(logit, 6).alias("logit"),
        prob.alias("prob"),
        F.coalesce(prob >= 0.5, F.lit(False)).alias("keep"),
    )


def linear_quality_score_weighted(df: DataFrame, weights: DataFrame) -> DataFrame:
    """Trained-weights variant of :func:`linear_quality_score`.

    ``weights`` is a (token, weight) DataFrame — a fastText/logistic
    model's input layer collapsed to per-token scalars.  Plan shape for
    100 TB: tokens explode once, probe the BROADCAST weight table (a
    trained vocab is 1e5-1e6 rows — broadcast-sized by construction),
    then one aggregation keyed by doc id computes the mean; the corpus
    text never shuffles, only (doc, weight) pairs do.  Unknown tokens
    weigh 0.  Output contract matches
    linear_quality_score: (doc, n_tokens, logit, prob, keep); docs with
    no tokens get NULL logit/prob and keep = false.
    """
    toks = df.select(
        F.col("doc_id").alias("doc"),
        F.explode_outer(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
            )
        ).alias("token"),
    )
    w = weights.select(F.col("token"), F.col("weight").cast("double"))
    joined = toks.join(F.broadcast(w), "token", "left")
    agg = joined.groupBy("doc").agg(
        F.count("token").alias("n_tokens"),
        F.sum(
            F.when(
                F.col("token").isNotNull(),
                F.coalesce(F.col("weight"), F.lit(0.0)),
            )
        ).alias("total"),
    )
    n = F.col("n_tokens")
    logit = F.when(n > 0, F.col("total") / n)
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return agg.select(
        "doc",
        n.cast("long").alias("n_tokens"),
        F.round(logit, 6).alias("logit"),
        prob.alias("prob"),
        F.coalesce(prob >= 0.5, F.lit(False)).alias("keep"),
    )


def language_id(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language heuristic on ``text`` over en/fr/es/de + CJK char check.

    Pure CASE/array expressions; deterministic tie-break by language-code
    order (en < fr < es < de checked in that order, zh wins when CJK chars
    dominate)."""
    text = F.lower(F.trim(F.col("text")))
    tokens = F.filter(F.split(text, r"\s+"), lambda t: t != "")

    def hits(lang: str):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))

    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    en, fr, es, de = hits("en"), hits("fr"), hits("es"), hits("de")
    best = F.greatest(en, fr, es, de)
    guess = (
        F.when(cjk * 4 > F.length(text), F.lit("zh"))
        .when(best == F.lit(0), F.lit("unknown"))
        .when(en == best, F.lit("en"))
        .when(fr == best, F.lit("fr"))
        .when(es == best, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return df.select(
        F.col(id_col),
        en.alias("en_hits"),
        fr.alias("fr_hits"),
        es.alias("es_hits"),
        de.alias("de_hits"),
        guess.alias("lang_guess"),
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing-style document fingerprint: hash every 16-char
    gram of the whitespace-normalized text, keep the minimum hash per
    non-overlapping window of grams — a compact signature for
    shift-tolerant duplicate detection.

    Pure JVM whole-stage-codegen expressions, zero Python: the gram hash
    is the top 60 bits of md5 (portable — the DuckDB oracle computes the
    identical value), grams/minima are array ``transform``s, and the
    final fingerprint is md5 over the comma-joined minima.
    """
    src = df.select(F.col("doc_id").alias("doc"), "text")
    norm = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+", " "
    )
    # rpad TRUNCATES longer strings (Spark and DuckDB both) — pad only
    # when the normalized text is shorter than one gram
    w = _WINNOW
    padded = F.when(F.length(norm) < w, F.rpad(norm, w, " ")).otherwise(norm)
    # position-dependent substring inside a lambda needs SQL-expression
    # form (python F.substring takes plain-int pos only)
    out = src.select(
        "doc",
        padded.alias("_padded"),
    ).select(
        "doc",
        F.expr(
            f"transform(sequence(1, length(_padded) - {w} + 1), "
            f"i -> cast(conv(substring(md5(substring(_padded, i, {w})), 1, 15), 16, 10) as bigint))"
        ).alias("_hashes"),
    ).select(
        "doc",
        F.expr(
            # floor(), not cast: DuckDB's double->int cast rounds while
            # Spark's truncates — floor() is identical in both oracles
            f"transform(sequence(0, greatest(cast(floor(size(_hashes) / {w}) as int) - 1, 0)), "
            f"j -> array_min(slice(_hashes, j * {w} + 1, {w})))"
        ).alias("minima"),
    ).select(
        "doc",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(",", F.transform("minima", lambda m: m.cast("string")))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("fingerprint"),
        "minima",
    )
    return out.select("doc", "fingerprint", "minima")


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Corpus-statistical quality signal: mean unigram log10-probability
    per document under the corpus's own unigram distribution (the classic
    cheap 'LM perplexity' stand-in for web-text filtering — gibberish and
    boilerplate-stuffed documents score far from the corpus mode).

    Two aggregations, both shuffled on the token: global counts (the
    model) and per-doc scoring via an equi-join on token.  At corpus
    scale the vocabulary side is Zipf-bounded (vastly smaller than the
    corpus) and the join is the standard inverted-index shape; every
    expression is JVM-side and ANSI-SQL expressible (oracle-checkable).
    Returns (id, n_tokens, mean_logprob rounded to 6 digits).
    """
    toks = df.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
        ).alias("token"),
    )
    total = toks.count()
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    scored = (
        toks.join(vocab, "token")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.avg(F.log10(F.col("tf") / F.lit(float(total)))), 6
            ).alias("mean_logprob"),
        )
    )
    return scored


def build_unigram_lm(corpus: DataFrame) -> DataFrame:
    """Add-k-smoothed unigram LM from a reference corpus →
    (token, logp10) table, with the out-of-vocabulary mass stored under
    the ``<unk>`` token.

    This is the CCNet perplexity-filter shape: the LM is built ONCE from
    a high-quality reference corpus (Wikipedia in the paper), persisted,
    and every crawl batch scores against it — the corpus is never
    re-aggregated per batch (the same store-once/probe-many pattern as
    ``dedup.build_minhash_index``).  logp10(t) = log10((tf + k) /
    (total + k·(V+1))) with k = ``ADD_K``; the V+1 reserves one smoothed slot for unseen
    tokens.  Values rounded to 9 dp for cross-engine determinism.
    """
    toks = corpus.select(
        F.explode(
            F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
        ).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = toks.count()
    v = vocab.count()
    k = ADD_K
    denom = float(total) + k * (v + 1)
    lm = vocab.select(
        "token", F.round(F.log10((F.col("tf") + F.lit(k)) / F.lit(denom)), 9).alias("logp10")
    )
    unk = corpus.sparkSession.range(1).select(
        F.lit("<unk>").alias("token"),
        F.round(F.log10(F.lit(k) / F.lit(denom)), 9).alias("logp10"),
    )
    return lm.unionByName(unk)


def build_bigram_lm(corpus: DataFrame) -> DataFrame:
    """Stupid-backoff bigram LM (Brants et al. 2007, "Large Language
    Models in Machine Translation") stored as ONE (context, token, logp10)
    table — the same store-once/probe-many shape as
    :func:`build_unigram_lm`, which CCNet-style filters want (VERDICT r03
    #6: a unigram LM ranks documents too coarsely; Wenzek et al. use
    n-gram KenLM).

    Rows: bigram rows carry ``context = w_{i-1}`` and
    ``logp10 = log10(c(w_{i-1} w_i) / c_ctx(w_{i-1}))`` where ``c_ctx`` is
    the count of the context in non-final positions (ratios sum to 1 per
    context); unigram rows (``context`` NULL) keep the add-k-smoothed
    log-prob of :func:`build_unigram_lm`, including the ``<unk>`` slot.
    Values rounded to 9 dp for cross-engine determinism.
    """
    arr = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    docs = corpus.select(arr.alias("ts"))
    toks = docs.select(F.explode("ts").alias("token"))
    vocab = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = toks.count()
    v = vocab.count()
    k = ADD_K
    denom = float(total) + k * (v + 1)
    uni = vocab.select(
        F.lit(None).cast("string").alias("context"),
        "token",
        F.round(F.log10((F.col("tf") + F.lit(k)) / F.lit(denom)), 9).alias("logp10"),
    )
    unk = corpus.sparkSession.range(1).select(
        F.lit(None).cast("string").alias("context"),
        F.lit("<unk>").alias("token"),
        F.round(F.log10(F.lit(k) / F.lit(denom)), 9).alias("logp10"),
    )
    bigrams = (
        docs.where(F.size("ts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(ts, 2, size(ts) - 1),"
                    " (t, i) -> named_struct('context', ts[i], 'token', t))"
                )
            ).alias("b")
        )
        .select("b.context", "b.token")
    )
    bic = bigrams.groupBy("context", "token").agg(F.count("*").alias("c"))
    ctx = bigrams.groupBy("context").agg(F.count("*").alias("cc"))
    bi = bic.join(ctx, "context").select(
        "context", "token", F.round(F.log10(F.col("c") / F.col("cc")), 9).alias("logp10")
    )
    return bi.unionByName(uni).unionByName(unk)


def ccnet_buckets(scored: DataFrame) -> DataFrame:
    """CCNet's final corpus split (Wenzek et al. 2020 §4.4): per language,
    rank documents by LM perplexity and cut into head / middle / tail
    terciles — the head is the "close to Wikipedia" slice most
    pretraining recipes keep, the tail what they drop or down-weight.

    Implemented as ``ntile(3)`` over (perplexity, doc) per language — an
    EXACT, deterministic cut (ties broken by doc id) that a SQL oracle
    replays verbatim, unlike approximate percentiles.  One window shuffle
    partitioned by language; skew is bounded per-language and the window
    never crosses partitions.  NULL perplexity (empty docs) sorts last
    into the tail, which is where an unscorable document belongs.

    Returns (doc, lang, perplexity, bucket ∈ head|middle|tail).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.col("perplexity").asc_nulls_last(), F.col("doc")
    )
    tile = F.ntile(3).over(w)
    bucket = (
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select("doc", "lang", "perplexity", bucket.alias("bucket"))


def build_trigram_lm(corpus: DataFrame) -> DataFrame:
    """Order-3 stupid-backoff LM stored as ONE (ord, context, token,
    logp10) table: ord=3 rows carry the space-joined two-token context
    with ``log10(c(w₋₂ w₋₁ w) / c_ctx(w₋₂ w₋₁))``, ord=2 rows the
    :func:`build_bigram_lm` bigram ratios, ord=1 the add-k unigrams plus
    ``<unk>``.  The ``ord`` column disambiguates context arity without
    string parsing.  Same store-once/broadcast-probe-many shape; CCNet's
    filter is a KenLM n-gram (Wenzek et al.) — order 3 with stupid
    backoff is the practical open-vocabulary equivalent of that ranking
    at corpus-filter granularity."""
    arr = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    docs = corpus.select(arr.alias("ts"))
    bi = build_bigram_lm(corpus)
    base = bi.select(
        F.when(F.col("context").isNull(), F.lit(1)).otherwise(F.lit(2)).alias("ord"),
        "context",
        "token",
        "logp10",
    )
    trigrams = (
        docs.where(F.size("ts") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(slice(ts, 3, size(ts) - 2),"
                    " (t, i) -> named_struct("
                    "'context', concat(ts[i], ' ', ts[i + 1]), 'token', t))"
                )
            ).alias("g")
        )
        .select("g.context", "g.token")
    )
    tc = trigrams.groupBy("context", "token").agg(F.count("*").alias("c"))
    ctx = trigrams.groupBy("context").agg(F.count("*").alias("cc"))
    tri = tc.join(ctx, "context").select(
        F.lit(3).alias("ord"),
        "context",
        "token",
        F.round(F.log10(F.col("c") / F.col("cc")), 9).alias("logp10"),
    )
    return tri.unionByName(base)


def perplexity_score_backoff3(df: DataFrame, lm: DataFrame) -> DataFrame:
    """Score against a stored :func:`build_trigram_lm` with stupid
    backoff (α = ``BACKOFF_ALPHA``): trigram if seen, else α·bigram, else
    α²·unigram (``<unk>`` for OOV); a document's first token scores as
    plain unigram and its second at the bigram level — the standard
    left-edge convention.
    Returns (doc, n_tokens, mean_logs10, perplexity).

    Plan shape: the token stream explodes once WITH both contexts (JVM
    ``transform``), then THREE broadcast probes of the one stored table
    filtered by ``ord`` and one doc-keyed aggregation; log10(alpha) is a
    pre-computed double literal (engine/oracle libm parity)."""
    import math

    unk_rows = (
        lm.where((F.col("ord") == 1) & (F.col("token") == "<unk>"))
        .select("logp10")
        .collect()
    )
    if not unk_rows:
        raise ValueError("lm has no <unk> row — build it with build_trigram_lm")
    # exact integer nano-units: order-independent sums (see
    # perplexity_score's determinism note)
    unk_nano = int(round(float(unk_rows[0]["logp10"]) * 1e9))
    la_nano = int(round(math.log10(BACKOFF_ALPHA) * 1e9))
    uni = lm.where((F.col("ord") == 1) & (F.col("token") != "<unk>")).select(
        "token", F.col("logp10").alias("_uni")
    )
    bi = lm.where(F.col("ord") == 2).select(
        F.col("context").alias("context1"), "token", F.col("logp10").alias("_bi")
    )
    tri = lm.where(F.col("ord") == 3).select(
        F.col("context").alias("context2"), "token", F.col("logp10").alias("_tri")
    )
    arr = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    toks = (
        df.select(F.col("doc_id").alias("doc"), arr.alias("ts"))
        .select(
            "doc",
            F.explode_outer(
                F.expr(
                    "transform(ts, (t, i) -> named_struct("
                    "'token', t,"
                    " 'context1', CASE WHEN i = 0 THEN cast(null as string)"
                    " ELSE ts[i - 1] END,"
                    " 'context2', CASE WHEN i < 2 THEN cast(null as string)"
                    " ELSE concat(ts[i - 2], ' ', ts[i - 1]) END))"
                )
            ).alias("tk"),
        )
        .select(
            "doc",
            F.col("tk.token").alias("token"),
            F.col("tk.context1").alias("context1"),
            F.col("tk.context2").alias("context2"),
        )
    )
    joined = (
        toks.join(F.broadcast(tri), ["context2", "token"], "left")
        .join(F.broadcast(bi), ["context1", "token"], "left")
        .join(F.broadcast(uni), "token", "left")
    )
    backed_uni = F.coalesce(
        F.round(F.col("_uni") * 1e9, 0).cast("long"), F.lit(unk_nano)
    )
    # score at the bigram level (used when no trigram context or miss)
    bi_level = F.when(
        F.col("_bi").isNotNull(), F.round(F.col("_bi") * 1e9, 0).cast("long")
    ).otherwise(
        F.when(F.col("context1").isNull(), backed_uni).otherwise(
            F.lit(la_nano) + backed_uni
        )
    )
    score_nano = F.when(
        F.col("_tri").isNotNull(), F.round(F.col("_tri") * 1e9, 0).cast("long")
    ).otherwise(
        F.when(F.col("context2").isNull(), bi_level).otherwise(F.lit(la_nano) + bi_level)
    )
    agg = joined.groupBy("doc").agg(
        F.count("token").alias("n_tokens"),
        F.sum(F.when(F.col("token").isNotNull(), score_nano)).alias("total_nano"),
    )
    n = F.col("n_tokens")
    mean = F.when(n > 0, F.col("total_nano") / n / F.lit(1e9))
    return agg.select(
        "doc",
        n.cast("long").alias("n_tokens"),
        F.round(mean, 6).alias("mean_logs10"),
        F.round(F.pow(F.lit(10.0), -mean), 3).alias("perplexity"),
    )


def perplexity_score_backoff(df: DataFrame, lm: DataFrame) -> DataFrame:
    """Score documents against a stored :func:`build_bigram_lm` table with
    stupid backoff: (doc, n_tokens, mean_logs10, perplexity).

    Per token: the bigram score ``log10(S(w_i | w_{i-1}))`` when the pair
    is in the model; otherwise ``log10(BACKOFF_ALPHA) + unigram`` (backoff); a
    document's FIRST token has no context and takes its plain unigram
    score (no alpha penalty).  OOV tokens take ``<unk>``.  Stupid-backoff
    scores are not normalized probabilities, so the column is
    ``mean_logs10`` and ``perplexity = 10^(−mean)`` is the standard
    abuse-of-notation filter statistic.

    Plan shape: tokens explode once WITH their predecessor (a JVM
    ``transform`` over the split array — no self-join, no window); two
    broadcast probes (bigram rows on (context, token), unigram rows on
    token); one aggregation keyed by doc.  ``log10(alpha)`` is added as a
    pre-computed double literal so engines never disagree on a libm call.
    """
    import math

    unk_rows = (
        lm.where(F.col("context").isNull() & (F.col("token") == "<unk>"))
        .select("logp10")
        .collect()
    )
    if not unk_rows:
        raise ValueError("lm has no <unk> row — build it with build_bigram_lm")
    # exact integer nano-units: order-independent sums (see
    # perplexity_score's determinism note)
    unk_nano = int(round(float(unk_rows[0]["logp10"]) * 1e9))
    la_nano = int(round(math.log10(BACKOFF_ALPHA) * 1e9))
    uni = lm.where(F.col("context").isNull() & (F.col("token") != "<unk>")).select(
        "token", F.col("logp10").alias("_uni")
    )
    bi = lm.where(F.col("context").isNotNull()).select(
        "context", "token", F.col("logp10").alias("_bi")
    )
    arr = F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
    toks = (
        df.select(F.col("doc_id").alias("doc"), arr.alias("ts"))
        .select(
            "doc",
            F.explode_outer(
                F.expr(
                    "transform(ts, (t, i) -> named_struct("
                    "'token', t,"
                    " 'context', CASE WHEN i = 0 THEN cast(null as string)"
                    " ELSE ts[i - 1] END))"
                )
            ).alias("tk"),
        )
        .select("doc", F.col("tk.token").alias("token"), F.col("tk.context").alias("context"))
    )
    joined = toks.join(F.broadcast(bi), ["context", "token"], "left").join(
        F.broadcast(uni), "token", "left"
    )
    backed = F.coalesce(F.round(F.col("_uni") * 1e9, 0).cast("long"), F.lit(unk_nano))
    score_nano = F.when(
        F.col("_bi").isNotNull(), F.round(F.col("_bi") * 1e9, 0).cast("long")
    ).otherwise(
        F.when(F.col("context").isNull(), backed).otherwise(F.lit(la_nano) + backed)
    )
    agg = joined.groupBy("doc").agg(
        F.count("token").alias("n_tokens"),
        F.sum(F.when(F.col("token").isNotNull(), score_nano)).alias("total_nano"),
    )
    n = F.col("n_tokens")
    mean = F.when(n > 0, F.col("total_nano") / n / F.lit(1e9))
    return agg.select(
        "doc",
        n.cast("long").alias("n_tokens"),
        F.round(mean, 6).alias("mean_logs10"),
        F.round(F.pow(F.lit(10.0), -mean), 3).alias("perplexity"),
    )


def perplexity_score(df: DataFrame, lm: DataFrame) -> DataFrame:
    """Score documents against a stored :func:`build_unigram_lm` table:
    (doc, n_tokens, mean_logp10, perplexity).

    Plan shape: tokens explode once and probe the BROADCAST LM (a unigram
    vocab is Zipf-bounded, far below the broadcast limit); one aggregation
    keyed by doc.  OOV tokens take the model's ``<unk>`` probability
    (fetched once driver-side — a bounded scalar, not a row loop).  Empty
    documents emit NULL scores.  perplexity = 10^(−mean_logp10).

    Determinism at ANY scale: per-token scores are summed as EXACT integer
    nano-units (the stored logp10s are 9-dp-rounded, so ``round(x·1e9)``
    recovers them losslessly) — an integer sum is order-independent,
    whereas a float sum's partial-aggregation order can flip
    ``round(mean, 6)`` at a tie boundary (observed at sf0.1 for the
    trigram scorer before this change).  The mean is one long/long
    division then /1e9 — identical in any engine.
    """
    unk_rows = lm.where(F.col("token") == "<unk>").select("logp10").collect()
    if not unk_rows:
        raise ValueError("lm has no <unk> row — build it with build_unigram_lm")
    unk_nano = int(round(float(unk_rows[0]["logp10"]) * 1e9))
    toks = df.select(
        F.col("doc_id").alias("doc"),
        F.explode_outer(
            F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != "")
        ).alias("token"),
    )
    joined = toks.join(
        F.broadcast(lm.where(F.col("token") != "<unk>")), "token", "left"
    )
    score_nano = F.coalesce(
        F.round(F.col("logp10") * 1e9, 0).cast("long"), F.lit(unk_nano)
    )
    agg = joined.groupBy("doc").agg(
        F.count("token").alias("n_tokens"),
        F.sum(F.when(F.col("token").isNotNull(), score_nano)).alias("total_nano"),
    )
    n = F.col("n_tokens")
    mean = F.when(n > 0, F.col("total_nano") / n / F.lit(1e9))
    return agg.select(
        "doc",
        n.cast("long").alias("n_tokens"),
        F.round(mean, 6).alias("mean_logp10"),
        F.round(F.pow(F.lit(10.0), -mean), 3).alias("perplexity"),
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, appendix A1.1):
    duplicate line / paragraph fractions and duplicate word-n-gram
    fractions, plus the fraction of characters inside the single most
    frequent word bigram.

    Scale design: every *fraction over one document's own arrays* is a
    higher-order array expression (zero shuffle, whole-stage codegen);
    only the top-bigram count — which genuinely needs a per-(doc, gram)
    aggregate — shuffles, and it shuffles pre-aggregated (doc, gram)
    counts, never the text.  At 100 TB the explode→partial-count shape is
    the standard inverted-index aggregation; the join back to the
    array-metric side is by id.
    """
    base = df.select(
        F.col("doc_id").alias("doc"),
        F.trim(F.coalesce(F.col("text"), F.lit(""))).alias("_t"),
        F.filter(
            F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), lambda l: F.trim(l)),
            lambda l: l != "",
        ).alias("_lines"),
        F.filter(
            F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n\n"), lambda p: F.trim(p)),
            lambda p: p != "",
        ).alias("_paras"),
        F.filter(F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"), lambda t: t != "").alias(
            "_toks"
        ),
    )

    def dup_frac(col: str) -> F.Column:
        n = F.size(F.col(col))
        return F.when(n > 0, F.round((n - F.size(F.array_distinct(F.col(col)))) / n, 6)).otherwise(
            F.lit(0.0)
        )

    def grams_expr(k: int) -> str:
        # word k-grams as strings; empty array when the doc is shorter than
        # k (guarded: Spark's sequence(1, 0) yields DESCENDING [1, 0], so
        # the short case must never reach sequence())
        return (
            f"case when size(_toks) >= {k} then "
            f"transform(sequence(1, size(_toks) - {k - 1}), "
            f"i -> concat_ws(' ', slice(_toks, i, {k}))) "
            f"else cast(array() as array<string>) end"
        )

    arrays = base.select(
        "doc",
        F.length("_t").alias("char_count"),
        F.size("_lines").alias("n_lines"),
        dup_frac("_lines").alias("dup_line_frac"),
        dup_frac("_paras").alias("dup_para_frac"),
        F.expr(grams_expr(2)).alias("_g2"),
        F.expr(grams_expr(3)).alias("_g3"),
        F.expr(grams_expr(5)).alias("_g5"),
    ).select(
        "doc",
        "char_count",
        "n_lines",
        "dup_line_frac",
        "dup_para_frac",
        dup_frac("_g2").alias("dup_bigram_frac"),
        dup_frac("_g3").alias("dup_trigram_frac"),
        dup_frac("_g5").alias("dup_5gram_frac"),
        F.col("_g2").alias("_g2"),
    )

    # fraction of characters covered by the most frequent bigram:
    # count(top gram) * length(top gram) / char_count.  Ties on the product
    # are value-identical, so no tie-break is needed.
    counts = (
        arrays.select("doc", F.explode("_g2").alias("gram"))
        .groupBy("doc", "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc")
        .agg(F.max(F.col("cnt") * F.length("gram")).alias("_top_chars"))
    )
    return (
        arrays.drop("_g2")
        .join(counts, "doc", "left")
        .select(
            "doc",
            "char_count",
            "n_lines",
            "dup_line_frac",
            "dup_para_frac",
            "dup_bigram_frac",
            "dup_trigram_frac",
            "dup_5gram_frac",
            F.when(
                F.col("char_count") > 0,
                F.round(F.coalesce(F.col("_top_chars"), F.lit(0)) / F.col("char_count"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("top_bigram_char_frac"),
        )
    )


def gopher_quality_filter(df: DataFrame) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, appendix A1.1) as one
    whole-stage-codegen projection — the classic pre-training corpus gate:

      * 50 <= word count <= 100,000
      * 3 <= mean word length <= 10
      * symbol-to-word ratio (``#`` or ``...``) <= 0.1
      * <= 90% of lines start with a bullet, <= 30% end with an ellipsis
      * >= 80% of words contain at least one alphabetic character
      * >= 2 distinct required stop words ('the of and to in is')

    Emits the component measurements plus the final boolean so downstream
    jobs can re-threshold without recomputing.  Zero shuffle, zero Python.
    """
    text = F.trim(F.coalesce(F.col("text"), F.lit("")))
    words = F.filter(F.split(text, r"\s+"), lambda t: t != "")
    n_words = F.size(words)
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)) / n_words,
    ).otherwise(F.lit(0.0))
    hashes = F.length(F.regexp_replace(text, "[^#]", ""))
    ellipses = F.size(F.split(text, r"\.\.\.")) - 1
    symbol_ratio = F.when(n_words > 0, (hashes + ellipses) / n_words).otherwise(F.lit(0.0))
    lines = F.filter(
        F.transform(F.split(F.coalesce(F.col("text"), F.lit("")), "\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.startswith("-") | l.startswith("*") | l.startswith("•"))
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.endswith("...")))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    lw = F.transform(words, lambda w: F.lower(w))
    required = ["the", "of", "and", "to", "in", "is"]
    stop_hits = sum(
        F.array_contains(lw, s).cast("int") for s in required
    )

    bullet_frac = F.when(n_lines > 0, bullet_lines / n_lines).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(n_lines > 0, ellipsis_lines / n_lines).otherwise(F.lit(0.0))
    alpha_frac = F.when(n_words > 0, alpha_words / n_words).otherwise(F.lit(0.0))

    passes = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_word_len >= 3.0)
        & (mean_word_len <= 10.0)
        & (symbol_ratio <= 0.1)
        & (bullet_frac <= 0.9)
        & (ellipsis_frac <= 0.3)
        & (alpha_frac >= 0.8)
        & (stop_hits >= 2)
    )
    return df.select(
        F.col("doc_id").alias("doc"),
        n_words.cast("long").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_frac, 6).alias("bullet_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        passes.alias("passes_gopher"),
    )


def importance_weights(source_df: DataFrame, target_df: DataFrame) -> DataFrame:
    """DSIR-style data-selection scores (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per-document log
    importance weight log P_target(x)/P_source(x) under hashed-bigram
    bag-of-ngrams language models of each corpus.

    Features are word bigrams hashed into ``n_buckets`` = 10000 buckets
    (md5 top bits mod n_buckets — cross-engine, DuckDB recomputes identical buckets); both
    bucket distributions use add-one smoothing.  Scale shape: two
    corpus-wide bucket aggregations whose output is bounded by n_buckets
    (map-side partial counts), a driver-size ratio table broadcast to the
    per-doc scoring join, one groupBy(doc) sum.  Text never shuffles.

    Returns (doc, n_feats, logweight) — higher = more target-like.
    """
    n_buckets = 10000

    def buckets(df: DataFrame) -> DataFrame:
        toks = df.select(
            F.col("doc_id").alias("doc"),
            F.filter(
                F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"), lambda t: t != ""
            ).alias("_toks"),
        )
        grams = toks.select(
            "doc",
            F.explode(
                F.expr(
                    "case when size(_toks) >= 2 then "
                    "transform(sequence(1, size(_toks) - 1), "
                    "i -> concat_ws(' ', slice(_toks, i, 2))) "
                    "else cast(array() as array<string>) end"
                )
            ).alias("gram"),
        )
        return grams.select(
            "doc",
            (
                F.conv(F.substring(F.md5(F.col("gram")), 1, 15), 16, 10).cast("long")
                % n_buckets
            ).alias("bucket"),
        )

    src = buckets(source_df)
    tgt = buckets(target_df)
    src_tot = src.count()
    tgt_tot = tgt.count()
    src_counts = src.groupBy("bucket").agg(F.count("*").alias("src_n"))
    tgt_counts = tgt.groupBy("bucket").agg(F.count("*").alias("tgt_n"))
    # add-one smoothing over the full bucket space so unseen buckets are
    # finite; the ratio table is <= n_buckets rows -> broadcast
    ratio = (
        src_counts.join(tgt_counts, "bucket", "full")
        .select(
            "bucket",
            (
                F.log10(
                    (F.coalesce(F.col("tgt_n"), F.lit(0)) + 1)
                    / F.lit(float(tgt_tot + n_buckets))
                )
                - F.log10(
                    (F.coalesce(F.col("src_n"), F.lit(0)) + 1)
                    / F.lit(float(src_tot + n_buckets))
                )
            ).alias("log_ratio"),
        )
    )
    return (
        src.join(F.broadcast(ratio), "bucket")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("log_ratio"), 6).alias("logweight"),
        )
    )


def c4_quality_filter(
    df: DataFrame, id_col: str = "doc_id", keep_text: bool = False
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2): keep only lines
    that end in terminal punctuation, have >= 5 words, and don't mention
    javascript; flag pages containing 'lorem ipsum' or '{'; a page passes
    when >= 3 sentences survive and no page-level flag fires.

    Returns the page-level signals plus md5 of the cleaned text (the kept
    lines re-joined) so the transform itself is value-checked, not just the
    boolean.  Pure JVM array/regex expressions — zero Python, zero shuffle;
    at 100 TB this is a map-only pass whose cost is the regex scan.
    """
    raw = F.coalesce(F.col("text"), F.lit(""))
    # one-arg lambda, NOT bare F.trim: pyspark builds a two-arg
    # (element, index) lambda for callables that accept two args, and
    # F.trim(col, trim) would take the index as the trim character set
    lines = F.filter(
        F.transform(F.split(raw, "\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    kept = F.filter(
        lines,
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.filter(F.split(l, r"\s+"), lambda w: w != "")) >= 5)
        & ~F.lower(l).contains("javascript"),
    )
    cleaned = F.array_join(kept, "\n")
    n_sentences = F.size(F.split(cleaned, r"[.!?]+")) - 1
    has_lorem = F.lower(raw).contains("lorem ipsum")
    has_brace = raw.contains("{")
    passes = (n_sentences >= 3) & ~has_lorem & ~has_brace
    return df.select(
        F.col(id_col).alias("doc"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept_lines"),
        n_sentences.cast("long").alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        passes.alias("passes_c4"),
        F.md5(cleaned).alias("cleaned_md5"),
        *( [cleaned.alias("cleaned")] if keep_text else [] ),
    )


def split_assign(df: DataFrame) -> DataFrame:
    """Deterministic train/validation/test split by salted id hash.

    Hash-based (not row_number) so membership is stable under corpus
    growth, repartitioning, and incremental reruns — a document keeps its
    split forever, which is what leakage audits need.  The md5-bucket trick
    is cross-engine (DuckDB oracle recomputes identical buckets).  Pure
    projection: no shuffle, no Python.
    """
    bucket, split = split_exprs()
    return df.select(
        F.col("doc_id").alias("doc"), bucket.alias("bucket"), split.alias("split")
    )


def split_exprs():
    """(bucket, split) column expressions of ``split_assign`` — usable as
    a pure projection inside a larger pipeline (no join needed to attach
    a split label to rows that already carry ``doc_id``).  Of 10,000
    buckets of the ``v1``-salted id hash, 9,800 go to train and 100 to
    validation; the rest is test."""
    n_train, n_val = 9800, 100
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("v1:"), F.col("doc_id").cast("string"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    split = (
        F.when(bucket < n_train, F.lit("train"))
        .when(bucket < n_train + n_val, F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return bucket, split


# normalize_text pattern constants.  Built so the pattern STRINGS hold
# real codepoints at runtime: Java regex and the oracle's RE2 both take
# literal chars, but RE2 lacks Java's \\uXXXX syntax, so the same
# strings are embedded verbatim in the DuckDB oracle SQL.
ZERO_WIDTH_CLASS = "[" + "".join(map(chr, (0x200B, 0x200C, 0x200D, 0x2060, 0xFEFF))) + "]"
UNICODE_SPACE_CLASS = "[" + chr(0xA0) + chr(0x2000) + "-" + chr(0x200A) + chr(0x202F) + chr(0x3000) + "]"
QUOTE_SRC = "".join(map(chr, (0x2018, 0x2019, 0x201C, 0x201D, 0x2013, 0x2014)))
QUOTE_DST = "''" + '""' + "--"
ELLIPSIS = chr(0x2026)
CONTROL_CLASS = "[\x00-\x08\x0b-\x1f\x7f-\x9f]"
SENTENCE_PATTERN = r"[^.!?]+[.!?]*"


def normalize_text(df: DataFrame) -> DataFrame:
    """OSCAR/CCNet-style Unicode cleanup: zero-width characters and BOMs
    removed, exotic spaces (NBSP, thin/figure spaces) folded to ASCII
    space, curly quotes/dashes/ellipsis folded to ASCII, C0 controls
    (except newline and tab, and including carriage returns) plus the C1
    range U+0080-U+009F (cp1252 mojibake) stripped, space runs collapsed.

    Emits the cleaned text plus before/after char counts so the amount of
    noise removed is itself a queryable signal.  Pure JVM regex/translate
    chain (patterns in the Java-regex/RE2 common subset for the DuckDB
    oracle); map-only at any scale.
    """
    raw = F.coalesce(F.col("text"), F.lit(""))
    s = F.regexp_replace(raw, ZERO_WIDTH_CLASS, "")
    s = F.regexp_replace(s, UNICODE_SPACE_CLASS, " ")
    s = F.translate(s, QUOTE_SRC, QUOTE_DST)
    s = F.regexp_replace(s, ELLIPSIS, "...")
    s = F.regexp_replace(s, CONTROL_CLASS, "")
    s = F.trim(F.regexp_replace(s, "[ \t]+", " "))
    return df.select(
        F.col("doc_id").alias("doc"),
        F.length(raw).cast("long").alias("n_chars_raw"),
        F.length(s).cast("long").alias("n_chars_clean"),
        s.alias("normalized"),
    )


def sentences(df: DataFrame) -> DataFrame:
    """Sentence segmentation to (doc, sent_idx, sentence): maximal runs of
    non-terminal characters plus their trailing [.!?]+ punctuation, trimmed,
    empties dropped.  Regex-only (no lookbehind — the common Java/RE2
    subset), so the DuckDB oracle reproduces it with lockstep unnest.
    Enables sentence-level dedup and per-sentence quality scoring;
    scan → generate, no shuffle.
    """
    raw = F.coalesce(F.col("text"), F.lit(""))
    # one-arg lambda, NOT bare F.trim: pyspark feeds two-arg callables
    # (element, index) and F.trim(col, trim) would take the index as the
    # trim character set
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(raw, F.lit(SENTENCE_PATTERN), F.lit(0)),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    return df.select(F.col("doc_id").alias("doc"), F.posexplode(sents)).select(
        "doc",
        F.col("pos").cast("long").alias("sent_idx"),
        F.col("col").alias("sentence"),
    )


def domain_prior(df: DataFrame) -> DataFrame:
    """Per-domain quality reputation joined back as a document-level prior.

    prior(d) = (sum(quality in d) + k * global_mean) / (n_d + k), k = 20 — Bayesian
    shrinkage toward the corpus mean, so a domain with 3 documents cannot
    dominate a filter the way a domain with 30k can.  Standard trick for
    host-level filtering (a la Common Crawl host reputation lists).

    Scale shape: one partial-aggregated groupBy whose output cardinality is
    the domain count (tiny vs docs), a driver-side global mean, and a
    broadcast-sized join back — document text/quality never shuffles twice.
    Exactly cross-engine: quality values are quantized to exact binary
    fractions, so sums are order-independent.
    """
    doc = F.col("doc_id").alias("doc")
    per_domain = df.groupBy("source").agg(
        F.count("*").alias("n_domain_docs"),
        F.sum("quality").alias("_q_sum"),
    ).cache()
    # the global mean folds exactly from the (tiny, cached) per-domain
    # aggregate — deriving it from df directly would be a whole extra
    # pass over the corpus; identical value because quality is quantized
    # to exact binary fractions (sums associate exactly)
    tot = per_domain.agg(
        F.sum("_q_sum").alias("s"), F.sum("n_domain_docs").alias("n")
    ).collect()[0]
    g = tot["s"] / tot["n"]
    priors = per_domain.select(
        "source",
        "n_domain_docs",
        F.round(
            (F.col("_q_sum") + F.lit(20.0) * F.lit(g))
            / (F.col("n_domain_docs") + F.lit(20)),
            6,
        ).alias("domain_prior"),
    ).localCheckpoint(eager=True)
    # priors are materialized above, so the input-side cache can go now —
    # callers get a self-contained result, not a lease on executor storage
    per_domain.unpersist()
    return df.select(doc, "source", "quality").join(
        F.broadcast(priors), "source"
    ).select(
        "doc",
        F.col("source").alias("domain"),
        F.col("n_domain_docs").cast("long").alias("n_domain_docs"),
        "domain_prior",
    )


def extract_lite(pages: DataFrame) -> DataFrame:
    """Regex fast-path metadata extraction: title, og:title, canonical
    link, meta description, html lang — no DOM, no Python.

    This is the 100 TB PRE-PASS, not a replacement for the real extractor:
    run it over the raw crawl to route/filter/sample (it costs one regex
    scan per page), then spend the DOM pipeline only on the rows that
    survive.  Patterns are first-match and attribute-order-sensitive by
    design (disclosed limitation of the fast path); the byte-exact
    extraction path remains graby_spark.extract.
    """
    html = F.coalesce(F.col("html"), F.lit(""))
    return pages.select(
        "url",
        F.regexp_extract(html, r"(?i)<title[^>]*>([^<]*)</title>", 1).alias("title"),
        F.regexp_extract(
            html, r'(?i)<meta[^>]*property="og:title"[^>]*content="([^"]*)"', 1
        ).alias("og_title"),
        F.regexp_extract(
            html, r'(?i)<link[^>]*rel="canonical"[^>]*href="([^"]*)"', 1
        ).alias("canonical"),
        F.regexp_extract(
            html, r'(?i)<meta[^>]*name="description"[^>]*content="([^"]*)"', 1
        ).alias("meta_description"),
        F.regexp_extract(html, r'(?i)<html[^>]*\blang="([^"]*)"', 1).alias("html_lang"),
    )


def tfidf_topk(df: DataFrame) -> DataFrame:
    """Top-3 keywords per document by tf·idf over the corpus itself.

    idf = log10(N / df) with document frequency from a corpus-wide
    aggregate whose output is vocabulary-sized (Zipf-bounded, far smaller
    than the corpus) — the classic two-aggregate shape: tokens shuffle
    once for the df counts and once for the per-doc tf, the tiny idf
    table broadcasts back.  Ranking uses the 6-dp-rounded score with the
    token as tie-break so the result is deterministic across engines
    (log10's last ulp may differ between libm implementations).
    """
    from pyspark.sql import Window

    # NULL-id rows are excluded up front so the corpus size (count of
    # non-null distinct ids) and the document frequencies count the same
    # population — otherwise df could exceed N and flip idf negative
    df = df.where(F.col("doc_id").isNotNull())
    toks = df.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.filter(
                F.split(F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    tf = toks.groupBy("doc", "token").agg(F.count("*").alias("tf"))
    dfreq = toks.select("doc", "token").distinct().groupBy("token").agg(
        F.count("*").alias("df")
    )
    # the corpus size joins in lazily (1-row cross join -> broadcast NLJ)
    # instead of an eager count() scan at plan-build time; and dfreq is
    # NOT force-broadcast — the vocabulary of a web corpus (typos, urls,
    # ids) outgrows the broadcast limit, so the planner must be free to
    # fall back to a shuffle join
    nd = df.select("doc_id").agg(
        F.count_distinct(F.col("doc_id")).cast("double").alias("_n")
    )
    scored = tf.join(dfreq, "token").crossJoin(nd).select(
        "doc",
        "token",
        "tf",
        F.col("df").alias("doc_freq"),
        F.round(F.col("tf") * F.log10(F.col("_n") / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 3)
        .select("doc", F.col("_rn").cast("long").alias("rank"), "token",
                F.col("tf").cast("long").alias("tf"),
                F.col("doc_freq").cast("long").alias("doc_freq"), "tfidf")
    )


def readability(df: DataFrame) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade from counting
    expressions only: words = whitespace tokens, sentences = terminal
    punctuation runs, syllables = vowel groups (the standard cheap
    heuristic).  All-integer counts divided in a fixed order and rounded
    to 4 dp keep the two engines bit-identical.  Map-only; no Python."""
    text = F.lower(F.trim(F.coalesce(F.col("text"), F.lit(""))))
    words = F.size(F.filter(F.split(text, r"\s+"), lambda t: t != ""))
    sentences = F.greatest(
        F.size(F.split(text, r"[.!?]+")) - 1, F.lit(1)
    )
    syllables = F.size(F.regexp_extract_all(text, F.lit("[aeiouy]+"), F.lit(0)))
    w = F.greatest(words, F.lit(1))
    wps = words / sentences
    spw = syllables / w
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    # floor(x*1e4 + 0.5)/1e4 instead of round(): Spark's round goes
    # through BigDecimal.valueOf (shortest decimal repr) while other
    # engines multiply-and-rint — at an exact .5 boundary of the 4th
    # decimal they disagree; the explicit floor form is the same IEEE
    # op sequence everywhere
    def r4(c):
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    return df.select(
        F.col("doc_id").alias("doc"),
        words.cast("long").alias("n_words"),
        (sentences).cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
        r4(ease).alias("flesch_ease"),
        r4(grade).alias("fk_grade"),
    )


def corpus_grep(df: DataFrame, patterns: list[str]) -> DataFrame:
    """Per-document regex hit counts for a fixed pattern list — the
    debugging workhorse behind every filter threshold ("how often does
    this actually occur?") and quick contamination spot-checks.

    One row per (doc, pattern) with n_matches > 0.  The pattern list is
    a literal array column (no join); a scan per pattern fused into one
    projection — map-only at any corpus size.  Patterns must be in the
    Java-regex/RE2 common subset for the oracle."""
    text = F.coalesce(F.col("text"), F.lit(""))
    pairs = F.array(
        *[
            F.struct(
                F.lit(p).alias("pattern"),
                F.size(F.regexp_extract_all(text, F.lit(p), F.lit(0)))
                .cast("long")
                .alias("n_matches"),
            )
            for p in patterns
        ]
    )
    return (
        df.select(F.col("doc_id").alias("doc"), F.explode(pairs).alias("hit"))
        .select("doc", "hit.pattern", "hit.n_matches")
        .where(F.col("n_matches") > 0)
    )


#: (name, character-class body) — explicit codepoint ranges, NOT \p{...}
#: script properties, because Java regex and RE2 spell those differently
#: while literal ranges are identical in both engines (oracle parity)
SCRIPT_RANGES = [
    ("latin", "A-Za-zÀ-ɏ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("arabic", "؀-ۿ"),
    ("cjk", "一-鿿぀-ヿ가-힯"),
]


def script_profile(df: DataFrame) -> DataFrame:
    """Unicode-script composition of each document — the langid
    complement that catches what n-gram language ID cannot: mixed-script
    spam, mojibake (wrong-charset decodes land in unexpected scripts),
    and wrong-language boilerplate stitched into a page.

    Per document: total chars, per-script char counts (latin, cyrillic,
    greek, arabic, cjk), the dominant script (``none`` for all-zero
    rows, e.g. digits/punctuation only), and ``script_ratio`` =
    dominant/total left unrounded (int/int IEEE division — identical
    across engines, no rounding-tie hazard).

    Pure JVM counting (strip-and-measure regexes), no shuffle, codegen —
    frontier-scale safe.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    counts = {
        name: F.length(F.regexp_replace(text, f"[^{body}]", "")).cast("long")
        for name, body in SCRIPT_RANGES
    }
    out = df.select(
        F.col("doc_id").alias("doc"),
        F.length(text).cast("long").alias("n_chars"),
        *[c.alias(f"n_{name}") for name, c in counts.items()],
    )
    pairs = [
        F.struct(F.col(f"n_{name}").alias("n"), F.lit(name).alias("s"))
        for name, _ in SCRIPT_RANGES
    ]
    # greatest() on (count, name) structs: ties break toward the
    # lexicographically LARGER name — mirrored in the oracle's order-by
    best = F.greatest(*pairs)
    return out.select(
        "*",
        F.when(best["n"] > 0, best["s"]).otherwise(F.lit("none")).alias("dominant"),
        F.when(
            best["n"] > 0, best["n"] / F.greatest(F.col("n_chars"), F.lit(1))
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("script_ratio"),
    )


def corpus_stats(df: DataFrame) -> DataFrame:
    """Corpus composition rollup per (lang, source): document, token and
    character totals plus each cell's share of corpus tokens — the input
    a source-mixing step weighs against its target distribution (and the
    first report anyone asks of a new crawl).

    Scale shape: one partial-aggregated groupBy whose output cardinality
    is langs×sources (tiny); the share is computed with an unpartitioned
    window over that AGGREGATED frame — safe precisely because the frame
    is post-aggregation small, never over the document table.  Shares
    are exact-integer-sum ratios left unrounded (cross-engine IEEE
    division; no rounding-tie hazard).
    """
    tokens = F.size(
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
            lambda t: t != "",
        )
    ).cast("long")
    agg = df.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(tokens).alias("n_tokens"),
        F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long")).alias(
            "n_chars"
        ),
    )
    total = Window.partitionBy()
    return agg.select(
        "*",
        (F.col("n_tokens") / F.sum("n_tokens").over(total))
        .cast("double")
        .alias("token_share"),
    )

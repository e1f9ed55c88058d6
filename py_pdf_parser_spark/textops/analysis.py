"""Text analysis: token counting, quality scoring, language ID,
document fingerprinting.

Every op is a pure Column-expression pipeline (JVM-side, codegen-friendly,
trivially scalable: narrow transformations only, no shuffle).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import _top_k

PUNCT_CLASS = "[.,!?;:]"

# Tiny deterministic stopword sets for the n-gram language heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "les", "et", "est", "un", "une"],
    "es": ["el", "los", "y", "es", "del", "las"],
}


def _tokens():
    return F.split(F.col("text"), " ")


def token_count(docs: DataFrame) -> DataFrame:
    """Whitespace token count per document."""
    return docs.select(
        "doc_id", F.size(_tokens()).cast("long").alias("n_tokens")
    )


# GPT-2-style pre-tokenizer classes (no lookahead, so the same pattern
# runs on Java regex (Spark) and RE2 (DuckDB) with identical matches:
# the alternation branches are disjoint at any start position).
BPE_TOKEN_PATTERN = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """BPE-ish token count: matches of the GPT-2-style pre-tokenizer
    classes (word / number / punctuation runs with optional leading
    space, whitespace runs) — the cheap proxy for 'how many tokens will
    the tokenizer emit' that corpus budgeting needs."""
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_TOKEN_PATTERN))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


ROLL_K = 8  # rolling window width (chars)


def rolling_fingerprint(docs: DataFrame, k: int = ROLL_K) -> DataFrame:
    """Rolling-hash document fingerprint: min over all k-char windows of
    the md5-based window hash (the winnowing min-sketch with w = whole
    doc).  Position-robust: unlike a whole-text digest, a doc that
    shares its content with one edit still collides on most windows, so
    shard-level near-dup grouping can bucket on it.  Higher-order exprs
    run interpreted, but per-row over short texts — narrow, no shuffle.
    Short docs (< k chars) fall back to hashing the whole text."""
    h = (
        "cast(conv(substring(md5(substring(text, i, {k})), 1, 8), 16, 10) "
        "as bigint)"
    ).format(k=k)
    whole = (
        "cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)"
    )
    # Explicit length guard: sequence(1, 0) generates a DESCENDING
    # [1, 0] in Spark, so short docs must take the whole-text branch.
    expr = (
        f"IF(length(text) >= {k}, "
        f"array_min(transform(sequence(1, length(text) - {k - 1}), "
        f"i -> {h})), {whole})"
    )
    return docs.select(
        "doc_id", F.expr(expr).alias("roll_fp")
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality signals."""
    n_chars = F.length("text").cast("long")
    n_punct = (
        F.length("text") - F.length(F.regexp_replace("text", PUNCT_CLASS, ""))
    ).cast("long")
    n_tokens = F.size(_tokens()).cast("long")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_stop = F.expr(
        f"size(filter(split(text, ' '), x -> x in ({stop_list})))"
    ).cast("long")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        (n_punct / n_chars).alias("punct_ratio"),
        (n_stop / n_tokens).alias("stopword_ratio"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language heuristic with deterministic tie-break."""
    hit_cols = {}
    for lang, words in STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        hit_cols[lang] = F.expr(
            f"size(filter(split(text, ' '), x -> x in ({lst})))"
        ).cast("long")
    h = hit_cols
    pred = (
        F.when(
            (h["en"] > 0)
            & (h["en"] >= F.greatest(h["de"], h["fr"], h["es"])),
            F.lit("en"),
        )
        .when((h["de"] > 0) & (h["de"] >= F.greatest(h["fr"], h["es"])), "de")
        .when((h["fr"] > 0) & (h["fr"] >= h["es"]), "fr")
        .when(h["es"] > 0, "es")
        .otherwise("unk")
    )
    return docs.select(
        "doc_id",
        h["en"].alias("hits_en"),
        h["de"].alias("hits_de"),
        h["fr"].alias("hits_fr"),
        h["es"].alias("hits_es"),
        pred.alias("lang_pred"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Bag-of-words document fingerprint: md5 over the sorted distinct
    token set — an order-insensitive content hash for shard-level dedup."""
    fp = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(_tokens())))
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# Corpus-prep filters: repetition signals, sampling, caps, PII scrubbing
# (the Gopher/C4-style rule family — all public heuristics).
# ---------------------------------------------------------------------------

# Longest equal-run counter over a SORTED array: the per-row (no shuffle)
# way to get "count of the most frequent element".  Null-safe <=> only
# for the initial NULL prev; split() never yields null elements.
_TOP_RUN = (
    "aggregate({arr}, "
    "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
    "(acc, x) -> named_struct("
    "'prev', x, "
    "'run', IF(acc.prev <=> x, acc.run + 1L, 1L), "
    "'best', GREATEST(acc.best, IF(acc.prev <=> x, acc.run + 1L, 1L))), "
    "acc -> acc.best)"
)


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (cf. the Gopher
    rules' duplicate-line / top-n-gram fractions, public): distinct-word
    dup fraction, most-frequent-word fraction, most-frequent-bigram
    fraction.  All per-row Column math — the most-frequent counts come
    from a longest-run scan over the SORTED token array instead of a
    (doc_id, token) shuffle, so the op stays a narrow map at any scale.
    Docs with < 2 words have no bigrams: top_bigram_frac = 0.0."""
    w = "split(text, ' ')"
    bigrams = (
        f"IF(size({w}) < 2, array(), "
        f"transform(sequence(1, size({w}) - 1), "
        f"i -> concat(element_at({w}, i), ' ', element_at({w}, i + 1))))"
    )
    n_words = F.expr(f"size({w})").cast("long")
    n_distinct = F.expr(f"size(array_distinct({w}))").cast("long")
    top_word = F.expr(_TOP_RUN.format(arr=f"array_sort({w})")).cast("long")
    top_bigram = F.expr(
        _TOP_RUN.format(arr=f"array_sort({bigrams})")
    ).cast("long")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct_words"),
        (F.lit(1.0) - n_distinct / n_words).alias("dup_word_frac"),
        (top_word / n_words).alias("top_word_frac"),
        F.when(n_words < 2, F.lit(0.0))
        .otherwise(top_bigram / (n_words - F.lit(1)))
        .alias("top_bigram_frac"),
    )


def hash_sample(docs: DataFrame, pct: int = 10, seed: str = "s0") -> DataFrame:
    """Deterministic hash sampling: keep a document iff
    md5("<doc_id>:<seed>") mod 100 < pct.  Content-stable (the same doc
    is kept in every run and on every cluster size — no RNG, no
    per-partition state) and exactly reproducible in any engine with
    md5, which is what makes corpus subsets auditable."""
    key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed))
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100
    )
    return docs.select("doc_id", bucket.alias("bucket")).filter(
        F.col("bucket") < pct
    )


def source_cap(docs: DataFrame, cap: int = 10) -> DataFrame:
    """Per-source document cap (the per-domain cap of crawl prep): keep
    the first ``cap`` docs of each source by doc_id.  One shuffle on the
    small source key; at web scale source is the hostname and the skew
    mitigation is the same salting/AQE toolbox as any hot-key window."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
    )


# RE2-safe (no lookahead/backrefs) so the identical pattern text runs on
# Java regex (Spark) and RE2 (DuckDB oracle).  \b is ASCII word boundary
# in both.  Deliberately simple, documented detectors — the operator
# surface (count + sequential redaction) is the contract, the patterns
# are a tuning surface.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def mixture_sample(
    docs: DataFrame,
    rates: DataFrame,
    default_pct: int = 0,
    seed: str = "mix0",
) -> DataFrame:
    """Training-mixture sampling: keep each document with its SOURCE's
    rate — the op that turns a crawl into a weighted training mix.

    ``rates`` is a (source, pct) table (integer percent 0-100), the
    output shape of whatever mixture solver set the weights; sources
    absent from it fall back to ``default_pct``.  Keep rule: the same
    deterministic md5 bucket as ``hash_sample`` (content-stable, no
    RNG, reproducible in any engine) compared against the source's
    rate, so a document's fate never depends on cluster size, run, or
    partitioning — and raising a source's rate strictly GROWS its kept
    set (buckets are fixed; the threshold moves), which is what makes
    mixture re-weighting incremental at 100 TB: only the bucket slice
    between old and new pct needs (re)processing.

    Scale shape: the rates table is one row per source — broadcast
    join, no corpus shuffle; everything else is a narrow projection.
    """
    key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed))
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100
    )
    from pyspark.sql.functions import broadcast

    r = rates.select(
        "source", F.col("pct").cast("long").alias("_mix_pct")
    )
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .join(broadcast(r), "source", "left")
        .withColumn(
            "pct",
            F.coalesce(F.col("_mix_pct"), F.lit(int(default_pct))),
        )
        .filter(F.col("bucket") < F.col("pct"))
        .select("doc_id", "source", "bucket", "pct")
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII detection counts + redacted text.

    Counts are raw detections on the ORIGINAL text (each detector runs
    independently, so a phone-shaped local part inside an email counts
    for both); ``clean_text`` applies the redactions sequentially
    email -> phone -> ip, so text swallowed by an earlier redaction is
    not re-redacted.  Pure narrow Column pipeline."""
    t = F.col("text")
    clean = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, PHONE_RE, "<PHONE>")
    clean = F.regexp_replace(clean, IP_RE, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(t, F.lit(IP_RE)).cast("long").alias("n_ips"),
        clean.alias("clean_text"),
    )


def blocklist_filter(
    docs: DataFrame, words: list, max_frac: float = 0.02
) -> DataFrame:
    """C4-family blocklist gate: per-document blocklisted-word count and
    keep decision (keep iff n_bad / n_tokens <= ``max_frac``).

    Returns the full audit table (doc_id, n_bad, n_tokens, bad_frac,
    kept) rather than silently dropping rows — a deployment filters on
    ``kept`` and keeps the audit next to the corpus (the no-silent-caps
    rule).  The word list is compiled into ONE alternation regex with
    ASCII word boundaries, so the whole gate is a narrow, codegen'd,
    shuffle-free Column pipeline: broadcast-by-literal is the right
    shape for the few-thousand-word lists real pipelines use (C4's
    list is ~400 entries).  A million-entry list would switch to the
    explode + broadcast-semi-join form instead (same shape as
    ``dedup.decontaminate``).  Case-insensitive via lower();
    alternation branches are literal words, so Java regex (Spark) and
    RE2 (DuckDB oracle) match identically."""
    import re as _re

    pattern = r"\b(" + "|".join(_re.escape(w.lower()) for w in words) + r")\b"
    n_bad = F.regexp_count(F.lower(F.col("text")), F.lit(pattern))
    n_tok = F.size(_tokens())
    return docs.select(
        "doc_id",
        n_bad.cast("long").alias("n_bad"),
        n_tok.cast("long").alias("n_tokens"),
        (n_bad.cast("double") / n_tok).alias("bad_frac"),
        (n_bad.cast("double") / n_tok <= F.lit(max_frac)).alias("kept"),
    )


LM_MICRO = 1_000_000  # fixed-point scale for per-token log-probs

# The fixed-point text statistics (unigram/bigram LM, tf-idf and BM25
# idf, DSIR ratios, perplexity, quantiles) share these steps, each
# mirrored by one DuckDB fragment in ``queries``: ``_micro_log2`` (the
# one float op per distinct value), ``_bits_per_token`` (the per-doc
# exact-integer sum), ``_inverse_cdf`` (the Type-1 quantile over a
# bounded value table), ``_idf`` and ``similarity._top_k`` (the
# per-partition rank tail).


def _micro_log2(num, den):
    """round(log2(num / den) * LM_MICRO) as a BIGINT, both sides cast
    to double: the one float op of a fixed-point statistic, evaluated
    once per distinct value so every downstream sum is exact integer
    arithmetic (partition-order-free, identical in any engine)."""
    return F.round(
        F.log2(num.cast("double") / den.cast("double")) * F.lit(LM_MICRO)
    ).cast("long")


def _bits_per_token(lps: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, bits_per_token) over one (doc_id, lp) row per
    scored token: minus the exact micro-bit sum per token, 4dp."""
    return lps.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(
            -F.sum("lp") / F.count("*") / F.lit(float(LM_MICRO)), 4
        ).alias("bits_per_token"),
    )


def _inverse_cdf(
    values: DataFrame, part: str, value: str, frac: str, fracs, d: int
) -> DataFrame:
    """Type-1 (inverse-CDF) quantiles -> (part, frac, total, value): for
    each ``part`` group of ``values`` and each fraction f/``d`` in
    ``fracs`` (column ``frac``), the smallest ``value`` v with
    |{rows: value <= v}| >= ceil(f * total / d), ceil in exact integer
    arithmetic.  Runs over the (part, value) count table, whose size is
    bounded by the value's cardinality, not the row count."""
    cum = (
        values.groupBy(part, value)
        .agg(F.count("*").alias("cnt"))
        .select(
            part,
            value,
            F.sum("cnt")
            .over(Window.partitionBy(part).orderBy(value))
            .alias("cum"),
            F.sum("cnt").over(Window.partitionBy(part)).alias("total"),
        )
    )
    fr = values.sparkSession.createDataFrame(
        pa.table({frac: [int(f) for f in fracs]}), f"{frac} long"
    )
    return (
        cum.crossJoin(F.broadcast(fr))
        .where(F.col("cum") >= F.expr(f"({frac} * total + {d - 1}) div {d}"))
        .groupBy(part, frac)
        .agg(F.min("total").alias("total"), F.min(value).alias(value))
    )


def _idf(dfq: DataFrame, stats: DataFrame) -> DataFrame:
    """(tok, *stats columns, idf_micro): the micro-bit idf
    round(log2((N+1)/(df+1)) * 1e6) of each (tok, df) row against the
    1-row corpus ``stats`` (n_docs, ...), broadcast."""
    return dfq.crossJoin(F.broadcast(stats)).select(
        "tok",
        *stats.columns,
        _micro_log2(F.col("n_docs") + F.lit(1), F.col("df") + F.lit(1))
        .alias("idf_micro"),
    )


def unigram_lm(docs: DataFrame) -> DataFrame:
    """Corpus-trained unigram language model: (tok, lp) where lp is the
    add-one-smoothed log2-probability in MICRO-BITS (a BIGINT,
    round(log2((c+1)/(N+V)) * 1e6)).

    Fixed-point on purpose: per-document scores are SUMS over tokens,
    and float sums are partition-order-dependent — integer micro-bits
    sum exactly and order-free, so the same corpus scores identically
    on any partitioning (and in any SQL engine).  The only float op is
    one log2 per DISTINCT token, computed once here.

    Scale shape: one tok shuffle for the counts (map-side combinable),
    a 1-row totals aggregate broadcast back over the vocab.  The vocab
    table is the broadcastable artifact (~10^6-10^8 rows at web scale;
    cap to a top-V vocab with an explicit floor row if it outgrows the
    broadcast threshold)."""
    counts = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    totals = counts.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("v_size")
    )
    return counts.crossJoin(F.broadcast(totals)).select(
        "tok",
        _micro_log2(
            F.col("c") + F.lit(1), F.col("n_total") + F.col("v_size")
        ).alias("lp"),
    )


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary head: the ``k`` most frequent whitespace
    tokens -> (rank, tok, c) — the vocabulary-building stage of a
    tokenizer-training pipeline (the count table BPE/WordPiece trainers
    start from).

    Scale shape: ONE tok shuffle for the counts (map-side combinable —
    partial counts per partition shrink the exchange to ~vocab-size),
    then ``orderBy(...).limit(k)`` which Spark plans as
    TakeOrderedAndProject: each partition keeps only its local top-k
    and the driver merges P·k rows — there is NO global sort of the
    vocabulary.  The final rank window runs over exactly k rows by
    construction (not a corpus-scale single-partition stage).
    Deterministic tie-break: count desc, token asc.
    """
    top = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("c"), F.asc("tok"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"), "tok", "c"
    )


def tfidf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document keyword extraction: top-``k`` tokens by tf-idf ->
    (doc_id, tok, tf, score_micro, rank) — the salient-terms stage a
    corpus pipeline uses for topic tagging / clustering features.

    idf follows ``unigram_lm``'s fixed-point discipline: micro-bit
    BIGINT ``round(log2((N+1)/(df+1)) * 1e6)`` with ONE float log2 per
    distinct token; ``score_micro = tf * idf_micro`` is then exact
    integer arithmetic — partition-order-free and engine-portable.
    Deterministic tie-break: score desc, token asc.

    Scale shape: tf = one (doc_id, tok) aggregation riding the explode's
    partitioning; df = one further tok aggregation over the DISTINCT
    (doc, tok) pairs tf already produced (ReusedExchange, no second
    corpus pass); the 1-row doc-count total and the vocab-sized idf
    table broadcast (same top-V cap note as ``unigram_lm`` if the vocab
    outgrows the threshold); the top-k window partitions by doc_id —
    corpus-parallel, never global.
    """
    tf = (
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    idf = _idf(
        tf.groupBy("tok").agg(F.count("*").alias("df")),
        docs.agg(F.count("*").alias("n_docs")),
    )
    scored = tf.join(F.broadcast(idf), "tok").withColumn(
        "score_micro", (F.col("tf") * F.col("idf_micro")).cast("long")
    )
    return _top_k(
        scored, k, "score_micro", part="doc_id", tie="tok", keep=("tf",)
    )


def bpe_merge_counts(docs: DataFrame, k: int = 50) -> DataFrame:
    """First BPE-trainer iteration (Sennrich et al. 2016, public):
    corpus-weighted adjacent-character-pair counts over the word
    frequency table -> top-``k`` merge candidates
    (sym_a, sym_b, pair_count, rank).

    Scale shape — the real BPE trainer's trick, kept intact: the
    CORPUS is touched exactly once (whitespace word counts, map-side
    combinable, output ~vocab-sized); pair generation, weighting and
    ranking then run over the DISTINCT-WORD table only, so at 10^12
    docs the expensive per-symbol explode covers millions of words,
    not trillions of tokens.  A pair occurring twice inside one word
    counts twice per occurrence of that word (``aaa`` -> 2x ``(a,a)``
    per instance), matching the reference algorithm.  Words shorter
    than 2 chars produce no pairs and are filtered before the explode
    (``sequence(1, len-1)`` would descend for len < 2).  The top-k
    plans as TakeOrderedAndProject (per-partition local top-k, P*k
    driver merge); the rank window covers only the k survivors.
    Deterministic tie-break: count desc, sym_a asc, sym_b asc.
    """
    wc = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
        .where(F.length("word") >= 2)
    )
    pairs = wc.select(
        "word",
        "wcount",
        F.explode(
            F.sequence(F.lit(1), F.length("word") - F.lit(1))
        ).alias("i"),
    ).select(
        F.expr("substring(word, i, 1)").alias("sym_a"),
        F.expr("substring(word, i + 1, 1)").alias("sym_b"),
        "wcount",
    )
    top = (
        pairs.groupBy("sym_a", "sym_b")
        .agg(F.sum("wcount").cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b"))
        .limit(k)
    )
    w = Window.orderBy(
        F.desc("pair_count"), F.asc("sym_a"), F.asc("sym_b")
    )
    return top.select(
        "sym_a",
        "sym_b",
        "pair_count",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def lm_perplexity(docs: DataFrame, lm: DataFrame = None) -> DataFrame:
    """CCNet-style language-model quality score (Wenzek et al. 2020,
    public): per-document bits-per-token under a unigram LM — the cheap
    stand-in for the KenLM perplexity filter every web-corpus pipeline
    runs (high bits-per-token = gibberish / boilerplate soup; low =
    repetitive spam; the middle band is kept).

    -> (doc_id, n_tokens, bits_per_token), bits_per_token rounded to
    4dp from the exact integer micro-bit sum (see ``unigram_lm``).

    ``lm`` defaults to a model trained on ``docs`` itself; pass a
    pre-trained table to score a stream against a fixed reference
    corpus.  Scale shape: the LM broadcasts, so scoring is ONE token
    explode + broadcast-join + doc_id aggregation (the explode's
    partitioning carries through — no extra exchange)."""
    model = lm if lm is not None else unigram_lm(docs)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    return _bits_per_token(toks.join(F.broadcast(model), "tok"))


def length_quantiles(
    docs: DataFrame, qs: tuple = (25, 50, 75, 95, 99)
) -> DataFrame:
    """Exact per-source token-length quantiles -> one row per
    (source, q): (source, q, n_docs, ntok_q) where ``ntok_q`` is the
    smallest token count v with |{docs: n_tokens <= v}| >= ceil(q% * n)
    — the inverse-CDF (Type-1) quantile, the corpus-report statistic
    every curation pipeline publishes (median/p95/p99 document length).

    Scale shape — exact quantiles WITHOUT a global sort and WITHOUT
    approx_percentile: token counts have bounded cardinality (at most
    the longest document's length, ~10^5 distinct values, independent
    of corpus row count), so the corpus is touched once by a map-side-
    combinable groupBy(source, n_tokens) and everything downstream
    (per-source cumulative window, quantile lookup) runs over that
    tiny value table.  ceil is exact-integer ((q*n + 99) div 100) —
    no float at any corpus size.  Compare: a sort-based exact
    quantile shuffles the corpus; approx_percentile is inexact and
    engine-specific (un-oracle-able).
    """
    lengths = docs.select(
        "source", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    return _inverse_cdf(lengths, "source", "n_tokens", "q", qs, 100).select(
        "source",
        "q",
        F.col("total").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("ntok_q"),
    )


def perplexity_buckets(
    docs: DataFrame, lm: DataFrame = None, scores: DataFrame = None
) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing (Wenzek et al.
    2020, public): per language, documents are split into perplexity
    terciles — 'head' (lowest bits-per-token, most LM-like), 'middle',
    'tail' — the standard keep/downsample/drop gate for web corpora.
    -> (doc_id, lang, bits_per_token, bucket).

    Tercile thresholds use the same inverse-CDF rule as
    ``length_quantiles``: t_k = smallest score s with
    |{docs: score <= s}| >= ceil(k*n/3), k in {1,2}; bucket = head if
    score <= t1, middle if <= t2, else tail (boundary ties share the
    lower bucket on both engines — deterministic, no rank shuffling).

    Scale shape: scores come from ``lm_perplexity`` (exact integer
    micro-bit sums — partition-order-independent, so the 4dp score is
    bit-identical on any engine).  That 4dp rounding also BOUNDS the
    distinct-score table (~2x10^5 values per language regardless of
    corpus size), so the threshold computation — groupBy(lang, score)
    + per-lang windows — is corpus-size-independent, and the tiny
    (lang, t1, t2) table broadcasts back onto the per-doc scores.
    Corpus-sized exchanges: the token aggregate inside lm_perplexity
    and one slim (doc_id, lang) projection join — no global sort.

    ``scores`` injects a pre-computed (persisted) ``lm_perplexity``
    output table.  Without it the score subtree is evaluated on BOTH
    plan branches (per-doc labels + threshold CDF) — Catalyst cannot
    common subtrees that canonicalize under different parents (the
    same reason the registry persists _emb_hashed_table /
    _shingle_rows_table); a deployment materializes the score table
    once and buckets from it.
    """
    if scores is None:
        scores = lm_perplexity(docs, lm)
    scores = scores.join(docs.select("doc_id", "lang"), "doc_id")
    return bucket_by_thresholds(scores, perplexity_thresholds(scores))


def perplexity_thresholds(scores: DataFrame) -> DataFrame:
    """Per-language tercile thresholds (lang, t1, t2) from a
    (lang, bits_per_token) score table — the trained gate artifact a
    deployment fits once on a reference corpus and then applies to
    every ingest batch (see ``quality_gate``).
    Runs entirely over the bounded distinct-score table."""
    t = F.col("bits_per_token")
    return (
        _inverse_cdf(scores, "lang", "bits_per_token", "k", (1, 2), 3)
        .groupBy("lang")
        .agg(
            F.min(F.when(F.col("k") == 1, t)).alias("t1"),
            F.min(F.when(F.col("k") == 2, t)).alias("t2"),
        )
    )


def bucket_by_thresholds(
    scores: DataFrame, thresholds: DataFrame
) -> DataFrame:
    """Label (doc_id, lang, bits_per_token) rows head/middle/tail
    against a broadcast (lang, t1, t2) thresholds table.  Boundary
    ties share the lower bucket; a lang absent from the thresholds
    table drops (inner join) — score a stream only against languages
    the gate was trained on."""
    return scores.join(F.broadcast(thresholds), "lang").select(
        "doc_id",
        "lang",
        "bits_per_token",
        F.when(F.col("bits_per_token") <= F.col("t1"), "head")
        .when(F.col("bits_per_token") <= F.col("t2"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


def quality_gate(
    docs: DataFrame, lm: DataFrame, thresholds: DataFrame
) -> DataFrame:
    """CCNet-style quality gate against frozen artifacts: bits-per-token
    under the pre-trained ``lm`` (``unigram_lm``), labelled head/middle/
    tail against the per-language ``thresholds``
    (``perplexity_thresholds``) -> (doc_id, lang, bits_per_token,
    bucket).  Neither artifact shifts with ``docs``, so a stream gates
    each micro-batch with it and equals the batch result."""
    scores = lm_perplexity(docs, lm=lm).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return bucket_by_thresholds(scores, thresholds)


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style quality-rule bundle (Rae et al. 2021, public):
    the per-rule boolean breakdown a corpus-prep pipeline wants BEFORE
    collapsing to a keep/drop bit, so rule-level drop rates are
    auditable per source/language.

    Rules (whitespace-token adaptation of the published set):
      word count within [min_words, max_words]; mean word length
      within [min_mean_word_len, max_mean_word_len]; symbol-to-word
      ratio ('#' chars + '...' runs, per word) <= max_symbol_ratio;
      fraction of words containing an ASCII letter >= min_alpha_ratio;
      at least min_stop_hits English stopword hits (the published
      "required words" rule).

    -> (doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
    n_stop, ok_words, ok_word_len, ok_symbols, ok_alpha, ok_stop,
    keep).  Ratios are 6dp-rounded doubles computed from exact integer
    counts, so the row hashes identically on any engine/partitioning.

    Scale shape: a pure narrow Column pipeline — zero shuffles, full
    codegen; at 10^12 docs this is scan-bound like every other
    single-pass quality op here."""
    n_words = F.size(_tokens()).cast("long")
    sum_word_len = F.expr(
        "aggregate(split(text, ' '), 0L, (a, x) -> a + length(x))"
    )
    n_hash = (
        F.length("text")
        - F.length(F.regexp_replace("text", "#", ""))
    ).cast("long")
    n_ellipsis = F.expr(
        "CAST(size(regexp_extract_all(text, '\\\\.\\\\.\\\\.', 0)) AS LONG)"
    )
    n_alpha = F.expr(
        "CAST(size(filter(split(text, ' '), x -> x rlike '[A-Za-z]'))"
        " AS LONG)"
    )
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    n_stop = F.expr(
        f"CAST(size(filter(split(text, ' '), x -> x in ({stop_list})))"
        " AS LONG)"
    )
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(sum_word_len / n_words, 6).alias("mean_word_len"),
        F.round((n_hash + n_ellipsis) / n_words, 6).alias("symbol_ratio"),
        F.round(n_alpha / n_words, 6).alias("alpha_ratio"),
        n_stop.alias("n_stop"),
    )
    ok_words = (F.col("n_words") >= min_words) & (
        F.col("n_words") <= max_words
    )
    ok_word_len = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    ok_symbols = F.col("symbol_ratio") <= max_symbol_ratio
    ok_alpha = F.col("alpha_ratio") >= min_alpha_ratio
    ok_stop = F.col("n_stop") >= min_stop_hits
    return base.select(
        "*",
        ok_words.alias("ok_words"),
        ok_word_len.alias("ok_word_len"),
        ok_symbols.alias("ok_symbols"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_words & ok_word_len & ok_symbols & ok_alpha & ok_stop).alias(
            "keep"
        ),
    )


DSIR_BUCKETS = 1024  # hashed feature space (Xie et al. 2023 use 10^4)


def dsir_weights(
    docs: DataFrame,
    target: DataFrame | None = None,
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every
    raw document by how target-like it is under hashed-unigram bag
    models — weight = sum over tokens of
    log2(p_target(feature) / p_raw(feature)), add-one smoothed over a
    shared ``n_buckets``-bucket feature space.

    ``target`` is the in-domain sample (defaults to the ``lang='en'``
    slice of ``docs`` so the operator is self-contained); any
    (doc_id, text, ...) frame works.  -> (doc_id, n_tokens,
    dsir_weight) with dsir_weight the exact integer micro-bit sum —
    the same fixed-point trick as ``unigram_lm``: the only float op is
    one log2 per feature bucket (<= n_buckets rows), so the per-doc
    sums are partition-order-free and engine-exact.  Resample by
    sampling proportional to exp(weight) downstream (hash_sample on a
    weight-derived acceptance is the deterministic variant).

    Scale shape: each model trains in one map-side-combinable token
    shuffle whose post-combine volume is <= n_buckets rows per map
    task; the two count tables outer-join at n_buckets rows (add-one
    smoothing covers buckets absent from either side); scoring is
    token explode + broadcast model join + doc_id aggregate.  No
    corpus self-join, no id-set broadcast (deliberately NOT an
    is-target flag join: that would broadcast the target's doc_id
    set, which for a corpus-slice target is corpus-sized), no driver
    state."""
    if target is None:
        target = docs.where(F.col("lang") == "en")
    return dsir_score(docs, dsir_model(docs, target, n_buckets), n_buckets)


def _dsir_feature(n_buckets: int):
    return (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )


def dsir_model(
    docs: DataFrame, target: DataFrame, n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """Train the DSIR (f, lr) log-likelihood-ratio table: lr is the
    integer micro-bit log2(p_target(f) / p_raw(f)) under add-one
    smoothing over the shared ``n_buckets`` feature space.  This is
    the broadcastable trained ARTIFACT — a deployment trains it once
    on a reference corpus + in-domain sample and scores every
    batch/stream against it (``dsir_score``)."""
    feat = _dsir_feature(n_buckets)

    def feature_counts(frame, cname):
        return (
            frame.select(
                F.explode(F.split(F.col("text"), " ")).alias("tok")
            )
            .select(feat.alias("f"))
            .groupBy("f")
            .agg(F.count("*").alias(cname))
        )

    # Materialize EVERY bucket (the feature space is finite), so a
    # fixed model can score documents whose tokens hash to buckets the
    # training corpus never produced — those get the pure-smoothing
    # ratio instead of silently dropping from the score.
    all_f = docs.sparkSession.range(n_buckets).select(
        F.col("id").alias("f")
    )
    counts = (
        all_f.join(feature_counts(docs, "c_raw"), "f", "left")
        .join(feature_counts(target, "c_tgt"), "f", "left")
        .select(
            "f",
            F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
            F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"),
        )
    )
    totals = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )

    def lp(side):
        return _micro_log2(
            F.col(f"c_{side}") + F.lit(1),
            F.col(f"n_{side}") + F.lit(n_buckets),
        )

    return counts.crossJoin(F.broadcast(totals)).select(
        "f", (lp("tgt") - lp("raw")).alias("lr")
    )


def dsir_score(
    docs: DataFrame, model: DataFrame, n_buckets: int = DSIR_BUCKETS
) -> DataFrame:
    """Score documents against a trained DSIR model (``dsir_model``
    output): token explode + broadcast model join + one doc_id
    aggregate.  The model covers the entire finite feature space
    (``dsir_model`` emits all n_buckets rows), so every token scores —
    including ones the training corpus never saw, which get the
    pure-smoothing ratio."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).select("doc_id", _dsir_feature(n_buckets).alias("f"))
    return (
        toks.join(F.broadcast(model), "f")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lr").cast("long").alias("dsir_weight"),
        )
    )


def bigram_lm(docs: DataFrame) -> DataFrame:
    """Corpus-trained bigram language model: (prev, tok, lp) where lp
    is the add-one-smoothed conditional log2-probability in micro-bits
    (BIGINT, round(log2((c2+1)/(c1[prev]+V)) * 1e6)) — the next model
    up from ``unigram_lm`` on the CCNet/KenLM quality-filtering ladder
    (Wenzek et al. 2020; KenLM is public).  Same fixed-point discipline
    as ``unigram_lm``: ONE float log2 per distinct bigram, everything
    downstream sums exact integers, partition-order-free.

    Scale shape: the pair explode is narrow (``slice`` + ``transform``
    over the token array — no window, no per-doc shuffle just to find
    the previous token); bigram counts are one (prev, tok) shuffle,
    map-side combinable.  The context counts c1 and the 1-row (N, V)
    totals are vocab-sized and broadcast onto the bigram table.  The
    MODEL itself is bigram-vocab-sized (~10^9-10^10 rows at web scale)
    and does NOT broadcast — consumers join it by shuffle on the
    (prev, tok) key (see ``bigram_perplexity``)."""
    toks = docs.select(F.split(F.col("text"), " ").alias("toks"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 2, size(toks) - 1),"
                " (t, i) -> struct(toks[i] AS prev, t AS tok))"
            )
        ).alias("p")
    ).select("p.prev", "p.tok")
    c2 = pairs.groupBy("prev", "tok").agg(F.count("*").alias("c2"))
    c1 = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    v = c1.agg(F.count("*").alias("v_size"))
    return (
        c2.join(
            F.broadcast(c1.select(F.col("tok").alias("prev"), "c")), "prev"
        )
        .crossJoin(F.broadcast(v))
        .select(
            "prev",
            "tok",
            _micro_log2(
                F.col("c2") + F.lit(1), F.col("c") + F.col("v_size")
            ).alias("lp"),
        )
    )


def bigram_perplexity(docs: DataFrame) -> DataFrame:
    """CCNet-style quality score under a corpus-trained bigram LM:
    per-document bits-per-token, position 1 scored by the unigram
    model (no context yet), positions 2..n by the add-one bigram
    conditionals -> (doc_id, n_tokens, bits_per_token) with the exact
    integer micro-bit sum of ``unigram_lm``/``bigram_lm``.

    Scale shape: position rows come from ONE narrow array transform +
    explode (prev carried inline — no window).  First-token rows join
    the broadcast unigram table; the rest join the bigram model by
    shuffle on (prev, tok) — at web scale that model outgrows any
    broadcast threshold, and the pair explode's partitioning feeds the
    same (prev, tok) exchange the model build used, so AQE reuses the
    shape.  One final doc_id aggregation."""
    pos_tbl = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(split(text, ' '), (t, i) -> struct("
                "i AS pos, t AS tok,"
                " CASE WHEN i > 0 THEN split(text, ' ')[i - 1] END AS prev))"
            )
        ).alias("p"),
    ).select("doc_id", "p.pos", "p.tok", "p.prev")
    uni = unigram_lm(docs)
    big = bigram_lm(docs)
    first = (
        pos_tbl.where(F.col("pos") == 0)
        .join(F.broadcast(uni), "tok")
        .select("doc_id", "lp")
    )
    rest = (
        pos_tbl.where(F.col("pos") > 0)
        .join(big, ["prev", "tok"])
        .select("doc_id", "lp")
    )
    return _bits_per_token(first.unionByName(rest))


def dataset_split(
    docs: DataFrame, pcts: tuple = (90, 5, 5), seed: str = "s0"
) -> DataFrame:
    """Deterministic train/val/test assignment: split by
    md5("<doc_id>:<seed>") mod 100 against cumulative percentage
    fences -> (doc_id, source, bucket, split).  Content-stable like
    ``hash_sample`` (same doc lands in the same split on every run,
    cluster size, and engine — no RNG), which is what makes eval sets
    reproducible and decontamination auditable.  Narrow, shuffle-free,
    codegen'd; stratification across sources is the statistical
    property of the uniform hash (audited by ``split_stats``)."""
    assert sum(pcts) == 100 and len(pcts) == 3
    key = F.concat_ws(":", F.col("doc_id").cast("string"), F.lit(seed))
    bucket = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % 100
    )
    t_hi, v_hi = pcts[0], pcts[0] + pcts[1]
    return docs.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        F.when(bucket < t_hi, F.lit("train"))
        .when(bucket < v_hi, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def split_stats(
    docs: DataFrame, pcts: tuple = (90, 5, 5), seed: str = "s0"
) -> DataFrame:
    """Stratification audit for ``dataset_split``: per (source, split)
    document and token counts -> (source, split, n_docs, n_tokens).
    One map-side-combinable groupBy over the narrow assignment — the
    table a pipeline publishes next to the split manifest so skewed
    strata are caught before training."""
    assigned = dataset_split(docs, pcts=pcts, seed=seed).join(
        docs.select(
            "doc_id", F.size(_tokens()).cast("long").alias("n_tokens")
        ),
        "doc_id",
    )
    return assigned.groupBy("source", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


def corpus_manifest(docs: DataFrame) -> DataFrame:
    """Per-source corpus card: (source, n_docs, n_tokens, n_dup_docs,
    dup_frac) where n_dup_docs counts documents whose EXACT text
    (md5) occurs in >= 2 documents corpus-wide — the summary table a
    curation run publishes (and diffs round-over-round) before
    training ever starts.

    Scale shape: one narrow projection computes (source, n_tokens,
    text-md5) per doc; the duplicate-key set is the output of a
    HAVING-count>=2 aggregate over the md5 keys (bounded by dup
    families, small in a mostly-unique corpus) and joins back as a
    broadcast semi-join flag, same shape as ``dedup.exact_dups``; the
    final groupBy(source) is map-side combinable over a handful of
    source values."""
    base = docs.select(
        "doc_id",
        "source",
        F.size(_tokens()).cast("long").alias("n_tokens"),
        F.md5(F.col("text")).alias("h"),
    )
    dup_keys = (
        base.groupBy("h")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .select("h")
    )
    flagged = base.join(
        F.broadcast(dup_keys.withColumn("is_dup", F.lit(1))), "h", "left"
    )
    return flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long").alias(
            "n_dup_docs"
        ),
        F.round(
            F.coalesce(F.sum("is_dup"), F.lit(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("dup_frac"),
    )


BM25_K1 = 1.2
BM25_B = 0.75
DEFAULT_BM25_QUERIES = (
    (0, ("spark", "window", "merge")),
    (1, ("hash", "join", "scan")),
    (2, ("customer", "order", "line")),
)


def _query_terms(docs: DataFrame, queries) -> DataFrame:
    """(q_id, tok): one row per term of each (q_id, terms) query."""
    return docs.sparkSession.createDataFrame(
        pa.table({
            "q_id": [int(q) for q, ts in queries for _ in ts],
            "tok": [t for _, ts in queries for t in ts],
        }),
        "q_id long, tok string",
    )


def bm25_topk(
    docs: DataFrame,
    queries=DEFAULT_BM25_QUERIES,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Okapi BM25 retrieval over the corpus: for each (q_id, terms)
    query return the top-``k`` documents -> (q_id, doc_id,
    score_micro, rank).  The retrieval stage of targeted curation —
    pull the corpus documents most similar to an eval/seed set (the
    other direction from ``decontaminate``: keep lookalikes instead
    of dropping overlaps).

    The corpus scored against a model trained on itself:
    ``bm25_score(docs, bm25_model(docs, queries), k1, b)`` (formula and
    fixed-point discipline there), then each query's top ``k`` by
    score_micro desc, doc_id asc.  The top-k window partitions by q_id
    over candidates bounded by posting-list size.
    """
    scores = bm25_score(docs, bm25_model(docs, queries), k1, b)
    return _top_k(scores, k, "score_micro", tie="doc_id")


def bm25_model(
    docs: DataFrame, queries=DEFAULT_BM25_QUERIES
) -> DataFrame:
    """Train the frozen BM25 retrieval artifact on a reference corpus:
    (q_id, tok, idf_micro, n_docs, total_tokens) — one row per query
    term, the whole table a few KB regardless of corpus size, so a
    deployment broadcasts it and scores arriving documents without
    ever touching the training corpus again (``bm25_score``, also as
    a ``streaming.stream`` transform).

    idf uses ``tfidf_topk``'s fixed-point discipline (``_idf``): one
    float log2 per distinct query term.  Scale shape: tokens explode
    THROUGH a pushed ``tok IN (terms)`` literal filter (query
    vocabularies are tiny), so the df shuffle carries query-term
    postings, not the corpus; the corpus stats are one 1-row aggregate
    broadcast onto the term-sized df table."""
    all_terms = sorted({t for _, ts in queries for t in ts})
    qterms = _query_terms(docs, queries)
    stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(_tokens())).cast("long").alias("total_tokens"),
    )
    dfq = (
        docs.select("doc_id", F.explode(_tokens()).alias("tok"))
        .where(F.col("tok").isin(all_terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("df"))
    )
    return F.broadcast(qterms).join(_idf(dfq, stats), "tok").select(
        "q_id", "tok", "idf_micro", "n_docs", "total_tokens"
    )


def bm25_score(
    docs: DataFrame,
    model: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Score documents against a FIXED ``bm25_model`` artifact ->
    (doc_id, q_id, score_micro), one row per (document, query) with at
    least one matching term.

    Scoring (Robertson-Sparck Jones, public): per matched term,
    ``idf * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))``, each term
    contribution rounded to an integer BEFORE the per-(doc, query) sum,
    so the aggregate is exact integer arithmetic: partition-order-free
    and engine-portable.  df/idf/avgdl are frozen in the model
    (the deployment contract: arriving documents must not shift the
    ranking function), so this is explode -> broadcast join -> exact
    integer per-(doc, query) sum — stateless, corpus-parallel, and run
    per micro-batch as a ``streaming.stream`` transform."""
    postings = (
        docs.select(
            "doc_id",
            F.size(_tokens()).cast("long").alias("dl"),
            F.explode(_tokens()).alias("tok"),
        )
        .join(F.broadcast(model), "tok")
        .groupBy("doc_id", "q_id", "tok")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.max("dl").alias("dl"),
            F.max("idf_micro").alias("idf_micro"),
            F.max("n_docs").alias("n_docs"),
            F.max("total_tokens").alias("total_tokens"),
        )
    )
    avgdl = F.col("total_tokens").cast("double") / F.col(
        "n_docs"
    ).cast("double")
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / avgdl)
    )
    return (
        postings.select(
            "doc_id",
            "q_id",
            F.round(
                F.col("idf_micro") * (F.col("tf") * F.lit(k1 + 1.0)) / denom
            )
            .cast("long")
            .alias("c_micro"),
        )
        .groupBy("doc_id", "q_id")
        .agg(F.sum("c_micro").cast("long").alias("score_micro"))
    )

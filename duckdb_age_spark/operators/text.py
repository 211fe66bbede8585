"""Text-analysis operators over a ``documents``-shaped table.

All pure built-in column expressions — no Python UDFs anywhere on this path,
so every operator stays inside whole-stage codegen and scales linearly with
executors.  Each operator has an exact DuckDB-SQL twin in
``__spark_entry__.oracle_sql`` for the correctness gate.

Scale notes (100 TB): these are embarrassingly parallel narrow transforms —
no shuffle at all until the final aggregate, which does a map-side partial
aggregation first.  Regex work happens once per row in the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .iterate import spread_small_scan, truncate_lineage

# A small fixed stopword list per language — deterministic, mirrored verbatim
# in the oracle SQL.  (A real pipeline would broadcast a large dict; the
# operator shape is identical.)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "et", "de", "un"],
    "es": ["el", "la", "y", "de", "un"],
}

# BPE-ish token pattern: runs of word chars, or single non-space punctuation.
TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def token_count(col_name: str = "text") -> Column:
    """BPE-ish token count (JVM-side regexp_extract_all)."""
    return F.size(F.regexp_extract_all(F.col(col_name), F.lit(TOKEN_PATTERN), F.lit(0)))


def word_count(col_name: str = "text") -> Column:
    """Whitespace token count."""
    return F.size(F.split(F.trim(F.col(col_name)), r"\s+"))


def stopword_hits(col_name: str, words: list[str]) -> Column:
    """Number of stopword occurrences (word-boundary matched)."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.col(col_name), F.lit(pattern), F.lit(0)))


def punct_count(col_name: str = "text") -> Column:
    return F.size(F.regexp_extract_all(F.col(col_name), F.lit(r"[^A-Za-z0-9_\s]"), F.lit(0)))


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-document token/char/punct/stopword statistics + quality score.

    Quality score (deterministic arithmetic, oracle-mirrored):
        0.4 * min(1, words/100) + 0.3 * (1 - punct_ratio) + 0.3 * stop_ratio
    — long-enough, low-punctuation, natural-language-looking docs score high.

    The 4-dp rounding happens entirely in INTEGER arithmetic: the score is
    an exact rational NUM/DEN, and ``score4 = (2·NUM + DEN) DIV (2·DEN)``
    is its half-up 4-dp value computed with integer division — float
    round() is never applied.  Summing separately-rounded double terms (the
    original form) lands exact-boundary values like 0.84025 on opposite
    sides of round(.,4) in different engines (observed at sf0.1, doc 1828),
    and even a single correctly-rounded IEEE division still produces exact
    halves like 0.78875 on which Spark's BigDecimal HALF_UP and DuckDB's
    C-library round() disagree.  Integer range: 2·NUM ≤ 2·10⁴·chars·words,
    int64-safe to ~10^7 chars × 10^7 words per doc.
    """
    en_stops = STOPWORDS["en"]
    d = docs.select(
        "doc_id",
        "lang",
        "source",
        F.octet_length("text").alias("byte_len"),
        F.length("text").alias("char_len"),
        word_count().alias("n_words"),
        token_count().alias("n_tokens"),
        punct_count().alias("n_punct"),
        stopword_hits("text", en_stops).alias("n_stopwords"),
    )
    m = F.least(F.col("n_words"), F.lit(100)).cast("long")
    c_ = F.greatest(F.col("char_len"), F.lit(1)).cast("long")
    w_ = F.greatest(F.col("n_words"), F.lit(1)).cast("long")
    # score·10^4 = (40·m·C·W + 3000·W·(C-p) + 3000·C·min(W,5s)) / (C·W)
    num = (
        F.lit(40) * m * c_ * w_
        + F.lit(3000) * w_ * (c_ - F.col("n_punct").cast("long"))
        + F.lit(3000) * c_ * F.least(w_, F.lit(5) * F.col("n_stopwords").cast("long"))
    )
    den = c_ * w_
    return (
        d.withColumn("_qnum", num)
        .withColumn("_qden", den)
        .withColumn("quality_score", F.expr("(2 * _qnum + _qden) DIV (2 * _qden)") / F.lit(10000.0))
        .drop("_qnum", "_qden")
    )


def lang_stats(docs: DataFrame) -> DataFrame:
    """Corpus rollup per language: doc counts + length/token aggregates.
    Map-side partial agg → single small shuffle on lang."""
    return (
        doc_stats(docs)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.round(F.avg("char_len"), 2).alias("avg_chars"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("lang")
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Language-ID heuristic: argmax of per-language stopword hit counts.

    Deterministic tie-break: highest count wins, then alphabetically-first
    language.  Returns (doc_id, lang, predicted_lang, matched).  The
    synthetic corpus is English word-salad under all labels, so ``matched``
    measures label agreement, not accuracy — the operator shape is the
    deliverable.
    """
    scored = docs.select(
        "doc_id",
        "lang",
        *[stopword_hits("text", ws).alias(f"hits_{lg}") for lg, ws in STOPWORDS.items()],
    )
    pairs = F.array(
        *[F.struct(F.col(f"hits_{lg}").alias("hits"), F.lit(lg).alias("lg")) for lg in sorted(STOPWORDS)]
    )
    max_hits = F.array_max(F.transform(pairs, lambda p: p["hits"]))
    predicted = F.array_min(F.transform(F.filter(pairs, lambda p: p["hits"] == max_hits), lambda p: p["lg"]))
    return (
        scored.withColumn("predicted_lang", predicted)
        .withColumn("matched", F.col("predicted_lang") == F.col("lang"))
        .select("doc_id", "lang", "predicted_lang", "matched")
    )


def fingerprints(docs: DataFrame, shingle_k: int = 8) -> DataFrame:
    """Document fingerprinting: full-text digest + min-shingle digest.

    * ``md5_hex`` — exact-content fingerprint (md5 of UTF-8 bytes; identical
      value in DuckDB, which the oracle exploits).
    * ``min_shingle_hash`` — min of md5 over all k-char shingles: a 1-hash
      MinHash, the building block the dedup module generalizes.

    Shingling uses sequence+transform (JVM higher-order functions) — the
    shingle array never round-trips through Python.
    """
    shingle_hashes = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - F.lit(shingle_k - 1), F.lit(1))),
        lambda i: F.md5(F.col("text").substr(i, F.lit(shingle_k)).cast("binary")),
    )
    return docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("md5_hex"),
        F.array_min(shingle_hashes).alias("min_shingle_hash"),
        F.octet_length("text").alias("byte_len"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval over ``docs.text`` for a bag of query terms —
    the relevance-scoring half of text analysis (quality scoring's sibling).

    Scoring is the standard Robertson/Lucene form with the +1 idf smoothing:
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``;
    ``score  = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))``.

    Scale shape: the query term list is tiny and fixed, so per-term tf
    columns are computed with JVM higher-order functions (no explode — the
    token array never shuffles), and the corpus statistics (N, avgdl, per-
    term df) reduce to ONE broadcast row joined back with ``crossJoin``;
    the only wide operation is the final top-k, which prunes per-partition
    via row_number before the single-partition tail.  Zero Python UDFs.
    """
    from pyspark.sql import Window

    terms = [t.lower() for t in query_terms]
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def _tf(term: str) -> Column:
        # NB: the lambda must stay single-parameter — Spark treats a 2-arg
        # lambda (e.g. a `t=term` default) as the (element, index) form.
        return F.size(F.filter(words, lambda x: x == F.lit(term)))

    # spread the tokenize pass (r16, guide §2.6): the per-term HOF tf
    # columns are the query's dominant CPU and the docs scan is one
    # split at bench SFs — and d is consumed twice (stats + scored)
    d = spread_small_scan(docs).select(
        "doc_id",
        F.size(words).alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))
    idf = lambda i: F.log(  # noqa: E731
        F.lit(1.0)
        + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (F.col(f"df_{i}") + F.lit(0.5))
    )
    part = lambda i: (  # noqa: E731
        idf(i)
        * F.col(f"tf_{i}")
        * F.lit(k1 + 1.0)
        / (F.col(f"tf_{i}") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")))
    )
    score = sum((part(i) for i in range(len(terms))), F.lit(0.0))
    from .topk import global_top_k

    # orderBy+limit (TakeOrderedAndProject) instead of a partition-less
    # rank window — the latter sorts every scored doc in ONE window task
    # (WindowGroupLimit never fires unpartitioned, operators/topk.py)
    ranked = global_top_k(
        scored.withColumn("bm25", F.round(score, 3)).where(F.col("bm25") > 0),
        [F.col("bm25").desc(), F.col("doc_id").asc()],
        k,
    )
    return ranked.select("doc_id", "bm25", F.col("rk").cast("bigint").alias("rk"))


def tfidf_keywords(docs: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-k keywords by tf·idf — the tagging/labeling side of
    text analysis (BM25 above is the query side; this scores every token of
    every doc against the corpus, no query needed).

    Shape: one explode into a map-side-combined (doc, token) count (the
    same single token-level shuffle vocab_topk pays); document frequency
    comes from THAT table (its rows are already distinct per doc — no
    second pass over the text); N and idf join back broadcast-or-AQE; the
    per-doc top-k compiles to WindowGroupLimit so executors pre-prune to k
    rows per doc before the shuffle.  idf = ln((N+1)/(df+1)) is a libm
    transcendental, so the score is rounded to 4 dp BEFORE ranking (the
    module's established ulp guard) with token tie-break.
    Returns (doc_id, tok, tf, df, tfidf, rk).
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_tbl, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.col("tf").cast("bigint"),
            F.col("df").cast("bigint"),
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("doc_id", "tok", "tf", "df", "tfidf", F.col("rk").cast("bigint").alias("rk"))
    )


# ---------------------------------------------------------------------------
# PII scrubbing (redaction pass of a training-data pipeline)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (DuckDB) parse identically:
# no lookaround, no backrefs — both engines must count and replace the same
# spans for the oracle to hash-match.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails, phone numbers, and IPv4 addresses from ``text``.

    The standard PII pass before training: count each category, then
    replace in a fixed order (email -> phone -> ip, so an address inside an
    email never double-counts as an IP after the email is gone).  All three
    passes are JVM-side regexp_replace/regexp_count inside one narrow
    projection — zero shuffles, scales with executors.

    Returns (doc_id, n_emails, n_phones, n_ips, scrubbed_md5): counts are
    exact integers and the scrubbed text is compared by md5 so the oracle
    pins every redacted byte without hauling full texts through the compare.
    """
    t0 = F.col("text")
    t1 = F.regexp_replace(t0, PII_EMAIL, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_PHONE, "<PHONE>")
    t3 = F.regexp_replace(t2, PII_IPV4, "<IP>")
    return docs.select(
        "doc_id",
        F.regexp_count(t0, F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(t1, F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count(t2, F.lit(PII_IPV4)).cast("bigint").alias("n_ips"),
        F.md5(t3.cast("binary")).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# repetition statistics (Gopher-style quality rule)
# ---------------------------------------------------------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Per-document token-repetition signals: total/distinct token counts and
    the highest unigram and bigram frequencies — the exact integers behind
    Gopher-style "top n-gram fraction" quality filters (templated/boilerplate
    docs have a high max_tok_freq / n_tokens ratio; the caller applies its
    own threshold arithmetic).

    Scale shape: distinct count is shuffle-free (array_distinct inside the
    row); the max frequencies explode to (doc_id, gram) and aggregate with
    map-side combine keyed by doc — the same bounded-by-doc-length state as
    any per-doc aggregate, never a corpus-wide key.
    """
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = docs.select("doc_id", words.alias("ws")).select(
        "doc_id",
        "ws",
        F.size("ws").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("ws")).cast("bigint").alias("n_distinct"),
    )
    uni = (
        base.select("doc_id", F.explode("ws").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("max_tok_freq"))
    )
    bigrams = F.zip_with(
        F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
        F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bi = (
        base.select("doc_id", F.explode(bigrams).alias("pair"))
        .groupBy("doc_id", "pair")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("max_bigram_freq"))
    )
    return (
        base.select("doc_id", "n_tokens", "n_distinct")
        .join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.coalesce("max_tok_freq", F.lit(0)).alias("max_tok_freq"),
            F.coalesce("max_bigram_freq", F.lit(0)).alias("max_bigram_freq"),
        )
    )


def gopher_quality_screen(docs: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality screen (Rae et al. 2021 §A1.1
    heuristics, exact-arithmetic subset): per-rule violation counts plus
    the pass-all census, one row per rule — the filter-audit report a
    training-data pipeline emits before dropping documents.

    Rules (every comparison is EXACT integer arithmetic — ratios compare
    by cross-multiplication, so no float ever forms and both engines
    agree bit-for-bit):

    * ``word_count``      — 50 <= words <= 100_000
    * ``mean_word_len``   — 3 <= (Σ word length)/words <= 10, i.e.
      3·words <= Σlen <= 10·words
    * ``symbol_ratio``    — (# + ellipsis occurrences) / words <= 0.1,
      i.e. 10·symbols <= words
    * ``stopword_floor``  — at least 2 hits from the English stopword set

    One narrow map + one map-side-combined global aggregate; no shuffle of
    document text.  Returns (rule, n_fail, n_docs, n_pass_all) ordered by
    rule.
    """
    words = F.split(F.trim("text"), r"\s+")
    nw = F.size(words)
    sumlen = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    nsym = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"(#|\.\.\.)"), F.lit(0)))
    nstop = stopword_hits("text", ["the", "and", "is", "of", "to", "in", "that", "with"])
    flags = docs.select(
        ((nw < 50) | (nw > 100_000)).cast("long").alias("f_word_count"),
        ((F.lit(3) * nw > sumlen) | (sumlen > F.lit(10) * nw)).cast("long").alias("f_mean_word_len"),
        (F.lit(10) * nsym > nw).cast("long").alias("f_symbol_ratio"),
        (nstop < 2).cast("long").alias("f_stopword_floor"),
    )
    agg = flags.agg(
        F.sum("f_word_count").alias("word_count"),
        F.sum("f_mean_word_len").alias("mean_word_len"),
        F.sum("f_symbol_ratio").alias("symbol_ratio"),
        F.sum("f_stopword_floor").alias("stopword_floor"),
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(
                (F.col("f_word_count") + F.col("f_mean_word_len")
                 + F.col("f_symbol_ratio") + F.col("f_stopword_floor")) == 0,
                1,
            ).otherwise(0)
        ).alias("n_pass_all"),
    )
    rules = F.array(
        *[
            F.struct(F.lit(r).alias("rule"), F.col(r).alias("n_fail"))
            for r in ["word_count", "mean_word_len", "symbol_ratio", "stopword_floor"]
        ]
    )
    return (
        agg.select(F.explode(rules).alias("r"), "n_docs", "n_pass_all")
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.n_fail").cast("bigint").alias("n_fail"),
            F.col("n_docs").cast("bigint"),
            F.col("n_pass_all").cast("bigint"),
        )
        .orderBy("rule")
    )


def hashing_vectorizer_digest(docs: DataFrame, n_buckets: int = 64) -> DataFrame:
    """HashingTF analog: every whitespace token hashes to one of
    ``n_buckets`` via the first 60 bits of md5 mod n — the fixed-width
    bag-of-words featurization (no vocabulary pass, collision-accepting)
    used for cheap linear classifiers over text.  Emitted as (doc_id,
    n_tokens, nnz, vec_digest) with the digest over the dense
    bucket->count vector, all-integer — both engines agree exactly.

    Shape: explode -> one shuffle keyed by (doc_id, bucket) with map-side
    combine -> per-doc reassembly keyed by doc_id.  The dense vector stays
    n_buckets long regardless of doc size.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("t")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("t").cast("binary")), 1, 15), 16, 10)
        .cast("bigint") % n_buckets
    )
    counts = tok.select("doc_id", bucket.alias("b")).groupBy("doc_id", "b").agg(
        F.count("*").alias("c")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_buckets - 1)),
        lambda i: F.coalesce(
            F.element_at(F.map_from_entries(F.col("kv")), i.cast("bigint")), F.lit(0).cast("bigint")
        ),
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("nnz"),
            F.collect_list(F.struct(F.col("b"), F.col("c"))).alias("kv"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("bigint"),
            F.col("nnz").cast("bigint"),
            F.md5(
                F.concat_ws(",", F.transform(dense, lambda x: x.cast("string"))).cast("binary")
            ).alias("vec_digest"),
        )
    )


def sentence_stats(docs: DataFrame) -> DataFrame:
    """Per-document sentence segmentation stats: sentence count (non-empty
    [.!?]+-delimited segments), exact mean sentence length in integer
    characters (cross-engine: one terminal division of exact ints, 4 dp),
    and the longest sentence — the readability inputs (sentence-length
    distributions feed Flesch-style scores and chunking heuristics).
    Zero-exchange narrow map, pure JVM regex.
    Returns (doc_id, n_sentences, mean_sentence_chars, max_sentence_chars).
    """
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    lens = F.transform(sents, lambda s: F.length(s))
    total = F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x)
    n = F.size(sents)
    return docs.select(
        "doc_id",
        n.cast("bigint").alias("n_sentences"),
        F.when(n > 0, F.round(total.cast("double") / n.cast("double"), 4))
        .otherwise(F.lit(0.0))
        .alias("mean_sentence_chars"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("bigint").alias("max_sentence_chars"),
    )


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the table's
    ground-truth ``lang`` labels, with per-cell share of the true class —
    the evaluation rollup every classifier in a curation pipeline needs
    next to its predictions.  Exact counts; one terminal division.
    Returns (lang, predicted_lang, n_docs, class_share).
    """
    from pyspark.sql import Window

    pred = lang_id(docs)
    cells = pred.groupBy("lang", "predicted_lang").agg(F.count("*").alias("n_docs"))
    class_total = F.sum("n_docs").over(Window.partitionBy("lang"))
    return cells.select(
        "lang",
        "predicted_lang",
        F.col("n_docs").cast("bigint"),
        F.round(F.col("n_docs").cast("double") / class_total.cast("double"), 6).alias(
            "class_share"
        ),
    ).orderBy("lang", "predicted_lang")


def readability_scores(docs: DataFrame) -> DataFrame:
    """Flesch-style reading-ease per document from three integer counts —
    words (whitespace runs), sentences ([.!?]+ runs, floor 1), syllables
    (vowel-group runs, the standard heuristic) — combined as ONE rational
    expression: score = N / D with

        N = 206835·s·w − 1015·w² − 84600·sy·s,   D = 1000·s·w

    i.e. the classic 206.835 − 1.015·(w/s) − 84.6·(sy/w) cross-multiplied
    into exact integers so the only float op either engine performs is the
    final division (bit-identical on identical operands — the Gopher-screen
    pattern).  All counts are JVM regexp built-ins; no Python in the path.
    """
    w = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    s = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))).cast("long"),
    )
    sy = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[aeiouyAEIOUY]+"), F.lit(0))
    ).cast("long")
    base = docs.select("doc_id", "lang", w.alias("n_words"), s.alias("n_sentences"), sy.alias("n_syllables"))
    numer = (
        F.lit(206835) * F.col("n_sentences") * F.col("n_words")
        - F.lit(1015) * F.col("n_words") * F.col("n_words")
        - F.lit(84600) * F.col("n_syllables") * F.col("n_sentences")
    )
    denom = F.lit(1000) * F.col("n_sentences") * F.col("n_words")
    return (
        base.where(F.col("n_words") > 0)
        .select(
            "doc_id",
            "lang",
            "n_words",
            "n_sentences",
            "n_syllables",
            (numer.cast("double") / denom.cast("double")).alias("flesch"),
        )
        .orderBy("doc_id")
    )


def boilerplate_phrase_screen(
    docs: DataFrame, ngram: int = 5, min_docs: int = 3, k: int = 20
) -> DataFrame:
    """Boilerplate contamination screen (the C4 repeated-line rule
    generalized to phrases): a word ``ngram`` is boilerplate when it
    appears in ≥ ``min_docs`` DISTINCT documents; each document is scored
    by the fraction of its distinct n-grams that are boilerplate, as an
    exact parts-per-million integer.  Returns the top-k most contaminated
    documents (ppm desc, doc_id tie-break).

    Scale shape: one distinct on (doc, gram), one map-side-combined
    doc-frequency count, a gram-keyed flag join (no broadcast — the
    boilerplate set grows with the corpus), then a per-doc partial
    aggregate.  No floats anywhere until — nowhere: the ppm is integer.

    The gram stream feeds BOTH the doc-frequency aggregate and the scoring
    join; without materialization Spark plans two full
    scan→split→array_distinct→explode passes (the consumers diverge before
    any exchange, so ReusedExchange can't kick in — VERDICT r6 item 4).
    A lazy ``truncate_lineage`` computes gram generation ONCE and
    both consumers read the materialized blocks — the same multi-consumer
    pattern as the modularity edge list (contract.py) and the LSH
    signature self-joins (dedup.py).  The join keeps the memory-safe shape
    for hot grams: sort-merge streams a skewed gram's rows, where a
    window/collect_list restatement would buffer the whole partition.
    """
    from .dedup import _word_ngrams

    # spread the 5-gram shingle pass (r16, guide §2.6): it is this query's
    # dominant CPU (sf1 profile: 11.1 of 28 CPU-seconds on ONE task) and
    # measured 2.18->1.89 s at sf0.1, 14.3->4.8 s at sf1.  The cheap plain-
    # word tokenizers measured the same spread a LOSS (the added exchange
    # outweighs a split+explode) and keep their unspread shape.
    grams = truncate_lineage(
        spread_small_scan(docs).select(
            "doc_id",
            F.explode(F.array_distinct(_word_ngrams(F.col("text"), ngram))).alias("gram"),
        )
    )
    df_count = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("nd"))
    boiler = df_count.where(F.col("nd") >= min_docs).select("gram", F.lit(1).alias("is_b"))
    scored = (
        grams.join(boiler, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce("is_b", F.lit(0))).cast("long").alias("n_boiler"),
        )
        .withColumn("boiler_ppm", F.expr("n_boiler * 1000000 div greatest(n_grams, 1)"))
    )
    from .topk import global_top_k

    # orderBy+limit (TakeOrderedAndProject), not a partition-less rank
    # window over every scored doc (operators/topk.py)
    return (
        global_top_k(scored, [F.desc("boiler_ppm"), F.asc("doc_id")], k)
        .select("rk", "doc_id", "n_grams", "n_boiler", "boiler_ppm")
        .orderBy("rk")
    )


def source_tv_distance(docs: DataFrame) -> DataFrame:
    """Total-variation distance between each source's token distribution
    and the whole corpus — the distribution-drift monitor for mixture
    composition (JS/KL need logarithms; TVD = ½Σ|p−q| stays an EXACT
    rational of counts, emitted as integer ppm).

    Identity that avoids the full source×token grid: with C_st the
    per-source counts, C_t global, N_s/N totals,

        Σ_t |p_s − p_c| · N_s·N = Σ_{t∈s} |C_st·N − C_t·N_s|
                                   + N_s·(N − Σ_{t∈s} C_t)

    so only (source, token) rows that EXIST are touched — the absent-token
    term collapses into one per-source scalar.  Two map-side-combined
    aggregates + a token-keyed join; all decimal-exact until the single
    ppm floor division.  Output: (source, n_tokens, tvd_ppm) ordered.
    """
    toks = docs.select(
        "source", F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    st = toks.groupBy("source", "tok").agg(F.count("*").cast("long").alias("c_st"))
    g = st.groupBy("tok").agg(F.sum("c_st").cast("long").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").cast("long").alias("n_s"))
    n_row = ns.agg(F.sum("n_s").cast("long").alias("n_total"))
    per = (
        st.join(g, "tok")
        .join(ns, "source")
        .crossJoin(F.broadcast(n_row))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.max("n_total").alias("_n"),
            F.sum(
                F.abs(
                    F.col("c_st").cast("decimal(38,0)") * F.col("n_total")
                    - F.col("c_t").cast("decimal(38,0)") * F.col("n_s")
                )
            ).alias("a_term"),
            F.sum(F.col("c_t").cast("decimal(38,0)")).alias("t_s"),
        )
    )
    return per.select(
        "source",
        "n_tokens",
        F.expr(
            "CAST(((a_term + CAST(n_tokens AS DECIMAL(38,0)) * (_n - t_s)) * 1000000)"
            " DIV (2 * CAST(n_tokens AS DECIMAL(38,0)) * _n) AS BIGINT)"
        ).alias("tvd_ppm"),
    ).orderBy("source")


def zipf_slope(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of ln(freq) on
    ln(rank) for the ``top_n`` most frequent tokens — natural language
    sits near −1; templated/boilerplate corpora flatten, spam steepens,
    so the slope is a one-number corpus-health gate next to the per-doc
    quality screens.

    Determinism: ranks and counts are exact integers; ln is the only
    transcendental, and both engines round ln(exact integer)·10⁹ to a
    nano-int BEFORE any arithmetic — a 1-ulp libm divergence is ~10⁶×
    below the rounding granularity (the benford log10 argument).  The
    OLS normal equations then run in DECIMAL(38,0) (Σxy ~ 10²¹ overflows
    int64), with every divided quantity kept positive.  Positivity is
    defense-in-depth, not a semantic necessity: Spark DIV and DuckDB
    integer `//` BOTH truncate toward zero (-7→-3; pinned by
    tests/test_kernels.py::test_negative_dividend_integer_division_parity),
    but positive operands make the result identical under truncation AND
    flooring, so the query survives an engine whose division floors —
    and sidesteps DuckDB's DECIMAL `//`, which silently becomes DOUBLE
    true-division (the oracle uses HUGEINT instead).

    Scale shape: one map-side-combined token count (the only corpus-scale
    shuffle), a top-n rank that WindowGroupLimit prunes, and a 1-row
    aggregate of the n≤top_n fit points.
    Returns one row (n_terms, slope_ppm, intercept_nano).
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    ranked = (
        vocab.withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("c"), F.asc("tok")))
        )
        .where(F.col("rk") <= top_n)
        .select(
            F.round(F.log(F.col("rk").cast("double")) * 1e9, 0).cast("long").alias("x"),
            F.round(F.log(F.col("c").cast("double")) * 1e9, 0).cast("long").alias("y"),
        )
    )
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        # cast BEFORE multiplying: x·y ~ 5·10¹⁹ overflows int64 (ANSI error)
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    # slope < 0 for any Zipf-ish corpus: divide the POSITIVE mirror
    # (sx·sy − n·sxy) and negate; intercept = (sy + pos_slope_ppm·sx/1e6)/n
    # stays positive, so both DIVs agree across engines.
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        # parens around the DIV, then negate: keeps the dividend positive
        # (see docstring — truncation/flooring agree on positives)
        F.expr(
            "CAST(-(((sx * sy - CAST(n AS DECIMAL(38,0)) * sxy) * 1000000)"
            " DIV (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)) AS BIGINT)"
        ).alias("slope_ppm"),
        F.expr(
            "CAST((sy * 1000000 + ((sx * sy - CAST(n AS DECIMAL(38,0)) * sxy) * 1000000)"
            " DIV (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) * sx)"
            " DIV (CAST(n AS DECIMAL(38,0)) * 1000000) AS BIGINT)"
        ).alias("intercept_nano"),
    )

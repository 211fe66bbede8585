"""Training-data pipeline operators: deterministic sampling/splits, sequence
packing, and quality-based curation over a ``documents``-shaped table.

These are the corpus-construction steps an LLM pretraining pipeline runs
after text analysis and dedup: draw a stratified sample, carve out a held-out
eval split, pack documents into fixed token budgets (the concat-and-chunk
step before tokenizer sharding), and keep only the best-scoring documents
per stratum.

Everything is built on content hashes and window functions — no RNG anywhere,
so every operator is reproducible run-to-run and engine-to-engine (the DuckDB
oracles compute the identical md5-prefix arithmetic).

Scale notes (100 TB):

* ``hash_sample_split`` is a pure map-side filter — md5 + substring compare
  per row, no shuffle, no state.  This is THE way to sample at scale:
  rate changes re-select a superset/subset (threshold monotonicity), and
  membership is stable across reruns and engines — no seed coordination.
* ``pack_sequences`` needs a per-stratum ordered running sum.  A window
  over PARTITION BY lang has as much parallelism as there are strata; for
  100 TB shard the stratum key finer (e.g., (lang, crc-bucket of doc_id))
  so each partition fits an executor — the bin arithmetic is unchanged.
* ``quality_topk`` keeps k rows per stratum: Catalyst rewrites the
  rank-filter into a per-partition top-k (WindowGroupLimit) before the
  shuffle, so only ~k·partitions rows move.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .iterate import truncate_lineage
from .text import doc_stats, token_count

# Per-language md5-prefix thresholds: a doc is sampled iff the first 4 hex
# chars of md5(doc_id) sort below the threshold (en: 0x8000/0x10000 = 50%,
# others 25%).  Mirrored verbatim in the oracle SQL.
SAMPLE_THRESHOLDS = {"en": "8000", "de": "4000", "fr": "4000", "es": "4000", "zh": "4000"}

# Docs whose md5 chars 5-6 sort below '29' (41/256 ≈ 16%) land in eval.
EVAL_THRESHOLD = "29"


def hash_sample_split(docs: DataFrame, thresholds: dict[str, str] | None = None) -> DataFrame:
    """Deterministic stratified sample + train/eval split in one pass.

    Sampling and splitting both key off disjoint md5(doc_id) prefix ranges,
    so the two decisions are independent and individually stable.  Returns
    (doc_id, lang, split) for the sampled rows only.
    """
    thresholds = thresholds or SAMPLE_THRESHOLDS
    digest = F.md5(F.col("doc_id").cast("string"))
    thr_map = F.create_map(*[F.lit(x) for kv in thresholds.items() for x in kv])
    return (
        docs.withColumn("_bucket", digest.substr(1, 4))
        # Languages outside the threshold map fall back to '4000' (≈25%
        # sample), mirroring the oracle's CASE ... ELSE branch — without the
        # coalesce a new lang value would be silently dropped on the Spark
        # side only.
        .withColumn("_thr", F.coalesce(thr_map[F.col("lang")], F.lit("4000")))
        .where(F.col("_bucket") < F.col("_thr"))
        .withColumn(
            "split",
            F.when(digest.substr(5, 2) < F.lit(EVAL_THRESHOLD), F.lit("eval")).otherwise(F.lit("train")),
        )
        .select("doc_id", "lang", "split")
    )


def pack_sequences(docs: DataFrame, budget_tokens: int = 2048) -> DataFrame:
    """Pack documents into fixed token-budget bins per language (the
    concat-and-chunk step of pretraining corpus construction).

    Documents are laid out in doc_id order per language; a document's bin is
    the budget-multiple its starting token offset falls in (greedy streaming
    packing — identical in any engine, no RNG).  Returns one row per bin:
    (lang, bin_id, n_docs, bin_tokens).
    """
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        docs.select("doc_id", "lang", token_count().cast("bigint").alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("bin_id", F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(float(budget_tokens))))
        .groupBy("lang", "bin_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("bin_tokens"))
        .orderBy("lang", "bin_id")
    )


def quality_topk(docs: DataFrame, k: int = 10) -> DataFrame:
    """Top-k documents per language by quality score (curation step).

    Deterministic tie-break: score desc, then doc_id asc.  The rank filter
    compiles to a pre-shuffle group-limit, so executors ship only their own
    top-k candidates per stratum.
    """
    w = Window.partitionBy("lang").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        doc_stats(docs)
        .select("doc_id", "lang", "quality_score")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .orderBy("lang", "rk")
    )


def ngram_decontaminate(
    docs: DataFrame, eval_docs: DataFrame, n: int = 5
) -> DataFrame:
    """Training/eval contamination check: flag every training doc that shares
    at least one word ``n``-gram with the eval set — the decontamination step
    every benchmark-clean pretraining pipeline runs before training.

    Returns (doc_id, n_shared_grams, contaminated) for ALL training docs.

    Scale shape: the eval side is distinct-hashed n-grams only (no text),
    explicitly broadcast — eval sets are small relative to a 100 TB corpus
    (~10⁶-10⁷ grams fits comfortably in an executor).  The training side
    explodes to (doc_id, gram_hash) ONCE and semi-aggregates after the
    broadcast hash join, so the only shuffle is the per-doc count; if the
    eval set ever outgrows broadcast size, drop the explicit broadcast() and
    let AQE pick a shuffle join — semantics unchanged.
    """
    from .dedup import _word_ngrams

    def gram_hashes(col):
        return F.transform(_word_ngrams(col, n), lambda g: F.md5(g.cast("binary")))

    doc_grams = docs.select(
        "doc_id", F.explode(F.array_distinct(gram_hashes(F.col("text")))).alias("g")
    )
    eval_grams = (
        eval_docs.select(F.explode(gram_hashes(F.col("text"))).alias("g")).distinct()
    )
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "g")
        .groupBy("doc_id")
        .agg(F.count("g").alias("n_shared_grams"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared_grams", F.lit(0)).cast("bigint").alias("n_shared_grams"),
        (F.coalesce("n_shared_grams", F.lit(0)) > 0).alias("contaminated"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own unigram
    model — the cheap fluency/quality signal (gibberish and boilerplate
    score far from the corpus mode; a stand-in for KenLM-style perplexity
    filtering when no external LM is available).

    Two aggregations: (1) corpus vocab counts (explode → map-side-combined
    count per token); (2) per-doc mean of ln(count/total) over its tokens.
    The vocab joins back by token — broadcast when small, AQE-shuffled when
    not; no Python in either pass.

    Determinism: each token's log-prob is rounded to integer nano-units
    BEFORE aggregation, so the per-doc reduction is an integer sum —
    order-independent at any partitioning — and the 3-dp mean is computed
    with the integer-rounding identity round(a/b) = (2a+b) DIV (2b) (the
    quality_score pattern).  A naive avg() of doubles accumulates in
    partition order and can flip the 3-dp rounding when the true mean lies
    near a 0.0005 boundary (operators/stats.py rule: no double sums in
    compared columns).
    """
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", F.explode(words).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    lp_nano = F.round(F.log(F.col("c") / F.col("total")) * 1e9, 0).cast("long")
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp_nano.alias("lp"))
        .groupBy("doc_id")
        # log-probs are <= 0, so negate into positive ints for DIV.  Both
        # engines truncate negative dividends toward zero (pinned by
        # tests/test_kernels.py::test_negative_dividend_integer_division_parity);
        # positivity is kept as defense-in-depth since truncation and
        # flooring agree on positive operands.
        .agg((-F.sum("lp")).alias("s_pos"), F.count("*").alias("cnt"))
        .select(
            "doc_id",
            (
                -F.expr("(2 * s_pos * 1000 + cnt * 1000000000) DIV (2 * cnt * 1000000000)")
                / F.lit(1000.0)
            ).alias("mean_logprob"),
        )
    )
    return scored.select("doc_id", "mean_logprob")


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-doc mean bigram conditional log-probability
    ln p(wᵢ | wᵢ₋₁) = ln( c(wᵢ₋₁wᵢ) / c_first(wᵢ₋₁) ) under the corpus's
    own bigram model — the next step up from :func:`unigram_logprob`:
    sensitive to scrambled word ORDER that unigram fluency cannot see
    (shuffled text keeps its unigram score but craters here).

    Scoring the training corpus with its own model means every observed
    bigram has nonzero count — no smoothing needed.  c_first(w) sums
    bigram counts by first token (occurrences of w excluding doc-final
    position), so probabilities per first-token sum to exactly 1.

    Same shapes and determinism rules as unigram: adjacent pairs via
    arrays_zip of two slices (no quadratic expansion), two map-side-
    combined aggregates, broadcast-or-AQE joins back, per-token nano-unit
    fixing before the integer per-doc mean.  Docs with <2 tokens have no
    bigrams and are absent from the output (inner-join semantics).
    """
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size(words)
    prs = docs.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(words, 1, n - 1).alias("w1"),
                F.slice(words, 2, n - 1).alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    cb = prs.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    cf = cb.groupBy("w1").agg(F.sum("cb").alias("cf"))
    lp_nano = F.round(F.log(F.col("cb") / F.col("cf")) * 1e9, 0).cast("long")
    return (
        prs.join(cb, ["w1", "w2"])
        .join(cf, "w1")
        .select("doc_id", lp_nano.alias("lp"))
        .groupBy("doc_id")
        .agg((-F.sum("lp")).alias("s_pos"), F.count("*").alias("cnt"))
        .select(
            "doc_id",
            (
                -F.expr("(2 * s_pos * 1000 + cnt * 1000000000) DIV (2 * cnt * 1000000000)")
                / F.lit(1000.0)
            ).alias("mean_bigram_logprob"),
        )
    )


def vocab_topk(docs: DataFrame, k: int = 100) -> DataFrame:
    """Vocabulary construction: top-k tokens by corpus frequency (ties by
    token) — the first step of tokenizer training.  One map-side-combined
    count shuffle; the top-k runs through ``global_top_k`` (orderBy+limit
    → TakeOrderedAndProject), not a partition-less rank window — the "rank
    pushdown" previously claimed here never fires for unpartitioned
    windows (operators/topk.py), and the vocab table is corpus-dependent,
    not constant-bounded."""
    from .topk import global_top_k

    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    counts = (
        docs.select(F.explode(words).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    return global_top_k(counts, [F.desc("n"), F.asc("tok")], k).select(
        "tok", F.col("n").cast("bigint"), F.col("rk").cast("bigint")
    )


def bpe_pair_stats(docs: DataFrame, k: int = 50) -> DataFrame:
    """First merge step of BPE tokenizer training: frequency of ADJACENT
    token pairs across the corpus, top-k by count (ties by pair).

    The pair list per doc is built with ``zip_with`` over the token array
    and its shifted self (JVM-side, no Python); one map-side-combined count
    shuffle; the top-k via ``global_top_k`` (orderBy+limit →
    TakeOrderedAndProject — the partition-less rank window it replaces
    never got the group-limit optimization, operators/topk.py).  Iterating
    this (merge the top pair, re-tokenize, repeat) is full BPE training —
    each round is this same aggregate, which is why the single step is the
    representative scale unit.
    """
    from .topk import global_top_k

    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    pairs = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    counts = (
        docs.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
    )
    return global_top_k(counts, [F.desc("n"), F.asc("pair")], k).select(
        "pair", F.col("n").cast("bigint"), F.col("rk").cast("bigint")
    )


def _md5_rank(stratum: str):
    """The determinism-critical sampling order shared by every seedless
    sampler in this module: rank within the stratum by md5(doc_id) with
    doc_id tie-break.  ONE definition so a future tie-break change cannot
    silently diverge between samplers."""
    from pyspark.sql import Window

    return F.row_number().over(
        Window.partitionBy(stratum).orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )


def mixture_sample(docs: DataFrame, quotas: dict[str, int], stratum: str = "source") -> DataFrame:
    """Weighted domain-mixture sample: exactly ``quotas[s]`` docs from each
    listed stratum (fewer only if the stratum is smaller), chosen by
    deterministic md5 order — the curriculum-mixing step that composes a
    training set from per-source target counts ("50% web, 30% code, 20%
    books") reproducibly and seedlessly.  Strata absent from ``quotas`` are
    excluded entirely.

    Quotas are INTEGER COUNTS, not float weights: the caller derives counts
    from its ratio spec once, and the operator stays float-free (no
    engine-specific rounding of w·N at the selection boundary).

    Scale shape (r15): the quota table is tiny and broadcast; one shuffle
    keyed by the stratum.  rank <= quota alone cannot compile to
    WindowGroupLimit (the optimizer needs a LITERAL bound), so a literal
    ``rk <= max(quotas)`` conjunct is added — semantically redundant
    (every per-stratum quota is <= the max), but it lets Spark plan the
    per-map-task group limit: each map task forwards at most max-quota
    rows per stratum instead of the stratum's whole row set flowing into
    its single window task.  Returns (doc_id, stratum, rk).
    """
    spark = docs.sparkSession
    quota_df = spark.createDataFrame(
        sorted(quotas.items()), f"{stratum} string, quota int"
    )
    max_quota = max(quotas.values()) if quotas else 0
    return (
        docs.join(F.broadcast(quota_df), stratum)
        .select("doc_id", stratum, "quota", _md5_rank(stratum).cast("bigint").alias("rk"))
        .where((F.col("rk") <= F.lit(max_quota)) & (F.col("rk") <= F.col("quota")))
        .select("doc_id", stratum, "rk")
    )


def balanced_sample(docs: DataFrame, per_stratum: int = 20, stratum: str = "lang") -> DataFrame:
    """Balanced per-stratum sample: at most ``per_stratum`` docs from each
    stratum (default: language), chosen by deterministic md5 order — the
    data-mixing step that stops a dominant language/source from swamping a
    training mix, with a reproducible, seedless pick.

    Scale shape: one shuffle keyed by the stratum; the rank <= k predicate
    compiles to WindowGroupLimit, so each executor ships only its local
    top-k candidates per stratum instead of the full partition.  (This is
    the constant-quota special case of :func:`mixture_sample`; both share
    the :func:`_md5_rank` ordering.)
    """
    return (
        docs.select("doc_id", stratum)
        .withColumn("rk", _md5_rank(stratum).cast("bigint"))
        .where(F.col("rk") <= per_stratum)
    )


def weighted_sample(docs: DataFrame, k: int = 50) -> DataFrame:
    """Deterministic weighted sampling without replacement: the k documents
    with the smallest priority key u/w, where u = the first 60 bits of
    md5(doc_id) as an integer and w = the document's word count — longer
    documents are proportionally more likely to be drawn, the seedless
    analog of weight-proportional reservoir sampling (A-ES with a
    hash-derived uniform instead of an RNG).

    Cross-engine determinism is the design constraint: u and w are exact
    integers < 2^60, and ONE IEEE division u/w is correctly rounded — both
    engines produce bit-identical doubles, so the ranking (tie-broken by
    doc_id) is reproducible anywhere, unlike ln(u)/w whose libm varies.

    Scale shape (r15): the key is a narrow map; the top-k runs through
    ``global_top_k`` (orderBy+limit → TakeOrderedAndProject — bounded
    per-task heaps), NOT a partition-less rank window: Spark's
    WindowGroupLimit never fires for unpartitioned windows (this
    docstring's previous claim was empirically wrong — see
    operators/topk.py), so the old shape sorted the whole corpus in one
    window task.  Returns (doc_id, weight, rk).
    """
    from .topk import global_top_k

    w = F.greatest(F.size(F.split(F.trim("text"), r"\s+")), F.lit(1)).cast("long")
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("bigint")
    keyed = docs.select(
        "doc_id",
        w.alias("weight"),
        (u.cast("double") / w.cast("double")).alias("_key"),
    )
    return global_top_k(keyed, [F.asc("_key"), F.asc("doc_id")], k).select(
        "doc_id", "weight", "rk"
    )


def pack_efficiency_report(docs: DataFrame, budget_tokens: int = 2048) -> DataFrame:
    """Packing-efficiency comparison: arrival-order streaming packing vs
    LENGTH-DESCENDING (first-fit-decreasing-flavored) layout, per language —
    the measurement that justifies sorting a pretraining corpus before
    chunking (long docs first leaves fewer ragged bin tails).

    Both layouts use the same deterministic streaming rule as
    :func:`pack_sequences` (bin = budget-multiple of the starting offset);
    only the order differs (doc_id vs tokens-desc/doc_id).  Efficiency =
    total tokens ÷ (bins · budget), exact integers with one terminal
    division.  Per-language window sorts — same scale shape as
    pack_sequences.  Returns (lang, n_docs, total_tokens, bins_arrival,
    bins_sorted, eff_arrival, eff_sorted).
    """
    base = docs.select("doc_id", "lang", token_count().cast("bigint").alias("n_tokens"))

    def bins(order_cols):
        w = Window.partitionBy("lang").orderBy(*order_cols).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return (
            base.withColumn("cum", F.sum("n_tokens").over(w))
            .withColumn(
                "bin_id",
                F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(float(budget_tokens))),
            )
            .groupBy("lang")
            .agg((F.max("bin_id") + 1).alias("n_bins"))
        )

    arrival = bins([F.col("doc_id")]).withColumnRenamed("n_bins", "bins_arrival")
    srt = bins([F.desc("n_tokens"), F.col("doc_id")]).withColumnRenamed("n_bins", "bins_sorted")
    totals = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("total_tokens")
    )
    return (
        totals.join(arrival, "lang")
        .join(srt, "lang")
        .select(
            "lang",
            F.col("n_docs").cast("bigint"),
            F.col("total_tokens").cast("bigint"),
            F.col("bins_arrival").cast("bigint"),
            F.col("bins_sorted").cast("bigint"),
            F.round(
                F.col("total_tokens").cast("double")
                / (F.col("bins_arrival").cast("double") * budget_tokens),
                6,
            ).alias("eff_arrival"),
            F.round(
                F.col("total_tokens").cast("double")
                / (F.col("bins_sorted").cast("double") * budget_tokens),
                6,
            ).alias("eff_sorted"),
        )
        .orderBy("lang")
    )


def chunk_documents(docs: DataFrame, size: int = 64, overlap: int = 16) -> DataFrame:
    """Split documents into fixed-size whitespace-token chunks with overlap
    — the context-window chunking step of a RAG/pretraining pipeline.

    Chunk starts step by ``stride = size - overlap``; the chunk count
    ``1 + ceil(max(0, n - size) / stride)`` is computed in pure integer
    arithmetic so both engines enumerate the identical chunk grid, and the
    per-chunk text digest pins the actual token slices, not just counts.

    Scale shape: one narrow projection + a map-side posexplode — NO shuffle
    at all (chunking is embarrassingly parallel); the token array lives
    only inside the stage.  Returns (doc_id, chunk_id, start_tok,
    chunk_tokens, chunk_md5).
    """
    stride = size - overlap
    assert stride > 0, "overlap must be smaller than size"
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("long").alias("n_tokens")
    )
    n_chunks = 1 + F.expr(f"(greatest(0, n_tokens - {size}) + {stride} - 1) div {stride}")
    chunked = base.select(
        "doc_id",
        "toks",
        "n_tokens",
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
    ).select(
        "doc_id",
        F.col("chunk_id").cast("long"),
        (F.col("chunk_id") * stride).cast("long").alias("start_tok"),
        F.least(F.lit(size), F.col("n_tokens") - F.col("chunk_id") * stride)
        .cast("long")
        .alias("chunk_tokens"),
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, size), " "
            )
        ).alias("chunk_md5"),
    )
    return chunked.orderBy("doc_id", "chunk_id")


def kfold_split(docs: DataFrame, k: int = 5) -> DataFrame:
    """Deterministic k-fold assignment (cross-validation splits that are
    reproducible across engines and runs): fold = 60-bit md5(doc_id) mod k.
    Returns the per-fold census (fold, n_docs, n_langs, total_words) — the
    balance report one checks before trusting the folds.

    Scale shape: one partial-aggregated shuffle on the fold id; the md5
    assignment itself is stateless per-row (no coordination), so adding
    documents never reshuffles existing fold membership.
    """
    key = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    return (
        docs.select(
            (key % k).alias("fold"),
            "lang",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_words"),
        )
        .groupBy("fold")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
        .orderBy("fold")
    )


def bigram_lift(docs: DataFrame, min_count: int = 5, k: int = 20) -> DataFrame:
    """Collocation mining by LIFT — PMI's exact-integer cousin:
    lift(a,b) = P(ab) / (P(a)·P(b)) = n_ab·N_tok² / (n_a·n_b·N_pair),
    emitted as an integer in parts-per-million so no engine ever takes a
    logarithm (the libm divergence the tfidf guard exists for — here the
    metric itself is a pure ratio of exact counts).  High-lift bigrams are
    the multi-word expressions a tokenizer or phrase-merger should learn.

    One token-count aggregate + one adjacent-pair aggregate (both
    map-side-combined), then a pair→unigram join keyed by token; pairs
    below ``min_count`` are cut before the join.  Top-k by lift with
    count/pair tie-breaks.
    """
    from pyspark.sql import Window

    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select(F.explode(words).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").cast("long").alias("n_tok"))
    n_tok_total = toks.agg(F.count("*").cast("long").alias("n_total"))
    pairs_col = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    pairs = (
        docs.select(F.explode(pairs_col).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("long").alias("n_ab"))
        .where(F.col("n_ab") >= min_count)
    )
    n_pair_total = (
        docs.select(F.greatest(F.size(words) - 1, F.lit(0)).cast("long").alias("np"))
        .agg(F.sum("np").cast("long").alias("np_total"))
    )
    split = F.split(F.col("pair"), " ", 2)
    ua = uni.select(F.col("tok").alias("tok_a"), F.col("n_tok").alias("n_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("n_tok").alias("n_b"))
    scored = (
        pairs.select("pair", "n_ab", split[0].alias("tok_a"), split[1].alias("tok_b"))
        .join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(n_tok_total))
        .crossJoin(F.broadcast(n_pair_total))
        .withColumn(
            "lift_ppm",
            F.expr(
                "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_total * n_total * 1000000)"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b * np_total) AS BIGINT)"
            ),
        )
    )
    from .topk import global_top_k

    return (
        global_top_k(scored, [F.desc("lift_ppm"), F.desc("n_ab"), F.asc("pair")], k)
        .select("rk", "pair", "n_ab", "n_a", "n_b", "lift_ppm")
        .orderBy("rk")
    )


def ngram_novelty(docs: DataFrame, n: int = 5) -> DataFrame:
    """Per-document n-gram novelty against the rest of the corpus in
    doc_id order — the memorization/redundancy screen that complements
    decontamination: instead of flagging overlap with an *external* eval
    set, it scores how much of each doc is the corpus's own first sighting.

    A doc's distinct word ``n``-grams are novel when their first corpus
    occurrence (min doc_id over all docs containing the gram) is this doc.
    Returns (doc_id, n_grams, n_novel, novel_ppm) over distinct grams —
    curriculum builders drop or down-weight low-novelty docs.

    Scale shape: one explode to (doc_id, gram_hash) distinct rows; the
    first-occurrence doc is a MIN window over the gram key rather than an
    aggregate joined back to its own input — the join formulation executes
    the scan+shingle lineage once per join side (measured 2× wall at sf10,
    the boilerplate-screen lesson), while the window consumes the gram
    shuffle in a single pass.  Net: ONE scan, one shuffle keyed by gram,
    one per-doc re-aggregation.  All-integer output; the ordering key is
    whatever doc_id encodes (ingest time in production), so the semantics
    are 'novel vs everything ingested before me'.  The md5 runs row-level
    AFTER the explode (whole-stage codegen), not inside the gram-array
    transform lambda — HOF bodies are interpreted per element
    (minhash_signatures lesson).
    """
    from pyspark.sql import Window as W

    from .dedup import _word_ngrams

    # shingling + hashing is ~n_words× the scan work per row: spread the
    # skinny doc rows across every core before the fat compute (same
    # fix as duplicated_span_census — input splits are sized for scan
    # bytes, not for downstream explode cost)
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    grams = spread.select(
        "doc_id",
        F.explode(F.array_distinct(_word_ngrams(F.col("text"), n))).alias("gram"),
    ).select("doc_id", F.md5(F.col("gram").cast("binary")).alias("g"))
    return (
        grams.withColumn("first_doc", F.min("doc_id").over(W.partitionBy("g")))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            .cast("long")
            .alias("n_novel"),
        )
        .withColumn("novel_ppm", F.expr("n_novel * 1000000 DIV n_grams"))
        .orderBy("doc_id")
    )


def importance_weights(docs: DataFrame, target_source: str = "src1") -> DataFrame:
    """DSIR-style data-selection weights: per-doc mean log-likelihood
    ratio ln(P_target(tok)/P_corpus(tok)) between a TARGET domain's
    unigram model and the whole-corpus model — rank by it and keep the
    top mass to steer a 100 TB crawl toward a target distribution
    (the Data Selection with Importance Resampling recipe, restated on
    add-one-smoothed unigrams instead of hashed n-grams).

    Both models are Laplace-smoothed over the SHARED corpus vocabulary
    ((c+1)/(T+V)), so target-absent tokens contribute a finite negative
    ratio instead of -inf.  Determinism follows unigram_logprob: each
    token's ratio is rounded to integer nano-units BEFORE the per-doc
    sum (order-independent), and the 3-dp mean uses the positive-
    dividend rounding identity after shifting by +32 (|ratio| < 30 by
    construction: both smoothed probs lie in [1/(T+V), 1]) — the shift
    commutes with rounding exactly and keeps every DIV operand positive
    and < 2^63 for docs up to ~7e4 tokens.

    Scale shape: ONE vocab aggregate carrying both models' counts (the
    target count is a conditional sum in the same map-side-combined
    pass, so the corpus/target split costs no extra scan), one
    broadcast-or-AQE token join, one per-doc integer sum.  No Python
    anywhere.  Returns (doc_id, mean_lw) ordered by doc_id.
    """
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    toks = docs.select("doc_id", "source", F.explode(words).alias("tok"))
    vocab = toks.groupBy("tok").agg(
        F.count("*").alias("cg"),
        F.sum(F.when(F.col("source") == target_source, 1).otherwise(0)).alias("ct"),
    )
    # two consumers (the totals aggregate and the scoring join) —
    # materialize the vocab ONCE or each re-runs the corpus explode
    # (same multi-consumer pattern as the boilerplate gram stream)
    vocab = truncate_lineage(vocab)
    totals = vocab.agg(
        F.sum("cg").alias("tg"),
        F.sum("ct").alias("tt"),
        F.count("*").alias("v"),
    )
    lw_nano = F.round(
        (
            F.log((F.col("ct") + 1) / (F.col("tt") + F.col("v")))
            - F.log((F.col("cg") + 1) / (F.col("tg") + F.col("v")))
        )
        * 1e9,
        0,
    ).cast("long")
    return (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(totals))
        .select("doc_id", lw_nano.alias("lw"))
        .groupBy("doc_id")
        .agg(
            (F.sum("lw") + F.count("*") * F.lit(32_000_000_000)).alias("s_shift"),
            F.count("*").alias("cnt"),
        )
        .select(
            "doc_id",
            (
                F.expr("(2 * s_shift * 1000 + cnt * 1000000000) DIV (2 * cnt * 1000000000)")
                / F.lit(1000.0)
                - F.lit(32.0)
            ).alias("mean_lw"),
        )
        .orderBy("doc_id")
    )

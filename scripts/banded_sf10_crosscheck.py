#!/usr/bin/env python
"""Independent sf10 correctness signals for the banded-dedup family.

The family's DuckDB oracles are bucket-local self-joins — correct but
sf10-infeasible under a per-query budget (the banded candidate join is
quadratic in bucket size and the oracle replays every bucket), so prior
rounds carried engine telemetry only (SCALE_EVIDENCE.jsonl).  Following
the fuzzy-family pattern (scripts/fuzzy_sf10_crosscheck.py, VERDICT r12
item 5), this script adds planted-ground-truth checks the engine must
satisfy at sf10 that need NONE of the quadratic machinery — the stage
under test is the banded self-join (the piece that can silently lose
recall to bucketing/caps at scale); the per-row stages it composes with
are value-pinned by the sf0.01/0.1/1 oracles.

1. EMBEDDING PLANTED-PAIR RECALL (dedup_embedding_pairs): the contract
   query plants a near-copy of every 10th vector (dim-1 x 1.25, ids
   +1,000,000 — disjoint from the replica id blocks at every scale).
   The expected pair set is computed PER ROW with no join at all:
   cos(v, v') for v' = [1.25*v1, v2..] from each planted source vector
   alone.  Every expected pair with cosine >= 0.9 must appear in the
   engine output with the same cosine (|delta| <= 1e-3 — the engine's
   zip_with reduction order can differ in the last bit).  The engine's
   sign-bucket construction is also replayed census-only to report
   whether any hot bucket was dropped (none expected at sf10; a dropped
   bucket would make a recall miss legitimate and is reported, not
   asserted).

2. SPAN PLANTED EXACT-COPY RECALL (dedup_span_pairs): plant a verbatim
   copy (doc_id + 10**13, above every replica block) of every 100th
   document.  An exact copy shares ALL span fingerprints, so the pair
   (doc, copy) must appear with n_shared equal to the doc's own capped
   distinct-anchor count — computed from the per-row anchor stage plus
   the global bucket census (one groupBy), never the banded self-join.
   Both directions are checked on the planted-shape subset: every
   expected pair present with the exact n_shared, and no unexpected
   (doc, doc+10**13) pair emitted.

Usage: python scripts/banded_sf10_crosscheck.py [sf_dir]
Prints one JSON line; exit 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SPAN_COPY_OFFSET = 10**13


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf10")

    from pyspark.sql import SparkSession, functions as F

    from duckdb_age_spark.conf import apply_recommended_conf

    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
            .appName("banded-sf10-crosscheck"),
            shuffle_partitions=32,
        )
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from duckdb_age_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        _drop_hot_buckets,
        _span_anchors,
        duplicated_span_pairs,
        embedding_near_dup_pairs,
        planted_near_dup_embeddings,
    )

    out: dict = {"sf_dir": sf_dir}

    # --- 1. embedding planted-pair recall --------------------------------
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = planted_near_dup_embeddings(emb)
    engine = embedding_near_dup_pairs(corpus, threshold=0.9).cache()
    out["emb_engine_pairs"] = engine.count()

    # expected pairs from each source vector alone (no join, no buckets):
    # v' = [1.25*v1, v2..]; cosine(v, v') in closed form over one row
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq = F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    v1sq = (F.element_at(v, 1) * F.element_at(v, 1)).cast("double")
    dot = sq + F.lit(0.25) * v1sq  # 1.25*v1^2 + sum_{i>=2} vi^2
    norm_prime = F.sqrt(sq + F.lit(0.5625) * v1sq)
    expected = (
        emb.where(F.col("vec_id") % 10 == 0)
        .select(
            F.col("vec_id").alias("vec_a"),
            (F.col("vec_id") + 1_000_000).alias("vec_b"),
            (dot / (F.sqrt(sq) * norm_prime)).alias("cos_expected"),
        )
        .where(F.col("cos_expected") >= 0.9)
    )
    out["emb_expected_pairs"] = expected.count()
    joined = expected.join(engine, ["vec_a", "vec_b"], "left").cache()
    out["emb_missing"] = joined.where(F.col("cosine").isNull()).count()
    out["emb_value_mismatch"] = joined.where(
        F.abs(F.col("cosine") - F.col("cos_expected")) > 1e-3
    ).count()
    joined.unpersist()

    # census-only replay of the engine's sign-bucket cap (report, not
    # assert: a dropped bucket would make recall misses legitimate)
    dims = 16
    sign_key = sum(
        (
            F.when(F.element_at("embedding", i + 1) >= 0, F.lit(1 << i)).otherwise(0)
            for i in range(dims)
        ),
        F.lit(0),
    )
    out["emb_hot_buckets_dropped"] = (
        corpus.select(sign_key.alias("bucket"))
        .groupBy("bucket")
        .count()
        .where(F.col("count") > DEFAULT_MAX_BUCKET)
        .count()
    )
    engine.unpersist()

    # --- 2. span planted exact-copy recall -------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + SPAN_COPY_OFFSET).alias("doc_id"), "text"
    )
    planted_corpus = docs.unionByName(copies)

    engine_pairs = duplicated_span_pairs(planted_corpus, k=24, anchor_mod=8)
    got = engine_pairs.where(
        F.col("doc_b") - F.col("doc_a") == SPAN_COPY_OFFSET
    ).cache()
    out["span_planted_pairs_engine"] = got.count()

    # expected n_shared = the doc's capped distinct-anchor count: per-row
    # anchor stage + global census cap, NO banded self-join
    capped = _drop_hot_buckets(
        _span_anchors(planted_corpus, k=24, anchor_mod=8), "h", DEFAULT_MAX_BUCKET
    )
    exp_span = (
        capped.where((F.col("doc_id") % 100 == 0) & (F.col("doc_id") < SPAN_COPY_OFFSET))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + SPAN_COPY_OFFSET).alias("doc_b"),
            "n_shared",
        )
    )
    out["span_planted_pairs_expected"] = exp_span.count()
    out["span_missing"] = exp_span.exceptAll(got).count()
    out["span_unexpected"] = got.exceptAll(exp_span).count()
    got.unpersist()

    ok = (
        out["emb_missing"] == 0
        and out["emb_value_mismatch"] == 0
        and out["emb_expected_pairs"] > 0
        and out["span_missing"] == 0
        and out["span_unexpected"] == 0
        and out["span_planted_pairs_expected"] > 0
    )
    out["ok"] = ok
    print(json.dumps(out))
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

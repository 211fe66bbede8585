"""Physical-plan audits: the plans we'd want at 100 TB, asserted at sf0.001.

These catch scale regressions that correctness tests can't: a lost
broadcast, a filter that stopped pushing down, a scan reading columns the
query doesn't need, a missing map-side partial aggregate.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_age_spark.plans import (
    count_exchanges,
    count_executed_exchanges,
    formatted_plan,
    has_broadcast_join,
    has_partial_aggregate,
    pushed_filters,
    read_schemas,
)


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    from duckdb_age_spark.sources import read_table

    return {
        n: read_table(spark, sf_dir, n)
        for n in ("region", "nation", "customer", "supplier", "orders", "lineitem", "documents", "events")
    }


def test_q5_broadcasts_dimensions(t):
    from duckdb_age_spark.operators.relational import q5_region_revenue

    df = q5_region_revenue(t["region"], t["nation"], t["customer"], t["supplier"], t["orders"], t["lineitem"])
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_q1_pushes_filter_and_prunes_columns(t):
    from duckdb_age_spark.operators.relational import q1_pricing_summary

    df = q1_pricing_summary(t["lineitem"])
    # shipdate predicate reaches the parquet scan
    assert any("l_shipdate" in p for p in pushed_filters(df)), pushed_filters(df)
    # scan reads only the 7 needed columns, not all 11
    schemas = read_schemas(df)
    assert schemas and all("l_orderkey" not in s and "l_partkey" not in s for s in schemas), schemas
    assert has_partial_aggregate(df)


def test_q1_single_shuffle(t):
    from duckdb_age_spark.operators.relational import q1_pricing_summary

    # groupBy + orderBy = exactly 2 exchanges (agg + sort), nothing hidden
    assert count_exchanges(q1_pricing_summary(t["lineitem"])) <= 2


def test_doc_stats_is_shuffle_free(t):
    from duckdb_age_spark.operators.text import doc_stats

    assert count_exchanges(doc_stats(t["documents"])) == 0


def test_lang_stats_partial_aggregates(t):
    from duckdb_age_spark.operators.text import lang_stats

    df = lang_stats(t["documents"])
    assert has_partial_aggregate(df)


def test_minhash_partial_min_before_shuffle(t):
    from duckdb_age_spark.operators.dedup import minhash_signatures

    df = minhash_signatures(t["documents"])
    # min() aggregates partially before the doc_id exchange
    assert has_partial_aggregate(df)
    assert count_exchanges(df) == 1


def test_bruteforce_topk_broadcasts_queries(t, spark, sf_dir):
    from duckdb_age_spark.operators.similarity import brute_force_topk, queries_from_ids
    from duckdb_age_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    df = brute_force_topk(emb, queries_from_ids(emb, [0, 1]), k=3)
    assert has_broadcast_join(df)


def test_projection_pruning_reaches_scan(t):
    # 2-column projection over an 11-column table must prune the scan
    df = t["lineitem"].select("l_orderkey", "l_quantity")
    schemas = read_schemas(df)
    assert schemas == ["struct<l_orderkey:bigint,l_quantity:double>"], schemas


def test_filter_outside_udf_still_pushes_down(spark, sf_dir, manager):
    """Filters composed around the crypto UDFs must still reach the scan
    (SURVEY.md §4.2: keep filters visible to Catalyst)."""
    from duckdb_age_spark.contract import KP1
    from duckdb_age_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    df = docs.where(F.col("lang") == "en").select(
        "doc_id",
        F.call_function("age_encrypt", F.col("text").cast("binary"), F.lit(KP1.public_key)),
    )
    assert any("lang" in p and "en" in p for p in pushed_filters(df)), pushed_filters(df)

def test_q19_disjunction_pushes_to_lineitem_scan(t, spark, sf_dir):
    from duckdb_age_spark.operators.relational import q19_disjunctive_revenue
    from duckdb_age_spark.sources import read_table

    df = q19_disjunctive_revenue(t["lineitem"], read_table(spark, sf_dir, "part"))
    # the l_quantity bound common to all three branches reaches the scan
    assert any("l_quantity" in p for p in pushed_filters(df)), pushed_filters(df)
    assert has_broadcast_join(df)


def test_q22_anti_join_and_scalar_broadcast(t):
    from duckdb_age_spark.operators.relational import q22_idle_customers

    df = q22_idle_customers(t["customer"], t["orders"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan, plan[:2000]
    assert has_broadcast_join(df)


def test_q15_single_pass_revenue(t):
    from duckdb_age_spark.operators.relational import q15_top_supplier

    df = q15_top_supplier(t["supplier"], t["lineitem"])
    assert has_partial_aggregate(df)
    # shipdate quarter filter reaches the scan
    assert any("l_shipdate" in p for p in pushed_filters(df)), pushed_filters(df)


def test_q21_semi_and_anti_joins(t):
    from duckdb_age_spark.operators.relational import q21_waiting_suppliers
    from duckdb_age_spark.sources import read_table

    df = q21_waiting_suppliers(t["lineitem"], t["orders"], t["supplier"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both with the non-equi residual
    assert "LeftSemi" in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    assert has_broadcast_join(df)  # supplier dim


def test_q16_anti_join_is_broadcast(t, spark, sf_dir):
    from duckdb_age_spark.operators.relational import q16_supplier_counts
    from duckdb_age_spark.sources import read_table

    df = q16_supplier_counts(t["lineitem"], read_table(spark, sf_dir, "part"), t["supplier"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the complaints exclusion must not shuffle lineitem: broadcast anti join
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan[:2000]


def test_q2_dims_broadcast_one_fact_shuffle(t, spark, sf_dir):
    from duckdb_age_spark.operators.relational import q2_min_cost_supplier
    from duckdb_age_spark.sources import read_table

    df = q2_min_cost_supplier(
        read_table(spark, sf_dir, "part"), t["supplier"], t["lineitem"], t["nation"], t["region"]
    )
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)
    # the part-slice semi-join precedes the cost aggregation, so only the
    # cost groupBy (computed twice — both join inputs derive from it) and its
    # per-part re-agg shuffle; all joins after the aggregate stay broadcast
    assert count_exchanges(df) <= 3, formatted_plan(df)


def test_q8_single_shuffle_chain(t, spark, sf_dir):
    from duckdb_age_spark.operators.relational import q8_market_share
    from duckdb_age_spark.sources import read_table

    df = q8_market_share(
        read_table(spark, sf_dir, "part"), t["supplier"], t["lineitem"], t["orders"],
        t["customer"], t["nation"], read_table(spark, sf_dir, "region"),
    )
    # part/supplier/nation/region broadcast; shuffles: l⋈o, ⋈c, agg, sort
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 5, formatted_plan(df)
    # orderdate window reaches the orders scan
    assert any("o_orderdate" in p for p in pushed_filters(df)), pushed_filters(df)


def test_hash_sample_is_shuffle_free(t):
    from duckdb_age_spark.operators.pipeline import hash_sample_split

    df = hash_sample_split(t["documents"])
    # pure map-side filter: md5-prefix compare, no exchange at all
    assert count_exchanges(df) == 0, formatted_plan(df)


def test_quality_topk_uses_group_limit(t):
    from duckdb_age_spark.operators.pipeline import quality_topk

    df = quality_topk(t["documents"])
    # rank<=k over a window must compile to a pre-shuffle top-k
    # (WindowGroupLimit), not a full sort of every stratum
    assert "WindowGroupLimit" in df._jdf.queryExecution().executedPlan().toString()


def test_sliding_window_single_shuffle(t):
    from duckdb_age_spark.operators.events import sliding_counts

    df = sliding_counts(t["events"])
    # window expansion happens map-side; one partial-aggregated exchange + sort
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_cube_is_one_partial_aggregated_shuffle(t):
    from duckdb_age_spark.operators.rollup import priority_status_cube

    df = priority_status_cube(t["orders"])
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_bm25_broadcasts_stats_and_limits_topk(t):
    from duckdb_age_spark.operators.text import bm25_topk

    df = bm25_topk(t["documents"], ["hash", "join", "vector"], k=20)
    # corpus stats (N, avgdl, df_t) are ONE row joined via broadcast — the
    # corpus itself never re-shuffles for the join
    assert has_broadcast_join(df), formatted_plan(df)
    # per-term tf stays in JVM higher-order functions: no Python evals
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # global top-k must not full-sort the corpus: either the rank-filter
    # rewrite (WindowGroupLimit) or the even stronger limit pushdown
    # (TakeOrderedAndProject = per-partition heaps + merge) is acceptable
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in executed or "WindowGroupLimit" in executed, executed


def test_connected_components_round_is_bounded_shuffles(t, spark):
    from duckdb_age_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 9)], "id long")
    out = connected_components(edges, nodes, max_iter=2)
    # post-convergence frame reads from the checkpointed RDD: the iterative
    # lineage must NOT accumulate (the whole point of localCheckpoint)
    assert "Scan ExistingRDD" in formatted_plan(out), formatted_plan(out)


def test_decontaminate_broadcasts_eval_grams(t):
    from duckdb_age_spark.operators.pipeline import ngram_decontaminate

    docs = t["documents"]
    df = ngram_decontaminate(docs, docs.where("doc_id % 50 = 0"), n=5)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan            # eval grams broadcast
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert has_partial_aggregate(df)               # per-doc hit count map-side combined


def test_gapfill_spine_join_broadcasts(t):
    from duckdb_age_spark.operators.rollup import gapfill_hourly

    df = gapfill_hourly(t["events"])
    # tiny hour spine joins the hourly counts without reshuffling them
    assert has_broadcast_join(df), formatted_plan(df)


def test_corr_exact_single_partial_aggregated_shuffle(t, spark):
    from pyspark.sql import functions as F

    from duckdb_age_spark.operators.stats import corr_exact

    df = corr_exact(
        t["lineitem"], "l_returnflag",
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
    )
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_q4_semi_join_with_pushed_date_window(t):
    from duckdb_age_spark.operators.relational import q4_order_priority

    df = q4_order_priority(t["orders"], t["lineitem"])
    plan = formatted_plan(df)
    # EXISTS becomes a semi join (lineitem never materialized into the result)
    assert "LeftSemi" in plan, plan
    # the orders date window reaches the parquet scan
    assert any("o_orderdate" in p for p in pushed_filters(df)), pushed_filters(df)
    # lineitem scan reads only the join/residual columns
    schemas = read_schemas(df)
    assert any("l_shipdate" in s and "l_extendedprice" not in s for s in schemas), schemas


def test_pii_scrub_is_shuffle_free(t):
    from duckdb_age_spark.operators.text import pii_scrub

    assert count_exchanges(pii_scrub(t["documents"])) == 0


def test_balanced_sample_uses_group_limit(t):
    from duckdb_age_spark.operators.pipeline import balanced_sample

    df = balanced_sample(t["documents"], per_stratum=20)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert count_exchanges(df) <= 1


def test_rolling_1h_single_user_shuffle(t):
    from duckdb_age_spark.operators.rollup import rolling_window_1h

    df = rolling_window_1h(t["events"])
    # one exchange keyed by user_id, then a linear range-frame scan
    assert count_exchanges(df) <= 1
    schemas = read_schemas(df)
    # scan prunes to the 4 needed columns (no event_type/props)
    assert schemas and all("props" not in s and "event_type" not in s for s in schemas), schemas


def test_cms_cells_aggregate_is_partial_and_broadcast_joined(t):
    from duckdb_age_spark.operators.stats import cms_heavy_hitters

    df = cms_heavy_hitters(t["documents"], depth=4, width=512, k=10)
    # the 2048-cell sketch aggregate must map-side combine (that bounded
    # key space is the whole point of the sketch at 100 TB) and the cell
    # table must broadcast to the top-k probes, never shuffle-join them
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_knn_vote_scores_via_broadcast(t, spark, sf_dir):
    from duckdb_age_spark.operators.similarity import knn_label_vote

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = knn_label_vote(emb, [0, 1, 2], k=5)
    plan = formatted_plan(df)
    # query set reaches the corpus as a broadcast (nested-loop for the
    # cross-score); the corpus itself must not shuffle before scoring
    assert "BroadcastNestedLoopJoin" in plan or has_broadcast_join(df), plan


def test_label_centroids_bounded_shuffles(t, spark, sf_dir):
    from duckdb_age_spark.operators.similarity import label_centroid_cosines

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # the plan the operator ran before checkpointing its result
    df = label_centroid_cosines(emb)._pre_checkpoint_plan
    # corpus -> (label, dim) cells: one map-side-combined shuffle; the
    # pairwise-dot join runs on the tiny cell table via broadcast
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)
    assert count_executed_exchanges(df) <= 6, formatted_plan(df)


def test_chi_square_marginals_broadcast(t):
    from duckdb_age_spark.operators.stats import chi_square_independence

    df = chi_square_independence(t["orders"], "o_orderpriority", "o_orderstatus")
    # the contingency aggregate must map-side combine (cell space is
    # |A|x|B|, bounded regardless of data size) and every marginal/total
    # joins back via broadcast, never a shuffle join of tiny tables
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_benford_single_bounded_aggregate(t):
    from duckdb_age_spark.operators.stats import benford_check

    df = benford_check(t["orders"])
    # one 9-key aggregate with map-side partials; the grand total joins
    # back as a broadcast 1-row table
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 3, formatted_plan(df)


def test_copurchase_threshold_is_partial_aggregated(t):
    from duckdb_age_spark.operators.graph import copurchase_edges

    df = copurchase_edges(t["orders"], t["lineitem"], min_shared_parts=2)
    # pair-count aggregate after the part-keyed self-join must map-side
    # combine so the support threshold prunes before the final shuffle.
    # The returned frame is lineage-truncated (r15 — consumers re-read the
    # edge list several times per plan), so the assertable plan is the
    # pre-checkpoint one it carries.
    assert has_partial_aggregate(df._pre_checkpoint_plan)


def test_tfidf_keywords_group_limit_and_partial_agg(t):
    from duckdb_age_spark.operators.text import tfidf_keywords

    df = tfidf_keywords(t["documents"], k=3)
    plan = formatted_plan(df)
    # the (doc, token) count must map-side combine; the per-doc top-k must
    # pre-prune via WindowGroupLimit before the window shuffle
    assert has_partial_aggregate(df)
    assert "WindowGroupLimit" in plan, plan


def test_cohort_retention_partial_aggregated(t):
    from duckdb_age_spark.operators.relational import cohort_retention

    df = cohort_retention(t["orders"])
    # the (cohort, offset) count must map-side combine; the activity
    # distinct and the window-min share the o_custkey shuffle key
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 4, formatted_plan(df)


def test_entropy_bounded_aggregate_and_broadcast(t):
    from duckdb_age_spark.operators.stats import categorical_entropy

    df = categorical_entropy(t["events"], "event_type")
    # category count aggregate map-side combines into a bounded key space;
    # the grand total joins back as a broadcast single row
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_mixture_sample_broadcasts_quota_table(t):
    from duckdb_age_spark.operators.pipeline import mixture_sample

    df = mixture_sample(t["documents"], {"src0": 5, "src1": 3})
    assert has_broadcast_join(df)
    # one stratum-keyed shuffle for the rank; nothing else wide
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_weighted_sample_uses_group_limit(t):
    from duckdb_age_spark.operators.pipeline import weighted_sample

    df = weighted_sample(t["documents"], k=20)
    # the global top-k must short-circuit pre-shuffle: an unpartitioned
    # rank<=k window compiles to TakeOrderedAndProject (each executor
    # ships only its local k candidates); WindowGroupLimit is the
    # per-group analog — either is acceptable, a full global sort is not
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, plan


def test_gopher_screen_is_one_bounded_aggregate(t):
    from duckdb_age_spark.operators.text import gopher_quality_screen

    df = gopher_quality_screen(t["documents"])
    # rule flags are a narrow map; the census is one partial-aggregated
    # scalar — document text never shuffles
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_hashing_vectorizer_two_keyed_shuffles(t):
    from duckdb_age_spark.operators.text import hashing_vectorizer_digest

    df = hashing_vectorizer_digest(t["documents"])
    # (doc, bucket) count then per-doc reassembly — exactly two exchanges,
    # both map-side combined
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_order_concurrency_delta_shape(t):
    from duckdb_age_spark.operators.rollup import order_concurrency

    df = order_concurrency(t["orders"], t["lineitem"])
    # delta events aggregate map-side; the only Generate allowed is the
    # bounded day-spine explode off the 1-row bounds aggregate (never a
    # per-order interval explosion)
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") <= 1, plan


def test_hot_bucket_cap_broadcasts_hot_keys(t, spark, broadcast_off):
    from duckdb_age_spark.operators.dedup import minhash_lsh_pairs, planted_near_dup_corpus

    # the distributed plan (the small-corpus driver regime is off), as it
    # ran before checkpointing its result
    df = minhash_lsh_pairs(planted_near_dup_corpus(t["documents"]))._pre_checkpoint_plan
    # the hot-key list joins as a broadcast anti-join — the cap must never
    # introduce a wide shuffle of the banded rows
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_embedding_near_dup_join_parallelism_is_aqe_exempt(spark, sf_dir):
    """r13: the sign-bucket self-join's shuffle is byte-light but its
    output work (a 64-dim interpreted-HOF dot per candidate pair) is the
    cost — AQE's size heuristic coalesced the sf10 join to 2 tasks
    (174 s; 24 s after the fix).  The operator now repartitions on the
    bucket key with an EXPLICIT count, which AQE may not coalesce — pin
    that the REPARTITION_BY_NUM marker survives into the optimized plan
    (join TYPE is scale-dependent: AQE broadcasts the tiny side at test
    scale, shuffle-joins at sf10 — both fine; what must not regress is
    the explicit partitioning of the cached bucket table feeding it)."""
    from duckdb_age_spark.operators.dedup import (
        embedding_near_dup_pairs,
        planted_near_dup_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = embedding_near_dup_pairs(planted_near_dup_embeddings(emb), threshold=0.9)
    plan = formatted_plan(df._pre_checkpoint_plan)
    assert "REPARTITION_BY_NUM" in plan, plan[:2000]


def test_embedding_zscore_broadcasts_dim_stats(t, spark, sf_dir):
    from duckdb_age_spark.operators.similarity import embedding_zscore_digest

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = embedding_zscore_digest(emb)
    # per-dim stats (tiny key space) broadcast back onto the exploded rows
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_scd2_asof_lookup_single_window_shuffle(t):
    from duckdb_age_spark.operators.relational import scd2_asof_lookup

    df = scd2_asof_lookup(t["orders"])
    # the point-in-time filter adds NO exchange beyond the SCD2 build's
    # one custkey-keyed window shuffle
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_ohlc_single_partial_aggregated_shuffle(t):
    from duckdb_age_spark.operators.events import ohlc_candles

    df = ohlc_candles(t["events"])
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_heartbeat_uptime_reuses_user_partitioning(t):
    from duckdb_age_spark.operators.events import heartbeat_uptime

    df = heartbeat_uptime(t["events"])
    # lead window and the aggregate share the user_id key: one exchange,
    # not two
    assert count_exchanges(df) <= 1, formatted_plan(df)


def test_topk_similar_uses_group_limit(t):
    from duckdb_age_spark.operators.graph import topk_similar_customers

    edges = t["orders"].sparkSession.createDataFrame(
        [(1, 2, 5), (1, 3, 4)], "src long, dst long, shared_parts long"
    )
    plan = topk_similar_customers(edges)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_bloom_prefilter_broadcasts_filter(t):
    from duckdb_age_spark.operators.skew import bloom_prefilter_stats

    df = bloom_prefilter_stats(t["orders"], t["customer"])
    # the position set and the qualifying-key semi-join side both broadcast
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)


def test_incremental_agg_partials_combine(t):
    from duckdb_age_spark.sources.upsert import incremental_agg_merge

    df = incremental_agg_merge(t["orders"])
    assert has_partial_aggregate(df)
    # two partial aggregates + the merge: never more than 3 exchanges
    assert count_exchanges(df) <= 3, formatted_plan(df)


def test_autocorr_day_axis_stays_tiny(t):
    from duckdb_age_spark.operators.rollup import daily_autocorr

    df = daily_autocorr(t["events"])
    # the only corpus-sized work is the per-day count (partial-aggregated);
    # everything after runs on the bounded day axis
    assert has_partial_aggregate(df)


def test_revenue_share_broadcasts_nation_no_second_fact_pass(t):
    from duckdb_age_spark.operators.relational import revenue_share_by_nation

    df = revenue_share_by_nation(t["orders"], t["customer"], t["nation"])
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)
    # grouped aggregate + the window total over |nations| rows + sort:
    # the grand total must never rescan facts
    assert count_exchanges(df) <= 4, formatted_plan(df)


def test_transition_matrix_window_then_bounded_agg(t):
    from duckdb_age_spark.operators.relational import priority_transition_matrix

    df = priority_transition_matrix(t["orders"])
    assert has_partial_aggregate(df)
    # custkey window + |prio|^2 cell agg + row-share window + sort
    assert count_exchanges(df) <= 4, formatted_plan(df)


def test_degree_distribution_two_bounded_aggregates(t):
    from duckdb_age_spark.operators.graph import degree_distribution

    edges = t["orders"].sparkSession.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    df = degree_distribution(edges)
    assert has_partial_aggregate(df)


def test_sentence_stats_is_shuffle_free(t):
    from duckdb_age_spark.operators.text import sentence_stats

    assert count_exchanges(sentence_stats(t["documents"])) == 0


def test_welch_ttest_two_scalar_aggregates(t):
    from duckdb_age_spark.operators.stats import welch_ttest

    df = welch_ttest(t["orders"])
    assert has_partial_aggregate(df)
    # two one-row sufficient-stat aggregates + their cross join
    assert count_exchanges(df) <= 2, formatted_plan(df)
    # the scalar crossJoin is explicitly broadcast (VERDICT r7 item 6) —
    # same BroadcastNestedLoopJoin shape as every other scalar crossJoin
    assert "BroadcastNestedLoopJoin" in formatted_plan(df), formatted_plan(df)


def test_ivf_assign_is_partial_aggregate_not_window(spark, sf_dir):
    """VERDICT r5 item 3: nearest-centroid assignment must be a map-side
    combinable argmax aggregate, never a Window.partitionBy(vec_id) over the
    corpus x n_lists scored cross product (that window shuffled n_lists
    copies of every corpus vector per Lloyd iteration)."""
    from duckdb_age_spark.operators.similarity import _as_double, _assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
    cents = corpus.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    df = _assign(corpus, cents)
    plan = formatted_plan(df)
    assert "partial_max_by" in plan, plan
    assert "Window" not in plan, plan
    # one exchange (the final aggregate), carrying one row per vector
    assert count_exchanges(df) == 1, plan
    assert has_broadcast_join(df)


def test_ivf_topk_no_corpus_window(spark, sf_dir):
    """The full IVF query path keeps windows off the corpus side: the only
    Window nodes operate on the (broadcast-sized) query frame."""
    from duckdb_age_spark.operators.similarity import ivf_topk, queries_from_ids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = ivf_topk(emb, queries_from_ids(emb, [0, 1, 2]), k=5, n_lists=8, n_probe=2)
    plan = formatted_plan(df)
    assert "partial_max_by" in plan, plan


def test_hll_registers_partial_aggregate(t):
    """HLL register build must map-side combine: the shuffle carries at
    most m=2^b rows per partition no matter how large the input."""
    from duckdb_age_spark.operators.sketch import hll_registers

    df = hll_registers(t["events"], "event_id", b=8)
    assert has_partial_aggregate(df)
    # register build reads only the hashed column
    assert all("event_id" in s or s == "struct<>" for s in read_schemas(df))


def test_kmv_topk_uses_window_group_limit(t):
    """Per-group k-minima must run as WindowGroupLimit (per-partition
    partial top-k before the shuffle), not a full per-group sort."""
    from duckdb_age_spark.operators.sketch import kmv_minima

    df = kmv_minima(t["events"], "event_type", "user_id", k=64)
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in executed, executed


def test_decayed_revenue_partial_agg_and_broadcast_clamp(t):
    """Decayed revenue: explode + ONE partial-aggregated shuffle; the
    per-type max-day clamp joins broadcast, never shuffled."""
    from duckdb_age_spark.operators.events import decayed_revenue

    df = decayed_revenue(t["events"])
    assert has_partial_aggregate(df)
    assert has_broadcast_join(df)


def test_range_search_broadcasts_queries(spark, sf_dir):
    """Radius search: query side broadcast; corpus never shuffles (the
    only exchange is the presentation sort)."""
    from duckdb_age_spark.operators.similarity import queries_from_ids, range_search

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = range_search(emb, queries_from_ids(emb, [0, 1, 2]), tau=0.25)
    assert has_broadcast_join(df)
    assert count_exchanges(df) <= 1


def test_bootstrap_grid_is_mapside_only(spark, sf_dir):
    """Poisson bootstrap: the B x n grid explodes map-side; the only wide
    operation is the B-row partial-aggregated mean shuffle."""
    from duckdb_age_spark.operators.stats import poisson_bootstrap_ci

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = poisson_bootstrap_ci(orders, n_resamples=40)
    assert has_partial_aggregate(df)
    plan = formatted_plan(df)
    # no join anywhere in the resampling path (the final union with the
    # full mean is a union, not a join)
    assert "SortMergeJoin" not in plan


def test_pq_assignment_is_partial_aggregate_not_window(spark, sf_dir):
    """PQ nearest-code selection must be a min_by partial aggregate (the
    IVF lesson) — no Window over the corpus-side rows."""
    from duckdb_age_spark.operators.similarity import pq_codebook_stats

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = pq_codebook_stats(emb)
    plan = formatted_plan(df)
    assert "partial_min_by" in plan, plan
    assert "Window" not in plan, plan
    assert has_broadcast_join(df)


def test_boilerplate_screen_single_gram_pass(spark, sf_dir):
    """VERDICT r6 item 4: the gram-explode subtree feeds both the
    doc-frequency aggregate and the scoring join; it must be materialized
    once (localCheckpoint), not planned as two scan->split->explode passes.
    The executed plan therefore reads the checkpointed RDD (ExistingRDD)
    and contains NO parquet scan of documents and NO explode at all — gram
    generation ran exactly once, inside the checkpoint."""
    from duckdb_age_spark.operators.text import boilerplate_phrase_screen

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = boilerplate_phrase_screen(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]
    assert "Scan parquet" not in plan, plan[:2000]
    assert "Generate explode" not in plan, plan[:2000]


def test_tvd_drift_post_processing_is_one_chain(spark, sf_dir):
    """The drift monitor's per-type/per-window/grand totals must be window
    sums over ONE chain of the compacted counts — no aggregate+join
    consumers (the r7 first cut paid 13s of scheduling overhead at sf0.1
    for three joins over a 150-row table) and no checkpoint."""
    from duckdb_age_spark.streaming import stream_events, tvd_drift_update_drain

    df = tvd_drift_update_drain(stream_events(spark, sf_dir), window="1 day")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    assert plan.count("Window") >= 1


def test_markov_transition_cells_partial_aggregate(spark, sf_dir):
    """The Markov query's only corpus-scale stage: the transition-count
    aggregate must map-side combine (partial_count before the exchange),
    and the whole subtree is one window shuffle + one agg shuffle."""
    from duckdb_age_spark.operators.relational import transition_cells

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = transition_cells(orders)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan, plan[:2000]
    assert plan.count("Exchange") == 2, plan[:2000]


def test_flip_features_is_shuffle_free_mapinpandas(spark, sf_dir):
    """The flip stage itself must be pure mapInPandas; the only exchange
    in the contract query is the final small-output sort."""
    import __spark_entry__ as e

    df = e.queries()["multimodal_flip"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert plan.count("Exchange") == 1, plan[:2000]


def test_span_census_no_allpairs_and_partial_aggs(t):
    from duckdb_age_spark.operators.dedup import duplicated_span_census

    df = duplicated_span_census(t["documents"])
    plan = formatted_plan(df)
    # bucketed-by-hash, never all-pairs: no cartesian/nested-loop anywhere
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # both the hash-count and the per-doc rollup combine map-side
    assert has_partial_aggregate(df)
    # scan reads only (doc_id, text)
    schemas = read_schemas(df)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas), schemas


def test_ngram_novelty_partial_min_before_shuffle(t):
    from duckdb_age_spark.operators.pipeline import ngram_novelty

    df = ngram_novelty(t["documents"])
    plan = formatted_plan(df)
    assert has_partial_aggregate(df)  # MIN combines before the gram shuffle
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_hits_totals_broadcast_not_cartesian(t):
    from duckdb_age_spark.operators.graph import hits_scores

    edges = (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .select(
            (F.col("l_suppkey") + 1_000_000).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
    )
    df = hits_scores(edges, n_iter=2)
    plan = formatted_plan(df)
    # the four 1-row L1 totals come back as broadcast nested loops, never
    # a shuffled cartesian; the per-node sums combine map-side
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert has_partial_aggregate(df)


def test_attribution_single_user_shuffle(t):
    from duckdb_age_spark.operators.events import last_touch_attribution

    df = last_touch_attribution(t["events"])
    # one exchange for the per-user window, one for the channel rollup,
    # one for the final sort — nothing hidden
    assert count_exchanges(df) <= 3
    assert has_partial_aggregate(df)


def test_span_pairs_banded_join_not_allpairs(t):
    from duckdb_age_spark.operators.dedup import duplicated_span_pairs

    df = duplicated_span_pairs(t["documents"])
    plan = formatted_plan(df)
    # the pair join is keyed by anchor hash (SortMergeJoin/ShuffledHashJoin
    # on h) — never a cartesian over docs
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_mips_broadcasts_queries(spark, sf_dir):
    from duckdb_age_spark.operators.similarity import mips_topk, queries_from_ids
    from duckdb_age_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    df = mips_topk(emb, queries_from_ids(emb, [0, 1]), k=3)
    assert has_broadcast_join(df)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan  # top-k prunes before the full sort


def test_rfm_user_aggregate_partial_and_broadcast_max(t):
    from duckdb_age_spark.operators.events import rfm_segments

    df = rfm_segments(t["events"])
    assert has_partial_aggregate(df)  # per-user agg combines map-side
    assert has_broadcast_join(df)     # 1-row global max comes back broadcast


def test_audio_blocks_shuffle_free(t):
    from duckdb_age_spark.operators.multimodal import audio_block_features, synthesize_media

    df = audio_block_features(synthesize_media(t["documents"]))
    assert count_exchanges(df) == 0


def test_zipf_vocab_partial_agg_and_bounded_exchanges(t):
    from duckdb_age_spark.operators.text import zipf_slope

    df = zipf_slope(t["documents"])
    plan = formatted_plan(df)
    # (WindowGroupLimit does NOT fire here: the rank window is partition-
    # less, and Spark only plans the group-limit for partitioned windows —
    # the vocab table is already one aggregate's output, so the global
    # sort is over the post-combine vocab, not the corpus)
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)  # token count combines map-side
    # token-count shuffle, global rank sort, 1-row final agg — nothing more
    assert count_exchanges(df) <= 3


def test_cube_expands_mapside_single_exchange(t):
    """CUBE must fan out grouping levels via Expand BEFORE a partial
    aggregate, broadcast all three dimension joins, and pay exactly one
    agg exchange — the shuffle carries partial cells, not the fact rows."""
    from duckdb_age_spark.operators.relational import revenue_cube

    df = revenue_cube(t["orders"], t["customer"], t["nation"], t["region"])
    plan = formatted_plan(df)
    assert "Expand" in plan
    assert has_broadcast_join(df)
    assert has_partial_aggregate(df)
    # one agg exchange + the final orderBy range exchange, nothing else
    assert count_exchanges(df) <= 2


def test_pivot_is_one_conditional_aggregate(t):
    """Explicit pivot values must compile to a single aggregate pass (no
    value-discovery job, no join): one partial+final agg, one exchange
    (+ the orderBy range partition)."""
    from duckdb_age_spark.operators.relational import priority_pivot

    df = priority_pivot(t["orders"])
    plan = formatted_plan(df)
    assert "Join" not in plan
    assert has_partial_aggregate(df)
    assert count_exchanges(df) <= 2


def test_theil_sen_pairs_after_aggregate_only(t):
    """The pairwise self-join must sit ABOVE the daily aggregate (pairs
    are calendar-bounded, never corpus-bounded): exactly one partial
    aggregate over the scan, the non-equi pair join broadcasts, and no
    second scan of events (driver-side count would add one)."""
    from duckdb_age_spark.operators.stats import theil_sen_trend

    df = theil_sen_trend(t["events"])
    plan = formatted_plan(df)
    assert has_partial_aggregate(df)
    # the daily series is localCheckpoint-materialized, so the three
    # consumers re-read its blocks — at most the checkpoint's own single
    # parquet scan may appear, never one per consumer
    assert plan.count("Scan parquet") <= 1
    assert "BroadcastNestedLoopJoin" in plan


def test_importance_weights_single_vocab_pass(t):
    """The corpus and target unigram models must come from ONE
    map-side-combined aggregate (conditional sum), not two explode
    passes: exactly two parquet scans total (vocab pass + scoring
    join pass) and partial aggregation present."""
    from duckdb_age_spark.operators.pipeline import importance_weights

    df = importance_weights(t["documents"])
    plan = formatted_plan(df)
    assert has_partial_aggregate(df)
    # formatted plans print each scan twice (tree + detail): 2 logical
    # corpus scans -> 4 mentions; without the vocab materialization the
    # totals consumer adds a third explode pass (6 mentions)
    assert plan.count("Scan parquet") <= 4


def test_ahash_pairs_banded_join_not_allpairs(t):
    """The image near-dup join must be equi-keyed on (band, value)
    (BroadcastHashJoin/SortMergeJoin), never a cartesian over images,
    and the hash computation is a shuffle-free mapInPandas.

    ``ahash_dup_pairs`` wraps its feature table in a lazy
    ``localCheckpoint``, which renders as ``Scan ExistingRDD`` and hides
    the MapInPandas node from the pair plan — so the shuffle-free hash
    property is asserted on the pre-checkpoint ``ahash_features`` stage,
    and the pair plan is only required to be non-cartesian."""
    from duckdb_age_spark.operators.multimodal import (
        ahash_dup_pairs,
        ahash_features,
        synthesize_media,
    )

    media = synthesize_media(t["documents"])
    feat_plan = formatted_plan(ahash_features(media))
    assert "MapInPandas" in feat_plan
    assert "Exchange" not in feat_plan  # hash computation is shuffle-free

    df = ahash_dup_pairs(media)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_deletion_join_broadcasts_probes_no_corpus_shuffle(t):
    """The r12 fuzzy-linkage rewrite's scale contract: deletion variants
    are generated for DISTINCT names only, feed a BroadcastHashJoin (probe
    variants are the broadcast side), and the Sigma C(len,k) fan-out never
    shuffles — the only exchanges are the name distinct, the pre-explode
    repartition (AQE-coalesce guard), and the (probe, name)-level dedupe;
    physical rows come back via the expansion join on name (broadcast at
    this scale).  A SortMergeJoin on the VARIANT join would shuffle ~172x
    the distinct names at d=2."""
    from duckdb_age_spark.operators.dedup import fuzzy_name_pairs

    cust = t["customer"]
    probes = cust.where(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("probe_key"), F.col("c_name").alias("name")
    )
    records = cust.select(
        F.col("c_custkey").alias("match_key"), F.col("c_name").alias("name")
    )
    for d in (1, 2):
        df = fuzzy_name_pairs(records, probes, max_dist=d)
        plan = formatted_plan(df)
        assert has_broadcast_join(df), plan[:2000]
        assert "SortMergeJoin" not in plan, plan[:2000]
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
        # pre-explode repartition + post-join dedupe (+ the broadcast
        # exchange); anything more means the corpus variants are shuffling
        assert count_exchanges(df) <= 3, plan[:2000]


def test_fuzzy_large_probe_regime_shuffles_instead_of_broadcasting(t):
    """VERDICT r12 item 4: above the broadcast cap the probe x variants
    side must NOT be broadcast — auto falls back to a shuffle-hash join on
    vk (both sides exchange on the full-string variant key; no node holds
    the whole probe fan-out).  A 1-byte cap forces the large-probe path on
    the test fixture; the variant join must show as ShuffledHashJoin with
    no broadcast of the probe side, and an explicit bogus regime raises."""
    import pytest as _pytest

    from duckdb_age_spark.operators.dedup import fuzzy_name_pairs

    cust = t["customer"]
    probes = cust.where(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("probe_key"), F.col("c_name").alias("name")
    )
    records = cust.select(
        F.col("c_custkey").alias("match_key"), F.col("c_name").alias("name")
    )
    df = fuzzy_name_pairs(records, probes, max_dist=1, broadcast_cap_bytes=1)
    plan = formatted_plan(df)
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # same answer on both regimes (the fallback is a plan change only)
    bc = fuzzy_name_pairs(records, probes, max_dist=1, probe_regime="broadcast")
    sh_rows = {tuple(r) for r in df.collect()}
    bc_rows = {tuple(r) for r in bc.collect()}
    assert sh_rows == bc_rows and sh_rows
    with _pytest.raises(ValueError, match="probe_regime"):
        fuzzy_name_pairs(records, probes, probe_regime="bogus")


def test_cc_round_join_reuses_cached_edge_partitioning(spark, monkeypatch, broadcast_off):
    """r13 sf10 profile finding: every connected-components round is its own
    ACTION (the convergence check), so cross-round exchange reuse never
    applies and a plain persist() of the symmetric edge table re-shuffled
    AND re-sorted all 66M rows each round (526 MB shuffle-write x 6 rounds
    at sf10 - the dominant repeated cost in the report's stage profile).
    The loop table is the shared symmetric adjacency
    (iterate.symmetric_adjacency: repartition(N, src) +
    sortWithinPartitions, cached), so a round's sort-merge join must
    consume the cache DIRECTLY: no Exchange and no Sort between the join
    and the InMemoryTableScan on the edge side (the frontier side still
    exchanges - it is the small, shrinking table, O(|frontier|) per round
    instead of O(|edges|)).

    ADVICE r13: the test drives connected_components ITSELF with a
    recording wrapper around the adjacency helper, and builds the round
    join with the superstep's own message step (iterate._messages) over
    the very cached frame the operator used (reverting the cache, or
    changing its key, fails here).  ``broadcast_off`` pins the
    large-frontier (sort-merge) regime that sf10 actually runs - with a
    small frontier AQE broadcasts and the edge cache needs no partitioning
    at all, which is fine but not the regime under test - and keeps this
    50k-edge graph off the small-graph driver regime."""
    import re

    from duckdb_age_spark.operators import dedup as dedup_mod
    from duckdb_age_spark.operators.iterate import _messages, symmetric_adjacency

    calls: list = []

    def recording(edges, *carry):
        out = symmetric_adjacency(edges, *carry)
        calls.append(out)
        return out

    monkeypatch.setattr(dedup_mod, "symmetric_adjacency", recording)
    edges = spark.range(0, 50_000).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    nodes = spark.range(0, 50_001).select(F.col("id"))
    result = dedup_mod.connected_components(edges, nodes, max_iter=2)
    # the operator must route its loop table through the shared helper
    assert len(calls) == 1, calls
    adj = calls[0]
    # the operator unpersists on exit (cache hygiene, r14) — re-persist
    # the SAME frame to reconstruct the round-join physical plan the
    # loop executed, then assert the cache side joins with no Exchange
    # and no Sort (InMemoryTableScan feeds SortMergeJoin directly)
    adj = adj.persist()
    try:
        # materialize the re-registered cache first — exactly what the
        # operator's join-free first round does; an unmaterialized AQE
        # cached plan does not expose outputPartitioning yet
        adj.count()
        frontier = result.select(F.col("id").alias("node"), F.col("cluster_id").alias("label"))
        prop = _messages(frontier, adj, "label", F.col("label"))
        plan = prop._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"SortMergeJoin[^\n]*\n\s*:- InMemoryTableScan", plan), plan[:1500]
    finally:
        adj.unpersist()


def test_exact_rank_stats_use_value_histograms_not_row_windows(t):
    """r15: the exact-rank stats family runs rank selection over VALUE
    HISTOGRAMS (groupBy(value).count() + cumulative-count window over the
    distinct values — the mann_whitney pattern), never a row_number/ntile
    window over raw rows.  A raw-row rank window puts an entire group (or
    for the global ones, the entire table) through ONE window task — the
    single-task-sort scale defect this rewrite removed.  Pin: no
    row_number/ntile anywhere in these plans, and every Window is fed by
    an aggregate (partial_count visible upstream)."""
    from duckdb_age_spark.operators.stats import (
        gini_coefficient,
        ks_two_sample,
        mad_outliers,
        psi_drift,
        quantile_binning,
        quantile_interp,
        winsorized_stats,
    )

    frames = {
        "mad": mad_outliers(t["lineitem"]),
        "winsor": winsorized_stats(t["lineitem"]),
        "binning": quantile_binning(t["orders"]),
        "interp": quantile_interp(t["events"]),
        "ks": ks_two_sample(t["orders"]),
        "psi": psi_drift(t["orders"]),
        "gini": gini_coefficient(t["orders"]),
    }
    for name, df in frames.items():
        plan = formatted_plan(df)
        assert "row_number" not in plan, f"{name}: raw-row rank window came back"
        assert "ntile(" not in plan, f"{name}: ntile window came back"
        assert has_partial_aggregate(df), f"{name}: histogram lost its map-side combine"


def test_histogram_stats_are_single_scan(t):
    """r15 optimization round: the histogram-stats family reads its input
    table exactly ONCE per call.  The first cut of the histogram rewrite
    branched the DAG (thresholds/totals/cuts as separate consumers of the
    histogram), so mad_outliers scanned lineitem 4x and psi_drift scanned
    orders 8x per invocation; totals and rank cuts now ride the same
    single-task window pass (unbounded frame, F.min(when(cum >= rk, v))),
    so a reappearing second scan is a regression."""
    from duckdb_age_spark.operators.events import pareto_share, time_to_convert
    from duckdb_age_spark.operators.stats import (
        gini_coefficient,
        ks_two_sample,
        mad_outliers,
        psi_drift,
        quantile_binning,
        quantile_interp,
        winsorized_stats,
    )
    from duckdb_age_spark.plans import count_scans

    frames = {
        "mad": mad_outliers(t["lineitem"]),
        "winsor": winsorized_stats(t["lineitem"]),
        "binning": quantile_binning(t["orders"]),
        "interp": quantile_interp(t["events"]),
        "ks": ks_two_sample(t["orders"]),
        "psi": psi_drift(t["orders"]),
        "gini": gini_coefficient(t["orders"]),
        "pareto": pareto_share(t["events"]),
        "ttc": time_to_convert(t["events"]),
    }
    for name, df in frames.items():
        n = count_scans(df)
        assert n == 1, f"{name}: expected a single source scan, plan has {n}"


def test_approx_percentile_check_exact_side_is_histogram_not_sort_buffer(t):
    """r15 optimization round: the exact reference percentile runs over a
    value histogram (rank selection + lo+(hi-lo)*frac interpolation), not
    the ``percentile()`` aggregate that buffers and sorts every group's
    values in one aggregation state (a data-sized single-task sort per
    group at scale).  The GK sketch aggregate stays; the exact string
    ``percentile(`` reappearing in the plan is the regression."""
    from duckdb_age_spark.operators.stats import approx_percentile_check
    from duckdb_age_spark.plans import formatted_plan

    plan = formatted_plan(approx_percentile_check(t["lineitem"]))
    assert "percentile_approx" in plan
    assert "percentile(" not in plan, "exact percentile() sort-buffer came back"
    assert "row_number" not in plan


def test_global_topk_sites_plan_take_ordered_not_single_task_windows(t):
    """r15: every exact top-k over a data-proportional frame plans
    TakeOrderedAndProject (bounded per-task heaps) via operators/topk.py,
    never a partition-less rank window over the frame — Spark's
    WindowGroupLimit does not fire for unpartitioned windows, so the old
    row_number+filter shape was a single-task full sort.  The only Window
    allowed in these plans is the k-row re-rank after the limit."""
    from duckdb_age_spark.operators.graph import (
        clustering_coefficient,
        community_modularity,
        copurchase_edges,
        label_propagation,
        link_prediction,
    )
    from duckdb_age_spark.operators.pipeline import (
        bigram_lift,
        bpe_pair_stats,
        mixture_sample,
        vocab_topk,
        weighted_sample,
    )
    from duckdb_age_spark.operators.text import bm25_topk, boilerplate_phrase_screen

    edges = copurchase_edges(t["orders"], t["lineitem"])
    frames = {
        "weighted_sample": weighted_sample(t["documents"]),
        "vocab_topk": vocab_topk(t["documents"]),
        "bpe_pairs": bpe_pair_stats(t["documents"]),
        "bigram_lift": bigram_lift(t["documents"]),
        "bm25": bm25_topk(t["documents"], ["data"]),
        "boilerplate": boilerplate_phrase_screen(t["documents"]),
        "clustering_coeff": clustering_coefficient(edges),
        "modularity": community_modularity(edges, label_propagation(edges, rounds=1)),
        "link_prediction": link_prediction(edges),
    }
    for name, df in frames.items():
        plan = formatted_plan(df)
        assert "TakeOrderedAndProject" in plan, f"{name}: top-k lost TakeOrderedAndProject"

    # mixture_sample keeps a per-stratum rank window, but the literal
    # max-quota conjunct must let Spark plan the per-map-task group limit
    plan = formatted_plan(mixture_sample(t["documents"], {"web": 5, "wiki": 3}, "source"))
    assert "WindowGroupLimit" in plan, "mixture_sample: literal bound stopped planning WindowGroupLimit"


def test_signature_pass_spread_replaces_agg_exchange(spark):
    """r16: minhash/simhash hash-repartition a FEW-SPLIT doc input to the
    core count before the explode+md5 pass (input splits are sized for scan
    bytes, not hashing CPU — the sf1 profile ran the dominant stage on 2 of
    32 cores).  Because the spread is keyed on doc_id, it must REPLACE the
    groupBy(doc_id) exchange, not add one: exactly ONE shuffle exchange,
    and it carries the pre-explode doc rows."""
    from duckdb_age_spark.operators.dedup import minhash_signatures, simhash

    docs = spark.createDataFrame(
        [(i, f"w{i} " * 40) for i in range(64)], "doc_id long, text string"
    ).coalesce(1)
    for df in (minhash_signatures(docs), simhash(docs)):
        assert count_exchanges(df) == 1
        plan = formatted_plan(df)
        assert "hashpartitioning(doc_id" in plan
    # an input that already has >= cores partitions is passed through
    wide = spark.createDataFrame(
        [(i, f"w{i} " * 40) for i in range(64)], "doc_id long, text string"
    ).repartition(64, "doc_id")
    assert count_exchanges(minhash_signatures(wide)) == 1  # only the agg's own

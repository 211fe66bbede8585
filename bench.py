#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Includes two crypto-throughput microbenches comparable to the reference's
published ~50-100 MB/s single-core encrypt claim (BASELINE.md):
  * crypto_encrypt_bulk — 1 MiB payloads (streaming-throughput shape)
  * crypto_roundtrip_rows — per-row overhead shape over documents
Their MB/s figures are reported under "extra".
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())))

BENCH_QUERIES = [
    "age_roundtrip",
    "age_multi_roundtrip",
    "text_doc_stats",
    "text_fingerprints",
    "text_bm25_topk",
    "dedup_exact",
    "dedup_clusters",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "dedup_embedding_pairs",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "sim_topk_kmeans",
    "streaming_join",
    "events_tumbling",
    "events_sliding",
    "events_sessions",
    "events_funnel",
    "pipeline_sample_split",
    "pipeline_pack",
    "pipeline_quality_topk",
    "pipeline_decontaminate",
    "text_unigram_logprob",
    "text_pii_scrub",
    "text_repetition",
    "dedup_fuzzy_names",
    "dedup_fuzzy_names_d2",
    "events_gapfill",
    "events_rolling_1h",
    "pipeline_balanced_sample",
    "window_balance_analytics",
    "stats_price_histogram",
    "stats_corr_exact",
    "stats_label_centroids",
    "sketch_cms_heavy_hitters",
    "sketch_approx_percentile",
    "sim_knn_label_vote",
    "pipeline_vocab_topk",
    "setops_full_outer_reconcile",
    "events_session_window",
    "sink_schema_evolution",
    "graph_pagerank",
    "layout_zorder_stats",
    "pipeline_bpe_pairs",
    "tpch_q1",
    "tpch_q2",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "top_customers",
    "order_priority",
    "skew_salted_agg",
    "skew_salted_join",
    "asof_join",
    "rollup_timebuckets",
    "streaming_windowed",
    "multimodal_features",
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_audio_stats",
    "graph_copurchase",
    "graph_triangles",
    "graph_triangles_degree",
    "scd2_priority_history",
    "stats_linreg",
    "stats_winsorized",
    "sim_int8_quantize",
    "sim_topk_int8",
    "graph_bfs_hops",
    "stats_chi_square",
    "stats_benford",
    "graph_edge_jaccard",
    "stats_mad_outliers",
    "text_tfidf_keywords",
    "pipeline_mixture_sample",
    "streaming_distinct_users",
    "relational_cohort_retention",
    "stats_entropy",
    "graph_weighted_pagerank",
    "text_bigram_logprob",
    "rollup_time_weighted_avg",
    "asof_forward_tolerance",
    "rollup_order_concurrency",
    "scd2_asof_lookup",
    "pipeline_weighted_sample",
    "stats_quantile_binning",
    "sim_embedding_zscore",
    "graph_kcore",
    "dedup_ngram_verify",
    "text_quality_screen",
    "text_hashing_vec",
    "stats_ks_test",
    "stats_gini",
    "graph_label_propagation",
    "events_ohlc",
    "events_uptime",
    "graph_topk_similar",
    "streaming_ohlc",
    "skew_bloom_prefilter",
    "upsert_incremental_agg",
    "events_time_to_convert",
    "rollup_autocorr",
    "stats_psi_drift",
    "events_stickiness",
    "pipeline_dedup_report",
    "pipeline_pack_efficiency",
    "graph_degree_distribution",
    "stats_welch_ttest",
    "events_pareto_share",
    "relational_revenue_share",
    "text_sentence_stats",
    "text_langid_confusion",
    "relational_transition_matrix",
    "graph_assortativity",
    # round 6
    "sketch_hll_distinct",
    "sketch_kmv_distinct",
    "sketch_kmv_union",
    "pipeline_doc_chunking",
    "pipeline_kfold_split",
    "events_decayed_revenue",
    "stats_quantile_interp",
    "graph_clustering_coeff",
    "multimodal_image_histogram",
    "text_readability",
    "sim_range_search",
    "graph_weighted_sssp",
    "stats_bootstrap_ci",
    "dedup_containment",
    "streaming_topk_users",
    "text_boilerplate_screen",
    "rollup_anomaly_z",
    "sink_bucketed_join",
    "multimodal_wav_resample",
    "sketch_hll_merge",
    "graph_modularity",
    "sim_pq_codebook",
    "events_dow_seasonality",
    "graph_link_prediction",
    "scd2_apply_changes",
    "rollup_acf_multi_lag",
    "events_burstiness",
    "stats_mann_whitney",
    "sink_encrypted_partitioned",
    "sink_encrypted_blobs",
    "relational_share_of_parent",
    "stats_spearman",
    "dedup_threshold_sweep",
    "pipeline_bigram_lift",
    "text_source_tv_distance",
    "events_funnel_conversion",
    "stats_grouped_trend",
    # round 7
    "relational_markov_steady",
    "streaming_tvd_drift",
    "multimodal_flip",
    # round 8
    "text_substring_dedup",
    "pipeline_ngram_novelty",
    "graph_hits",
    "streaming_ewma_hourly",
    "events_attribution",
    "dedup_span_pairs",
    "sim_topk_mips",
    "events_rfm_segments",
    "multimodal_audio_blocks",
    "text_zipf_slope",
    "streaming_hll_users",
    "dedup_span_clusters",
    "events_cusum_shift",
    "relational_cube_revenue",
    "relational_pivot_priority",
    "stats_theil_sen",
    "sketch_kmv_intersection",
    "pipeline_importance_weights",
    "graph_harmonic_closeness",
    "multimodal_ahash_pairs",
]


def _kernel_bench() -> dict[str, float]:
    """Single-core crypto kernel throughput, measured in-process with no
    Spark/Arrow/JVM in the loop.

    Runs BEFORE the Spark JVM is launched so the figure is as close to
    idle-core as this box gets.  Each sample is the minimum over several
    repetitions — the contention-robust estimator for a CPU-bound
    microbench (any scheduler preemption only inflates a sample, never
    deflates it).  This is the number comparable to the reference's
    published 50-100 MB/s single-core encrypt claim (BASELINE.md); the
    Spark-path figures below it additionally pay JVM->Arrow->Python
    transfer of every payload byte.
    """
    from duckdb_age_spark.contract import KP1
    from duckdb_age_spark.crypto import format as _fmt
    from duckdb_age_spark.crypto import keys as _keys

    pub = _keys.parse_recipient(KP1.public_key)
    priv = _keys.parse_identity(KP1.private_key)

    out: dict[str, float] = {}

    # per-row shape: 2 KiB payloads (documents-table scale) -> us/row
    pt_row = b"x" * 2048
    for _ in range(20):  # warm (key-cache, allocator)
        _fmt.decrypt(_fmt.encrypt(pt_row, [pub]), priv)
    n_rows = 200
    enc_best = dec_best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        cts = [_fmt.encrypt(pt_row, [pub]) for _ in range(n_rows)]
        enc_best = min(enc_best, time.perf_counter() - t0)
        t0 = time.perf_counter()
        for ct in cts:
            _fmt.decrypt(ct, priv)
        dec_best = min(dec_best, time.perf_counter() - t0)
    out["kernel_encrypt_us_per_row"] = round(enc_best / n_rows * 1e6, 1)
    out["kernel_decrypt_us_per_row"] = round(dec_best / n_rows * 1e6, 1)

    # bulk shape: 1 MiB payloads -> MB/s per core
    pt_bulk = b"x" * (1024 * 1024)
    for _ in range(3):
        _fmt.decrypt(_fmt.encrypt(pt_bulk, [pub]), priv)
    n_blocks = 32
    enc_best = dec_best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        cts = [_fmt.encrypt(pt_bulk, [pub]) for _ in range(n_blocks)]
        enc_best = min(enc_best, time.perf_counter() - t0)
        t0 = time.perf_counter()
        for ct in cts:
            _fmt.decrypt(ct, priv)
        dec_best = min(dec_best, time.perf_counter() - t0)
    out["kernel_encrypt_mb_per_s_per_core"] = round(n_blocks / enc_best, 1)
    out["kernel_decrypt_mb_per_s_per_core"] = round(n_blocks / dec_best, 1)
    return out


def contention_reasons(load_start: list[float], load_end: list[float], cpus: int) -> list[str]:
    """Pure contention rule: the run is compared only with itself and the
    box's core count, never with figures calibrated on other hardware.  A
    snapshot is tainted when

    * the 1- or 5-minute load average at start exceeds ``cpus / 2`` (the
      5-minute figure catches a run started seconds after heavy jobs, when
      the 1-minute one has already decayed);
    * the 1-minute load at end exceeds ``cpus`` (it includes this run's own
      just-stopped executors, so only load well beyond them flags).

    The single-core encrypt brackets are reported, not judged: two quiet
    runs of one tree read +36 % start-to-end drift on the 4-core box.  A
    missing load average (``os.getloadavg`` unavailable) never tags."""
    reasons = []
    for window, load in zip(("1m", "5m"), load_start[:2]):
        if load > cpus / 2:
            reasons.append(f"load_avg_{window}={load}>{cpus / 2}")
    if load_end and load_end[0] > cpus:
        reasons.append(f"load_avg_1m_end={load_end[0]}>{cpus}")
    return reasons


def main() -> None:
    # Kernel microbench first: pre-JVM is the quietest this process gets,
    # and the load average brackets make any residual noise self-documenting.
    try:
        load_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_start = []
    kernel = _kernel_bench()

    from pyspark.sql import SparkSession, functions as F

    # Session conf comes from the ENGINE's published recipe (VERDICT r15
    # item 3: one source of truth for bench, scripts, and users — the bench
    # measures exactly the session a library user gets).  The recipe's
    # rationale, incl. the preferSortMergeJoin=false join baseline, lives in
    # duckdb_age_spark/conf.py; shuffle partitions are the core count here
    # because AQE coalescing owns reduce sizing in local mode (guide §2.2).
    from duckdb_age_spark.conf import apply_recommended_conf

    builder = apply_recommended_conf(
        SparkSession.builder.master(f"local[{CPUS}]").appName("duckdb-age-spark-bench"),
        shuffle_partitions=CPUS,
    )
    builder = (
        builder
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # The recipe put the JVM jar on the classpath (absent without a JDK), so
    # size-based routing (SCALING.md, sources/encrypted.py) can engage for
    # the large-payload sink queries; without it the bench runs the Python
    # path.
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    jvm_registered = False
    try:
        from duckdb_age_spark.jvm import register_jvm_crypto

        register_jvm_crypto(spark)
        jvm_registered = True
    except Exception:
        pass

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.1

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    extra["jvm_crypto_registered"] = jvm_registered

    # Warm the Python worker pool once (first pandas-UDF stage pays ~100ms
    # per worker spawn across all cores; that's session setup, not a query).
    from duckdb_age_spark.contract import KP1 as _KP1
    from duckdb_age_spark.register import register as _register

    _register(spark)
    spark.range(CPUS * 4).repartition(CPUS).select(
        F.call_function("age_encrypt", F.lit(b"warmup"), F.lit(_KP1.public_key))
    ).count()

    # -- contract queries --------------------------------------------------
    # Median of REPS runs per query: this box runs concurrent JVMs and
    # single-shot timings swing 2-3×; the median is the stable figure the
    # round-over-round comparison needs.  Streaming entries checkpoint, so
    # rerunning them measures the same work each time (fresh temp sink).
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    extra["reps"] = reps
    # Standing cache-hygiene gate (VERDICT r14 item 2): after each benched
    # query, the CacheManager must be EMPTY — an operator that returns a
    # plan pinning an internal persist leaks it for the session lifetime,
    # accumulating across this very sweep and skewing later medians (the
    # r13/r14 bug class).  Checking isEmpty() is one JVM call per query, so
    # the full benched surface is re-audited on every snapshot instead of
    # only in the opt-in pytest sweep; any leak is contained (clearCache)
    # so it cannot skew the remaining timings, and named in the snapshot.
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    cache_leakers: list[str] = []
    # The ~38 contract queries NOT in BENCH_QUERIES get a hygiene-ONLY
    # pass at sf0.001 (tiny — under a minute total) so the standing gate
    # covers the FULL 229-query contract surface every snapshot, not just
    # the benched 193.  No timing is recorded for these; leaks are named
    # with a "preflight:" prefix to distinguish them from benched leaks.
    hygiene_dir = os.environ.get("SPARK_GRAFT_HYGIENE_DIR", "/root/testdata/sf0.001")
    t_hyg = time.time()
    if os.path.isdir(hygiene_dir):
        for name in qs:
            if name in BENCH_QUERIES:
                continue
            try:
                qs[name](spark, hygiene_dir).count()
            except Exception as exc:  # a broken query is its own signal
                cache_leakers.append(f"preflight-error:{name}:{type(exc).__name__}")
                spark.catalog.clearCache()
                continue
            if not cache_mgr.isEmpty():
                cache_leakers.append(f"preflight:{name}")
                spark.catalog.clearCache()
    extra["hygiene_preflight_sec"] = round(time.time() - t_hyg, 1)
    for name in BENCH_QUERIES:
        samples = []
        for _ in range(reps):
            t0 = time.time()
            n = qs[name](spark, SF_DIR).count()
            samples.append(time.time() - t0)
        timings[name] = round(sorted(samples)[len(samples) // 2], 3)
        extra[f"rows_{name}"] = n
        if not cache_mgr.isEmpty():
            cache_leakers.append(name)
            spark.catalog.clearCache()
    extra["cache_leakers"] = cache_leakers
    if cache_leakers:
        print(f"bench: CACHE HYGIENE VIOLATION: {cache_leakers}", file=sys.stderr)

    # -- crypto throughput microbenches ------------------------------------
    # Crypto wall-times get extra reps: BENCH_r02 showed a phantom 2.4x
    # "regression" on crypto_roundtrip_rows that was concurrent-JVM
    # scheduler noise (judge re-measured 92us/row idle); more samples pull
    # the median back toward the real cost.
    crypto_reps = max(reps, 7)
    extra["crypto_reps"] = crypto_reps

    from duckdb_age_spark.contract import KP1

    # bulk: 1 MiB payloads (streaming shape; reference claims 50-100 MB/s/core)
    n_blobs, blob_mib = 4 * CPUS, 1
    bulk = spark.range(n_blobs).select(
        F.expr(f"repeat('x', {blob_mib * 1024 * 1024})").cast("binary").alias("payload")
    )
    bulk = bulk.repartition(CPUS).cache()
    bulk.count()
    enc = bulk.select(
        F.octet_length(
            F.call_function("age_encrypt", F.col("payload"), F.lit(KP1.public_key))
        ).alias("n")
    )
    # First large-payload pass warms the worker pool's big-buffer path
    # (measured: 22s → 2s steady state in local mode); report steady state
    # and keep the cold figure in extras.
    t0 = time.time()
    enc.agg(F.sum("n")).collect()
    cold = time.time() - t0
    samples = []
    for _ in range(crypto_reps):
        t0 = time.time()
        enc.agg(F.sum("n")).collect()
        samples.append(time.time() - t0)
    dt = sorted(samples)[len(samples) // 2]
    timings["crypto_encrypt_bulk"] = round(dt, 3)
    total_mb = n_blobs * blob_mib
    extra["encrypt_bulk_cold_sec"] = round(cold, 3)
    extra["encrypt_bulk_mb_per_s"] = round(total_mb / dt, 1)
    extra["encrypt_bulk_mb_per_s_per_core"] = round(total_mb / dt / CPUS, 1)
    bulk.unpersist()

    # -- size-based crypto routing evidence (VERDICT r8 item 7) ------------
    # The encrypted sink routes per column by probed median payload size
    # (sources/encrypted.py): ≥64 KiB → executor-JVM cipher when
    # registered, below → Arrow-batched Python.  Record the route each
    # fixture actually took so BENCH_r*.json is the routing's evidence,
    # not just SCALING.md's prose.
    import shutil
    import tempfile

    from duckdb_age_spark.sources.encrypted import write_encrypted

    sink_dir = tempfile.mkdtemp(prefix="age_route_")
    try:
        big = spark.range(2 * CPUS).select(
            "id", F.expr("repeat('b', 262144)").alias("payload")  # 256 KiB
        )
        small = spark.range(2 * CPUS).select(
            "id", F.expr("repeat('s', 2048)").alias("payload")  # 2 KiB
        )
        t0 = time.time()
        r_big = write_encrypted(big, f"{sink_dir}/big", ["payload"], KP1.public_key)
        extra["route_256KiB"] = r_big["payload"]
        extra["route_256KiB_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        r_small = write_encrypted(small, f"{sink_dir}/small", ["payload"], KP1.public_key)
        extra["route_2KiB"] = r_small["payload"]
        extra["route_2KiB_sec"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(sink_dir, ignore_errors=True)

    # per-row: encrypt+decrypt round-trip over real documents
    # repartition: the sf0.1 parquet is a single split, which would serialize
    # the UDF onto one core — at target scale the input arrives in thousands
    # of partitions, so the parallel shape is the representative one.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("text").cast("binary").alias("payload")
    )
    docs = docs.repartition(CPUS).cache()
    n_rows = docs.count()
    n_bytes = docs.agg(F.sum(F.octet_length("payload"))).collect()[0][0]
    rt = docs.select(
        F.call_function(
            "age_decrypt",
            F.call_function("age_encrypt", F.col("payload"), F.lit(KP1.public_key)),
            F.lit(KP1.private_key),
        ).alias("pt")
    )
    # Median of reps, same policy as the contract queries above: the first
    # execution pays one-time python-worker ramp for the chained two-UDF
    # stage (measured 5.9s cold vs 1.3s steady at sf0.1); report the steady
    # state and keep the cold figure in extras.
    samples = []
    for _ in range(crypto_reps):
        t0 = time.time()
        rt.agg(F.sum(F.octet_length("pt"))).collect()
        samples.append(time.time() - t0)
    dt = sorted(samples)[len(samples) // 2]
    timings["crypto_roundtrip_rows"] = round(dt, 3)
    extra["roundtrip_cold_sec"] = round(samples[0], 3)
    extra["roundtrip_rows_per_s"] = round(n_rows / dt, 1)
    extra["roundtrip_mb_per_s"] = round(n_bytes / 1e6 / dt, 2)
    docs.unpersist()

    try:
        load_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load_end = []
    # Second kernel control AFTER the sweep (VERDICT r6 item 8): the box
    # has drifted hundreds of MB/s/core at idle within one session, so one
    # pre-run control can't tell box drift from a code regression; the
    # pair is reported next to the run.  Stop the Spark session FIRST — the first r7 run
    # measured 610 MB/s/core with executor threads still settling vs 950
    # pre-JVM on the same box; post-stop the control is symmetric with the
    # pre-JVM one (min-of-reps only ever inflates under contention).
    # Drop this run's pid-keyed bucketed tables while the session is still
    # alive — the contract's atexit hook is a no-op once spark.stop() has
    # run, which is exactly what happens next (ADVICE r7).
    try:
        from duckdb_age_spark import contract as _contract

        for _t in _contract._BUCKETED_CLEANUP:
            spark.sql(f"DROP TABLE IF EXISTS {_t}")
    except Exception:
        pass  # best-effort: bench numbers must not depend on catalog state
    spark.stop()
    kernel_end = _kernel_bench()
    # judged once, after the run: a tainted run is tagged, not held back
    contended_reasons = contention_reasons(load_start, load_end, CPUS)
    if contended_reasons:
        print("BENCH BOX CONTENDED: " + "; ".join(contended_reasons), file=sys.stderr)
    extra["contended"] = contended_reasons
    extra["load_avg_start"] = load_start
    extra["load_avg_end"] = load_end
    extra.update(kernel)
    extra.update({f"end_{k}": v for k, v in kernel_end.items()})
    # Embed the latest payload-size sweep (scripts/payload_sweep.py) so the
    # committed BENCH_extra.json records the python-vs-JVM crypto-path
    # throughput at 2 KiB / 64 KiB / 1 MiB (VERDICT r7 item 3).  The sweep
    # needs its own session (the UDF jar must be on the driver classpath at
    # JVM launch), so it runs separately and bench just carries the file.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "PAYLOAD_SWEEP.json")) as f:
            extra["payload_sweep"] = json.load(f)
    except (OSError, ValueError):
        pass

    total = round(sum(timings.values()), 3)
    # The driver tail-captures stdout and parses the LAST line as JSON: keep
    # that line small (headline only — no per-query row counts).  The full
    # detail (row counts, MB/s figures) goes to stderr and BENCH_extra.json
    # so a human can still diff it.
    detail = {"queries": timings, "extra": extra, "sf": sf, "total_sec": total}
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_extra.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError:
        pass
    print(json.dumps(detail), file=sys.stderr)
    headline = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # Idle single-core kernel figures as first-class fields: the
        # wall-time medians above swing 2-3x with concurrent JVMs on this
        # box (BENCH_r02's phantom crypto regression); these are measured
        # pre-JVM with min-of-reps and are the stable round-over-round
        # crypto signal.  load_avg documents how noisy the run was.
        "kernel": kernel,
        # the same control re-measured after the sweep (stopped session)
        "kernel_end": kernel_end,
        "load_avg": {"start": load_start, "end": load_end},
        # non-empty list = this snapshot was taken on a contended box and
        # must not be read as a round-over-round regression signal
        "contended": contended_reasons,
        # standing hygiene gate (VERDICT r14 item 2): count of benched
        # queries that left a pinned CacheManager entry (names in
        # BENCH_extra.json's cache_leakers); MUST be 0 on a clean snapshot
        "cache_leaks": len(cache_leakers),
    }
    line = json.dumps(headline)
    # The driver captures only the LAST ~2000 chars of stdout and parses the
    # final line as JSON — a headline longer than the window gets its FRONT
    # cut off and fails to parse (BENCH_r03's "tail" field shows exactly
    # that: valid-looking JSON starting mid-stream).  So the budget is the
    # WINDOW size with margin, not 4 KiB: keep the crypto signal plus the
    # slowest queries, dropping entries until the line fits.  Full per-query
    # detail always lands in BENCH_extra.json regardless.
    BUDGET = 1800
    if len(line) > BUDGET:
        crypto = [k for k in ("crypto_encrypt_bulk", "crypto_roundtrip_rows") if k in timings]
        rest = sorted(
            (k for k in timings if k not in crypto), key=lambda k: -timings[k]
        )
        headline["n_queries"] = len(timings)
        # descending keep counts ending at an explicit 0 (crypto-only), so a
        # fitting line is guaranteed if the fixed fields fit at all; the
        # final fallback drops the queries dict entirely rather than ever
        # printing an oversized line (the BENCH_r03 failure mode).
        # coarse 5-steps down, then fine 1-steps through the last few so a
        # small queries dict that WOULD fit is never skipped over
        for keep in [*range(len(rest) - 1, 4, -5), *range(min(4, len(rest) - 1), -1, -1)]:
            headline["queries"] = {k: timings[k] for k in crypto + sorted(rest[:keep])}
            line = json.dumps(headline)
            if len(line) <= BUDGET:
                break
        if len(line) > BUDGET:
            headline["queries"] = {}
            line = json.dumps(headline)
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()

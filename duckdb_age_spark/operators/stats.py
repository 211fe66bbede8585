"""Statistical summary operators with cross-engine-exact arithmetic.

The discipline these operators share (and that `operators/text.py`'s
quality score established): never oracle-compare a float that an engine
ROUNDED — either keep values as exact integers end-to-end, or emit the
unrounded double produced by identical IEEE operations on identical exact
integers.  Sums of doubles are banned from compared columns (summation
order differs across engines/partitions); sums of integer cents are exact
and reduce map-side like any long.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .iterate import truncate_lineage


def price_histogram(orders: DataFrame, bucket_cents: int = 2_500_000) -> DataFrame:
    """Fixed-width histogram of order totals ($25k buckets by default).

    All arithmetic is integer: prices become cents with one multiply+cast
    (identical IEEE steps in both engines), bucketing is integer division,
    and per-bucket revenue is an exact long sum of cents divided once at
    the end.  Map-side combinable single shuffle; bucket count is bounded
    by the price range, not the data size.
    """
    # round() before the cast: double→int casting TRUNCATES in Spark but
    # ROUNDS in DuckDB, so 68423.46*100 = 6842345.999... would land on
    # different cents without it.  A 2-dp price's double never produces an
    # exact .5 product, so half-rounding rules can't diverge.
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.select(cents.alias("cents"))
        .withColumn("bucket", F.expr(f"cents DIV {bucket_cents}"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        )
        .select(
            F.col("bucket").cast("bigint"),
            F.col("n_orders").cast("bigint"),
            (F.col("sum_cents") / F.lit(100.0)).alias("revenue"),
        )
    )


def _exact_sums(df: DataFrame, group: str, x, y):
    """n, Σx, Σy, Σx², Σy², Σxy as exact decimal aggregates of integer
    inputs (decimal(38,0) so 100 TB row counts can't overflow int64)."""
    d = df.select(
        group,
        x.cast("decimal(38,0)").alias("x"),
        y.cast("decimal(38,0)").alias("y"),
    )
    return d.groupBy(group).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )


def corr_exact(df: DataFrame, group: str, x, y) -> DataFrame:
    """Pearson correlation from exact integer sums.

    Built-in ``corr()`` accumulates doubles in partition order — its last
    ulp differs between engines, which poisons hash comparison.  Here the
    six sufficient statistics are EXACT (decimal sums of integers); the
    final formula is a fixed sequence of IEEE double ops on identical
    inputs, hence bit-identical in any engine.  Same single-shuffle shape
    as any hash aggregate.
    """
    s = _exact_sums(df, group, x, y)
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select(group, corr.alias("corr_xy"))


def cms_heavy_hitters(
    docs: DataFrame, depth: int = 4, width: int = 512, k: int = 10
) -> DataFrame:
    """Count-min-sketch frequency estimates for the corpus's top-k tokens,
    side-by-side with the exact counts.

    The sketch uses ``depth`` portable hash rows (md5-derived, so any SQL
    engine reproduces the bucket assignment bit-for-bit) of ``width``
    buckets each.  Cell counts are built directly from the token stream:
    one map-side-combined aggregate whose key space is bounded by
    depth x width cells — THE reason a sketch works at 100 TB, where a
    token-keyed exact count must shuffle the full vocabulary.  The exact
    top-k (computed the expensive way) is joined alongside to exhibit the
    classic CMS guarantee est >= exact, est <= exact + eps*N.

    Output (tok, exact_n, cms_est, est_ge_exact, rk) is deterministic:
    the sketch has no RNG — hash functions are fixed — so even the
    estimate values hash-match across engines.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    )

    def bucket(tok, j: int):
        hx = F.substring(F.md5(F.concat(F.lit(f"{j}:"), tok)), 1, 8)
        return (F.conv(hx, 16, 10).cast("long") % width).alias("bucket")

    cells = (
        toks.select(
            F.posexplode(F.array(*[bucket(F.col("tok"), j) for j in range(depth)])).alias(
                "row", "bucket"
            )
        )
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cell_n"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    # exact top-k via orderBy+limit (TakeOrderedAndProject) — the vocab
    # table is corpus-dependent, so the partition-less rank window this
    # replaces was a single-task sort (operators/topk.py)
    from .topk import global_top_k

    top = global_top_k(exact, [F.desc("exact_n"), F.asc("tok")], k)
    probes = top.select(
        "tok",
        "exact_n",
        "rk",
        F.posexplode(F.array(*[bucket(F.col("tok"), j) for j in range(depth)])).alias(
            "row", "bucket"
        ),
    )
    return (
        probes.join(F.broadcast(cells), ["row", "bucket"])
        .groupBy("tok", "exact_n", "rk")
        .agg(F.min("cell_n").alias("cms_est"))
        .select(
            "tok",
            F.col("exact_n").cast("bigint"),
            F.col("cms_est").cast("bigint"),
            (F.col("cms_est") >= F.col("exact_n")).alias("est_ge_exact"),
            F.col("rk").cast("bigint"),
        )
        .orderBy("rk")
    )


def approx_percentile_check(
    lineitem: DataFrame,
    pcts: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95),
    accuracy: int = 1000,
) -> DataFrame:
    """Greenwald-Khanna percentile sketch, gated by its own rank-error bound.

    ``percentile_approx`` is the 100 TB path (mergeable sketch, map-side
    combinable, memory O(accuracy) instead of a full sort), but its VALUE
    depends on partition-merge order, so it can never be a compared column.
    What IS invariant — by the GK theorem, for any merge order — is the
    rank guarantee: the returned value's true rank is within n/accuracy of
    the target.  So the contract emits the exact percentile (oracle-able)
    plus the sketch's bound check as a boolean, computed by ranking the
    sketch value against the real data in one broadcast-join pass.
    """
    # Shape (r15 optimization round): the exact reference percentile used
    # to ride the same aggregate as the sketch via ``percentile(...)``,
    # which buffers and sorts EVERY group's values inside one aggregation
    # state — a single-task, data-sized sort per flag (measured 1.6–2.0 s
    # of this query's 2.9 s at sf0.1; at 100 TB it is billions of doubles
    # through three reducers).  The exact side now runs over a VALUE
    # HISTOGRAM (the mad_outliers/quantile_interp pattern): the value at
    # 1-based rank r is the smallest price whose cumulative count reaches
    # r, and percentile_cont interpolates lo + (hi − lo)·frac at
    # pos = p·(n−1) — the identical arithmetic ``percentile`` defines.
    # The sketch's rank check becomes a WEIGHTED aggregate over the same
    # histogram pass (Σ cnt where v < ap, ≤ ap), so the whole query is two
    # bounded passes: the mergeable GK aggregate and one histogram.
    from pyspark.sql import Window

    per_flag = lineitem.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", list(pcts), accuracy).alias("ap"),
    )
    grid = per_flag.select(
        "l_returnflag",
        F.posexplode("ap").alias("i", "ap_val"),
    ).select(
        "l_returnflag",
        F.element_at(F.lit(list(pcts)), F.col("i") + 1).alias("pct"),
        "ap_val",
    )
    hist = lineitem.groupBy("l_returnflag", "l_extendedprice").agg(
        F.count("*").alias("cnt")
    )
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = hist.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        "cnt",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    j = c.join(F.broadcast(grid), "l_returnflag")
    pos = F.col("pct") * (F.col("n") - 1).cast("double")
    lo_rk = F.floor(pos).cast("long") + 1  # 1-based lower rank
    hi_rk = F.least(lo_rk + 1, F.col("n"))
    frac = pos - F.floor(pos)
    agg = (
        j.groupBy("l_returnflag", "pct", "n")
        .agg(
            F.min(F.when(F.col("cum") >= lo_rk, F.col("v"))).alias("lo_v"),
            F.min(F.when(F.col("cum") >= hi_rk, F.col("v"))).alias("hi_v"),
            F.max(frac).alias("frac"),  # constant per (flag, pct)
            F.sum(F.when(F.col("v") < F.col("ap_val"), F.col("cnt")).otherwise(F.lit(0))).alias(
                "lo_rank"
            ),
            F.sum(F.when(F.col("v") <= F.col("ap_val"), F.col("cnt")).otherwise(F.lit(0))).alias(
                "hi_rank"
            ),
        )
    )
    ex_val = F.col("lo_v") + (F.col("hi_v") - F.col("lo_v")) * F.col("frac")
    # The returned value's possible ranks span [lo_rank+1, hi_rank] (ties);
    # the sketch is correct iff that interval intersects the GK band
    # pct*n +/- n/accuracy (+/-1 for the discrete-rank edge).
    tol = 1.0 / accuracy
    band_lo = (F.col("pct") - tol) * F.col("n") - 1
    band_hi = (F.col("pct") + tol) * F.col("n") + 1
    ok = (F.col("lo_rank") + 1 <= band_hi) & (F.col("hi_rank") >= band_lo)
    return agg.select(
        "l_returnflag",
        "pct",
        F.round(ex_val, 4).alias("exact_pct"),
        ok.alias("sketch_within_bound"),
    ).orderBy("l_returnflag", "pct")


def linreg_exact(df: DataFrame, group: str, x, y) -> DataFrame:
    """Per-group OLS fit y = slope*x + intercept from EXACT sufficient
    statistics — the regression companion to :func:`corr_exact`.

    ``ml.regression.LinearRegression`` (or any gradient/normal-equation
    solver over doubles) accumulates in partition order and is not
    bit-reproducible across engines; with integer x/y the five sums are
    exact decimals and the closed-form solution is a fixed IEEE sequence on
    identical inputs.  One map-side-combined shuffle keyed by the group —
    the same cost as a COUNT(*) GROUP BY at any scale.
    Returns (group, n_obs, slope, intercept).
    """
    s = _exact_sums(df, group, x, y)
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, sxy = (F.col(c).cast("double") for c in ("sxx", "sxy"))
    # Degenerate group (constant x): the normal-equation denominator is 0
    # and IEEE division would emit NaN/±Inf — emit NULLs instead so the
    # result stays hash-comparable and downstream consumers can filter.
    denom = n * sxx - sx * sx
    slope = F.when(denom != 0, (n * sxy - sx * sy) / denom)
    intercept = F.when(denom != 0, (sy - ((n * sxy - sx * sy) / denom) * sx) / n)
    return s.select(
        group,
        F.col("n").cast("bigint").alias("n_obs"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def chi_square_independence(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Chi-square test of independence over a contingency table — the
    categorical-association screen of a feature-selection pass.

    Observed counts and marginals are EXACT longs (one map-side-combined
    aggregate; cell count is bounded by |A|×|B|, not data size).  Expected
    counts and per-cell contributions are fixed IEEE sequences on those
    exact integers — engine-deterministic per cell.  The total statistic is
    the one summation-order hazard (float Σ over cells), so each cell's
    contribution is first fixed to integer NANO-UNITS (floor(x·1e9 + ½) —
    deterministic per cell) and the total is an exact long sum — order-free
    at any partitioning, the same pattern unigram_logprob uses.
    Output: one row per cell + the total replicated (broadcast 1-row join).
    """
    observed_cells = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_obs"))
    )
    row_tot = observed_cells.groupBy("a").agg(F.sum("n_obs").alias("row_total"))
    col_tot = observed_cells.groupBy("b").agg(F.sum("n_obs").alias("col_total"))
    n_tot = observed_cells.agg(F.sum("n_obs").alias("n_total"))
    # The FULL |A|×|B| grid, not just observed combinations: a zero cell
    # still has expected = row·col/n and contributes expected to the
    # statistic — dropping it silently understates chi² (a perfect 2×2
    # association would read n/2 instead of n).
    cells = (
        row_tot.crossJoin(F.broadcast(col_tot))
        .join(observed_cells, ["a", "b"], "left")
        .withColumn("observed", F.coalesce(F.col("n_obs"), F.lit(0)))
    )
    expected = (
        F.col("row_total").cast("double")
        * F.col("col_total").cast("double")
        / F.col("n_total").cast("double")
    )
    per_cell = (
        cells.crossJoin(F.broadcast(n_tot))
        .select(
            "a",
            "b",
            F.col("observed").cast("bigint"),
            expected.alias("expected"),
            (
                (F.col("observed").cast("double") - expected)
                * (F.col("observed").cast("double") - expected)
                / expected
            ).alias("contribution"),
        )
    )
    total = per_cell.agg(
        (
            F.sum(F.floor(F.col("contribution") * 1e9 + F.lit(0.5)).cast("long"))
            / F.lit(1e9)
        ).alias("chi2")
    )
    return per_cell.crossJoin(F.broadcast(total))


def benford_check(orders: DataFrame) -> DataFrame:
    """Benford's-law screen on order totals — the classic fraud/data-quality
    test: naturally occurring amounts have leading digit d with probability
    log10(1 + 1/d), and a synthetic or truncated column deviates loudly.

    The leading digit comes from the integer cents value via string ops
    (exact in any engine); counts are exact longs from ONE bounded
    9-key aggregate; observed share is a single IEEE division of exact
    integers.  log10 is a libm transcendental (NOT guaranteed correctly
    rounded, so the last ulp may differ across engines) — the two columns
    that touch it are rounded to 4 dp, ~1e11 ulps of slack.  Returns 9
    rows (digit, n, share, benford_share, abs_dev).
    """
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("long")
    counts = (
        orders.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").alias("n_total"))
    share = F.col("n").cast("double") / F.col("n_total").cast("double")
    benford = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            F.col("digit").cast("bigint"),
            F.col("n").cast("bigint"),
            share.alias("share"),
            F.round(benford, 4).alias("benford_share"),
            F.round(F.abs(share - benford), 4).alias("abs_dev"),
        )
    )


def mad_outliers(lineitem: DataFrame, k: int = 3) -> DataFrame:
    """Median-absolute-deviation robust outlier screen per return flag —
    the data-cleaning gate that survives the heavy tails which break
    mean±k·stddev rules.

    Both medians are DISCRETE rank selections over exact integer cents
    (value at rank floor((n+1)/2) — the lower middle for even n), not
    interpolated: rank selection is engine-deterministic, interpolation
    arithmetic is not (the winsorized_stats rule).  The outlier test
    |x − med| > k·mad is pure integer comparison.

    Shape (r15): rank selection runs over a VALUE HISTOGRAM —
    groupBy(flag, cents).count() with map-side partial aggregation, then a
    cumulative-count window over the per-group DISTINCT values only — not a
    row_number over every raw row.  The r14 shape sorted each flag's entire
    row set inside one window task (3 distinct flags → 3 tasks carrying the
    whole table; at 100 TB that is billions of rows through a single task)
    and, with no reuse across the med/mad/final stages, executed that full
    sort three times.  The histogram bounds the window input by the value
    domain (cents cardinality, data-size-independent), so the single task
    per group holds the domain, never the data.  The chain is SINGLE-SCAN
    (r15 optimization round): the median is attached inside the first
    histogram's window pass, the deviation histogram folds off that pass,
    the MAD off the deviation pass, and the outlier count is a weighted
    aggregate over the deviation histogram — lineitem is read once per
    call.  Medians are identical by construction: value at rank r ==
    smallest value whose cumulative count reaches r.
    Returns (l_returnflag, n_rows, median, mad, n_outliers).
    """
    from pyspark.sql import Window

    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d = lineitem.select(F.col("l_returnflag").alias("flag"), cents.alias("cents"))
    hist = d.groupBy("flag", "cents").agg(F.count("*").alias("cnt"))

    # (flag, value, cnt) rows are distinct per group, so the rows-frame
    # running sum is tie-free and deterministic; the rank-r value is the
    # smallest value whose cumulative count reaches r = floor((n+1)/2).
    # Fused single-scan form (r15 optimization round): the first cut of this
    # rewrite materialized `hist` logically THREE times (median branch,
    # deviation-histogram branch, final count branch) — three full scans +
    # partial-agg shuffles of lineitem per call, because each branch was a
    # separate DAG consumer.  The median is instead attached IN the same
    # window pass as the cumulative count (F.min(when(cum ≥ rank, v)) over
    # the unbounded partition — same Exchange, no extra sort for the
    # unordered frame), so the deviation histogram folds directly off that
    # one pass and the outlier count off the deviation pass: lineitem is
    # scanned ONCE, with two bounded histogram shuffles after it (guide
    # §2.4 "share one exchange" / §1.2 "remove passes").  Selection
    # arithmetic is unchanged — same ranks, same integer comparisons.
    cum_w = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    all_w = Window.partitionBy("flag")
    c = hist.select(
        "flag",
        "cents",
        "cnt",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(all_w).alias("n"),
    )
    med_rank = F.floor((F.col("n") + 1) / 2).cast("long")
    with_med = c.select(
        "flag",
        "cents",
        "cnt",
        F.min(F.when(F.col("cum") >= med_rank, F.col("cents"))).over(all_w).alias("med"),
    )
    devhist = with_med.groupBy(
        "flag", "med", F.abs(F.col("cents") - F.col("med")).alias("dev")
    ).agg(F.sum("cnt").alias("cnt"))
    dev_cum_w = (
        Window.partitionBy("flag")
        .orderBy("dev")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dc = devhist.select(
        "flag",
        "med",
        "dev",
        "cnt",
        F.sum("cnt").over(dev_cum_w).alias("cum"),
        F.sum("cnt").over(all_w).alias("n"),
    )
    with_mad = dc.select(
        "flag",
        "med",
        "dev",
        "cnt",
        F.min(F.when(F.col("cum") >= med_rank, F.col("dev"))).over(all_w).alias("mad"),
    )
    return (
        with_mad.groupBy("flag", "med", "mad")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.sum(
                F.when(F.col("dev") > F.lit(k) * F.col("mad"), F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("n_rows").cast("bigint"),
            (F.col("med") / F.lit(100.0)).alias("median"),
            (F.col("mad") / F.lit(100.0)).alias("mad"),
            F.col("n_outliers").cast("bigint"),
        )
    )


def winsorized_stats(
    lineitem: DataFrame, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Winsorized (outlier-clamped) price statistics per return flag — the
    robust-mean data-cleaning step of a feature pipeline.

    Thresholds are DISCRETE percentiles (the cent value at integer rank
    ``floor(p*(n-1))+1``), not interpolated ones: rank selection over exact
    integer cents is engine-deterministic, while interpolation arithmetic
    on doubles can differ in the last ulp.  Ties on cents don't matter —
    the VALUE at a rank is unique even when row numbering within equal keys
    is not.

    Shape (r15): rank selection runs over a VALUE HISTOGRAM (the
    mann_whitney / mad_outliers pattern) — groupBy(flag, cents).count()
    with map-side partial aggregation, a cumulative-count window over the
    per-group DISTINCT values, and the rank-r value read as the smallest
    cents whose cumulative count reaches r.  The clip counts and the
    winsorized mean are weighted aggregates over the same histogram, so no
    stage ever carries raw rows through a window: the single task per flag
    holds the value domain (data-size-independent), not the data.  The r14
    shape row_numbered every raw row inside 3 window tasks — a
    billions-of-rows-per-task sort at 100 TB.  The chain is SINGLE-SCAN
    (r15 optimization round): thresholds are attached inside the same
    window pass as the cumulative count, so lineitem is read once per call.
    Returns per-flag thresholds, clip counts, and the winsorized mean.
    """
    from pyspark.sql import Window

    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d = lineitem.select(F.col("l_returnflag").alias("flag"), cents.alias("cents"))
    hist = d.groupBy("flag", "cents").agg(F.count("*").alias("cnt"))
    cum_w = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = hist.select(
        "flag",
        "cents",
        "cnt",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("flag")).alias("n"),
    )
    lo_rank = F.floor(F.lit(lo) * (F.col("n") - 1)).cast("long") + 1
    hi_rank = F.floor(F.lit(hi) * (F.col("n") - 1)).cast("long") + 1
    # Fused single-scan form (r15 optimization round): the first cut of this
    # rewrite aggregated thresholds from `c` and then joined them back
    # against `hist` — TWO DAG consumers of `hist`, i.e. two full scans +
    # partial-agg shuffles of lineitem per call.  The thresholds instead
    # ride the SAME window pass as the cumulative count (F.min(when(cum ≥
    # rank, v)) over the unbounded partition — same Exchange, no broadcast
    # join), so lineitem is scanned once (guide §2.4 / §1.2).  Selection
    # arithmetic is unchanged — same ranks, same clamp.
    with_thr = c.select(
        "flag",
        "cents",
        "cnt",
        F.min(F.when(F.col("cum") >= lo_rank, F.col("cents"))).over(
            Window.partitionBy("flag")
        ).alias("lo_c"),
        F.min(F.when(F.col("cum") >= hi_rank, F.col("cents"))).over(
            Window.partitionBy("flag")
        ).alias("hi_c"),
    )
    clamped = with_thr.select(
        "flag",
        "lo_c",
        "hi_c",
        "cnt",
        (F.greatest(F.col("lo_c"), F.least(F.col("hi_c"), F.col("cents"))) * F.col("cnt")).alias("wc"),
        F.when(F.col("cents") < F.col("lo_c"), F.col("cnt")).otherwise(F.lit(0)).alias("clip_lo"),
        F.when(F.col("cents") > F.col("hi_c"), F.col("cnt")).otherwise(F.lit(0)).alias("clip_hi"),
    )
    return (
        clamped.groupBy("flag", "lo_c", "hi_c")
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.sum("clip_lo").alias("n_clipped_lo"),
            F.sum("clip_hi").alias("n_clipped_hi"),
            F.sum("wc").alias("sum_wc"),
        )
        .select(
            F.col("flag").alias("l_returnflag"),
            F.col("n_rows").cast("bigint"),
            (F.col("lo_c") / F.lit(100.0)).alias("lo_threshold"),
            (F.col("hi_c") / F.lit(100.0)).alias("hi_threshold"),
            F.col("n_clipped_lo").cast("bigint"),
            F.col("n_clipped_hi").cast("bigint"),
            (F.col("sum_wc").cast("double") / F.col("n_rows").cast("double") / F.lit(100.0)).alias(
                "winsorized_mean"
            ),
        )
    )


def categorical_entropy(df: DataFrame, col: str) -> DataFrame:
    """Shannon entropy of a categorical column — the data-profiling metric
    that flags constant (H≈0) or near-uniform columns at a glance.

    Per-category terms −p·ln p are fixed IEEE sequences on exact integer
    counts (deterministic per category); the total is the usual float-Σ
    hazard, so terms are fixed to integer nano-units first and summed as
    exact longs (the chi-square / unigram_logprob pattern).  One bounded
    aggregate (key space = category cardinality) + a broadcast total.
    Returns one row: (n_rows, n_categories, entropy) with entropy in nats
    rounded to the nano-unit grid.
    """
    counts = df.select(F.col(col).alias("c")).groupBy("c").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("n_rows"))
    p = F.col("n").cast("double") / F.col("n_rows").cast("double")
    term_nano = F.floor(-p * F.log(p) * 1e9 + F.lit(0.5)).cast("long")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select("n_rows", term_nano.alias("tn"))
        .groupBy("n_rows")
        .agg(
            F.count("*").cast("bigint").alias("n_categories"),
            (F.sum("tn") / F.lit(1e9)).alias("entropy"),
        )
        .select(F.col("n_rows").cast("bigint"), "n_categories", "entropy")
    )


def quantile_binning(orders: DataFrame, n_bins: int = 10) -> DataFrame:
    """Exact equal-frequency discretization (quantile binning) of order
    value: ntile(n) over exact integer cents with o_orderkey tie-break, one
    summary row per bin — the feature-binning step before WOE encoding /
    monotonic bucketing, exact flavor.

    Determinism: binning runs on cents (exact longs), and every per-bin
    statistic (count, min, max, integer sum) depends only on the sorted
    MULTISET slice a bin receives — rows tied on cents across a bin
    boundary contribute the same values whichever side the o_orderkey
    tie-break would have placed them — so the histogram form below is
    identical to exact ntile output by construction.

    Shape (r15): ntile's bucket boundaries are pure rank arithmetic
    (bucket b covers ranks [(b-1)·base + min(b-1, rem) + 1, b·base +
    min(b, rem)] for base = n div n_bins, rem = n mod n_bins — Spark's
    first-buckets-get-the-remainder rule), so per-bin stats are interval
    overlaps between those rank ranges and a cumulative VALUE HISTOGRAM
    (the mann_whitney / mad_outliers pattern): a value occupying global
    ranks [cum−cnt+1, cum] contributes ov = min(cum, r1) − max(cum−cnt+1,
    r0) + 1 rows to bin b.  The r14 shape ran exact ntile through ONE
    totally-ordered window over every raw row — the single-task sort this
    module's docstrings used to confess as "driver-bound at 100 TB"; the
    window now orders the distinct-value histogram only (domain-bounded),
    and the n_bins-row rank grid joins it broadcast.
    Returns (bin, n_orders, lo, hi, mean_price).
    """
    from pyspark.sql import Window

    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    hist = (
        orders.select(cents.alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").alias("cnt"))
    )
    cum_w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # The total row count rides the same window pass (unbounded frame, same
    # single-task partition) and the n_bins-row rank grid becomes an explode
    # over the histogram rows: the first cut aggregated `totals` from a
    # second consumer of `hist`, scanning orders twice per call (r15
    # optimization round; guide §2.4/§1.2).  Same (bin, cents, ov) rows
    # reach the same groupBy — rank arithmetic unchanged.
    c = hist.select(
        "cents",
        "cnt",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    base = F.expr("n div %d" % n_bins)
    rem = F.expr("n %% %d" % n_bins)
    binned = c.select(
        "cents",
        "cnt",
        "cum",
        base.alias("base"),
        rem.alias("rem"),
        F.explode(F.sequence(F.lit(1), F.lit(n_bins))).alias("bin"),
    ).select(
        "cents",
        "cnt",
        "cum",
        "bin",
        ((F.col("bin") - 1) * F.col("base") + F.least(F.col("bin") - 1, F.col("rem")) + 1).alias("r0"),
        (F.col("bin") * F.col("base") + F.least(F.col("bin"), F.col("rem"))).alias("r1"),
    )
    ov = F.least(F.col("cum"), F.col("r1")) - F.greatest(F.col("cum") - F.col("cnt") + 1, F.col("r0")) + 1
    return (
        binned
        .select("bin", "cents", ov.alias("ov"))
        .where(F.col("ov") > 0)
        .groupBy("bin")
        .agg(
            F.sum("ov").cast("bigint").alias("n_orders"),
            (F.min("cents") / 100.0).alias("lo"),
            (F.max("cents") / 100.0).alias("hi"),
            F.round(F.sum(F.col("cents") * F.col("ov")) / F.sum("ov") / 100.0, 4).alias("mean_price"),
        )
        .select(F.col("bin").cast("bigint"), "n_orders", "lo", "hi", "mean_price")
        .orderBy("bin")
    )


def ks_two_sample(orders: DataFrame, split_priority: str = "1-URGENT") -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the order-value
    distributions of ``split_priority`` orders vs all others — the drift /
    distribution-shift test a data pipeline runs between snapshots.

    Exactness: prices fix to integer cents; the supremum runs over the
    POOLED value axis with RANGE frames (ties collapse correctly: the CDF
    step at a value includes every row tied at it); the scaled statistic
    max|c1·n2 − c2·n1| is exact integer arithmetic, and ONE terminal IEEE
    division by n1·n2 produces the engine-identical D (rounded 6 dp).

    Shape (r15): the per-side counts aggregate to the DISTINCT value axis
    first (groupBy(v), map-side combined — the mann_whitney pattern), and
    the cumulative window runs over that value histogram: under the
    original RANGE frame every row tied at v carried identical (ca, cb),
    so the per-value cumulative sums — and therefore the supremum — are
    unchanged by construction.  The r14 shape ran the window over every
    raw row (one total-order task holding the whole table at 100 TB); the
    single window task now holds the value domain only, data-size-
    independent.  `sketch_approx_percentile` remains the bounded-error
    sketch sibling.  Returns (n_a, n_b, d_stat).
    """
    from pyspark.sql import Window

    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    is_a = (F.col("o_orderpriority") == split_priority).cast("long")
    g = (
        orders.select(cents.alias("v"), is_a.alias("a"), (1 - is_a).alias("b"))
        .groupBy("v")
        .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # totals ride the same window pass as the cumulative counts (unbounded
    # frame over the same single-task partition) instead of a second
    # aggregation branch — the two-consumer DAG scanned orders twice per
    # call (r15 optimization round; guide §2.4/§1.2).
    all_w = Window.partitionBy()
    cum = g.select(
        "v",
        F.sum("a").over(w).alias("ca"),
        F.sum("b").over(w).alias("cb"),
        F.sum("a").over(all_w).alias("na"),
        F.sum("b").over(all_w).alias("nb"),
    )
    return (
        cum
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.round(
                F.max(F.abs(F.col("ca") * F.col("nb") - F.col("cb") * F.col("na"))).cast("double")
                / (F.max("na") * F.max("nb")).cast("double"),
                6,
            ).alias("d_stat"),
        )
    )


def gini_coefficient(orders: DataFrame) -> DataFrame:
    """Gini concentration of revenue across customers — the inequality
    metric behind "what share of revenue do the top customers hold".

    G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over per-customer revenue xᵢ
    sorted ascending (rank i from 1), computed entirely from exact
    integer/decimal sums (cents, rank·cents as decimal(38,0)) with one
    terminal IEEE division — engine-identical, rounded 6 dp.

    Shape (r15): the rank-weighted sum runs over a VALUE HISTOGRAM of
    per-customer revenue (the mann_whitney / mad_outliers pattern).
    Within a block of customers tied at revenue x, Σ i·x = x·Σ i and the
    ranks i are consecutive whatever the o_custkey tie-break, so the
    block contributes x·(P·cnt + cnt·(cnt+1)/2) exactly, where P is the
    cumulative count before the block — integer arithmetic, identical to
    the per-row rank sum by construction.  The cumulative window orders
    the distinct revenue values only (domain-bounded), where the r14
    shape row_numbered every customer inside ONE total-order window task
    — customer-count-bounded, i.e. billions of rows through a single
    task at 100 TB.  Returns (n_customers, total_revenue, gini).
    """
    from pyspark.sql import Window

    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
    )
    h = rev.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = h.select("cents", "cnt", F.sum("cnt").over(w).alias("cum"))
    rank_sum = (
        (F.col("cum") - F.col("cnt")).cast("decimal(38,0)") * F.col("cnt")
        + F.expr("(cnt * (cnt + 1)) div 2").cast("decimal(38,0)")
    )
    return c.agg(
        F.sum("cnt").cast("bigint").alias("n_customers"),
        F.round(F.sum(F.col("cents") * F.col("cnt")) / 100.0, 2).alias("total_revenue"),
        F.round(
            (
                F.lit(2.0) * F.sum(rank_sum * F.col("cents")).cast("double")
                - (F.sum("cnt") + 1).cast("double") * F.sum(F.col("cents") * F.col("cnt")).cast("double")
            )
            / (F.sum("cnt").cast("double") * F.sum(F.col("cents") * F.col("cnt")).cast("double")),
            6,
        ).alias("gini"),
    )


def psi_drift(orders: DataFrame, split_date: str = "1995-06-01", n_bins: int = 10) -> DataFrame:
    """Population Stability Index between the order-value distribution
    BEFORE ``split_date`` (reference) and AFTER (current) — the standard
    drift gate for features/scores between training and serving
    snapshots (PSI < 0.1 stable, > 0.25 shifted).

    Bin edges are the reference's exact discrete-rank deciles (integer
    cents, floor(q·(n−1))+1 — no interpolation); both halves bin against
    the same edges via one broadcast 1-row edge array (no driver collect).
    Edge lookup runs over a VALUE HISTOGRAM of the reference half (the
    mann_whitney / mad_outliers pattern): the decile value at rank r is
    the smallest v whose cumulative count reaches r — identical, ties
    included, to the row_number selection it replaces (the o_orderkey
    tie-break never changed WHICH VALUE sits at a rank).  The cumulative
    window orders distinct cents only (domain-bounded); the r14 shape
    row_numbered every pre-split row inside ONE total-order window task.
    PSI = Σ (pᵢ−qᵢ)·ln(pᵢ/qᵢ) over bins occupied on BOTH sides (bins empty
    on either side are excluded and counted — deterministic, no epsilon
    fudge).  Each term fixes to integer nano-units before the sum
    (round-half-up via floor(x·1e9+½)), so the total is order-free exact
    and one final division emits the engine-identical 6-dp PSI.
    Returns one row (n_ref, n_cur, n_bins_used, n_bins_skipped, psi).
    """
    from pyspark.sql import Window

    # Fused single-scan form (r15 optimization round): the first cut of the
    # histogram rewrite kept ref and cur as separate frames and branched the
    # DAG six ways (ref: histogram, total, binning, count; cur: binning,
    # count) — six scans of orders per call.  Both halves now pool into ONE
    # value histogram with per-side counts (the ks_two_sample pattern); the
    # reference's cumulative counts, both totals, and all nine decile cuts
    # ride the same single-task window pass (F.min(when(cum ≥ rk, v)) over
    # the unbounded frame), and both sides bin in the same select — orders
    # is scanned ONCE (guide §2.4/§1.2).  Cut selection is unchanged: the
    # smallest v whose reference cumulative count reaches rank rk is a
    # reference value by construction (cum only increments at reference
    # values), and ranks are deduped by the same rank-identity the original
    # array_distinct applied (struct dedupe on (rk, cut) — cut is a
    # function of rk).
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    is_ref = (F.col("o_orderdate") < split_date).cast("long")
    h = (
        # null-date rows belong to NEITHER side (ADVICE r15: the fused
        # count(*)−sum(r) form was silently binning them as CURRENT, where
        # the pre-fusion ref/cur where-filters excluded them from both) —
        # the isnotnull pushes to the scan, so the single-scan plan holds
        orders.where(F.col("o_orderdate").isNotNull())
        .select(cents.alias("v"), is_ref.alias("r"))
        .groupBy("v")
        .agg(F.sum("r").alias("cr"), (F.count("*") - F.sum("r")).alias("cc"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all_w = Window.partitionBy()
    c = h.select(
        "v",
        "cr",
        "cc",
        F.sum("cr").over(w).alias("cum"),
        F.sum("cr").over(all_w).alias("tr"),
        F.sum("cc").over(all_w).alias("tc"),
    )

    def rk(q):
        return (F.floor(F.lit(q / n_bins) * (F.col("tr") - 1)) + 1).cast("long")

    c2 = c.select(
        "v",
        "cr",
        "cc",
        "tr",
        "tc",
        *[
            F.min(F.when(F.col("cum") >= rk(q), F.col("v"))).over(all_w).alias(f"cut_{q}")
            for q in range(1, n_bins)
        ],
    )
    cut_structs = F.array(
        *[
            F.struct(rk(q).alias("rk"), F.col(f"cut_{q}").alias("cv"))
            for q in range(1, n_bins)
        ]
    )
    cuts = F.sort_array(F.transform(F.array_distinct(cut_structs), lambda s: s["cv"]))
    b = F.size(F.filter(cuts, lambda cv: F.col("v") >= cv))
    joined = (
        c2.select(b.alias("bin"), "cr", "cc", "tr", "tc")
        .groupBy("bin")
        .agg(
            F.sum("cr").alias("np"),
            F.sum("cc").alias("nq"),
            F.max("tr").alias("tr"),
            F.max("tc").alias("tc"),
        )
    )
    pi = F.col("np").cast("double") / F.col("tr").cast("double")
    qi = F.col("nq").cast("double") / F.col("tc").cast("double")
    term_nano = F.floor((pi - qi) * F.log(pi / qi) * 1e9 + F.lit(0.5)).cast("long")
    both = (F.col("np") > 0) & (F.col("nq") > 0)
    return joined.agg(
        F.max("tr").cast("bigint").alias("n_ref"),
        F.max("tc").cast("bigint").alias("n_cur"),
        F.sum(both.cast("long")).cast("bigint").alias("n_bins_used"),
        F.sum((~both).cast("long")).cast("bigint").alias("n_bins_skipped"),
        F.round(F.sum(F.when(both, term_nano).otherwise(0)) / 1e9, 6).alias("psi"),
    )


def welch_ttest(orders: DataFrame, split_priority: str = "1-URGENT") -> DataFrame:
    """Welch's unequal-variance t statistic between ``split_priority``
    order values and the rest — the A/B significance workhorse that does
    not assume equal group variances.

    Sufficient statistics (n, Σx, Σx²) accumulate as decimal(38,0) over
    exact cents — order-free at any partitioning; mean/variance/t/df then
    derive through ONE fixed IEEE sequence (mean = s/n, msq = ss/n,
    var = (msq − mean²)·n/(n−1), t = Δmean/√(va/na + vb/nb), Welch-
    Satterthwaite df) that both engines round identically.  Returns one
    row (n_a, n_b, mean_a, mean_b, t_stat, df) with t/df rounded 4 dp.
    """
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    is_a = (F.col("o_orderpriority") == split_priority).cast("long")
    d = orders.select(cents.alias("v"), is_a.alias("a"))

    def stats_for(flag):
        side = d.where(F.col("a") == flag)
        return side.agg(
            F.count("*").alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("s"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(38,0)")).alias("ss"),
        )

    a = stats_for(1).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = stats_for(0).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n)

    def var(ss, s, n):
        m = mean(s, n)
        msq = F.col(ss).cast("double") / F.col(n)
        return (msq - m * m) * F.col(n) / (F.col(n) - 1)

    va, vb = var("ssa", "sa", "na"), var("ssb", "sb", "nb")
    sea, seb = va / F.col("na"), vb / F.col("nb")
    t = (mean("sa", "na") - mean("sb", "nb")) / F.sqrt(sea + seb)
    df = (sea + seb) * (sea + seb) / (
        sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1)
    )
    # both sides are 1-row aggregates; broadcast keeps the plan a
    # BroadcastNestedLoopJoin like every other scalar crossJoin in this
    # module (VERDICT r7 item 6 — plan hygiene, no behavior change)
    return a.crossJoin(F.broadcast(b)).select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(mean("sa", "na") / 100.0, 4).alias("mean_a"),
        F.round(mean("sb", "nb") / 100.0, 4).alias("mean_b"),
        F.round(t, 4).alias("t_stat"),
        F.round(df, 4).alias("df"),
    )


def quantile_interp(events: DataFrame, col: str = "value") -> DataFrame:
    """Exact linearly-interpolated quartiles (percentile_cont semantics)
    per event type, engine-portable: positions and interpolation both run
    in integer quarter-cent units — lo*4 + rem*(hi-lo) — with ONE terminal
    IEEE division by 400, so there is no float arithmetic either engine
    could order differently.

    idx = (n-1)*q/4 splits into lo = 1 + (n-1)*q div 4 (1-based) and
    rem = (n-1)*q mod 4; hi is the next rank (clamped to n).

    Shape (r15): both rank lookups run over a VALUE HISTOGRAM (the
    mann_whitney / mad_outliers pattern) — groupBy(event_type, cents) with
    map-side partial aggregation, a cumulative-count window over the
    per-type DISTINCT values, and the rank-r value read as the smallest
    cents whose cumulative count reaches r (identical by construction to
    the row_number selection this replaces, ties included).  The window
    task per type holds the value domain, not the data — the r14 shape
    sorted every raw row inside one window task per event type, which at
    100 TB is billions of rows through a handful of tasks.  The 3-quartile
    rank grid explodes off the same pass (single-scan).  Exactness is unchanged;
    `sketch_approx_percentile` remains the bounded-error sketch sibling
    validated against this reference.
    """
    cents = F.round(F.col(col) * 100).cast("long")
    hist = (
        events.select("event_type", cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count("*").alias("cnt"))
    )
    cum_w = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Per-type totals ride the same window pass (unbounded frame, same
    # partitioning — no extra Exchange), and the 3-quartile grid is an
    # explode over the histogram rows instead of a broadcast join against a
    # second aggregation branch: the two-consumer DAG scanned events twice
    # per call (r15 optimization round; guide §2.4/§1.2).  Same rows reach
    # the same groupBy — rank arithmetic unchanged.
    c = hist.select(
        "event_type",
        "cents",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).cast("long").alias("n"),
    )
    return (
        c.select(
            "event_type",
            "cents",
            "cum",
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("q"),
        )
        .select(
            "event_type",
            "cents",
            "cum",
            "n",
            F.col("q").cast("long").alias("q"),
            (F.lit(1) + F.expr("((n - 1) * q) div 4")).alias("lo_rk"),
            F.expr("((n - 1) * q) % 4").alias("rem"),
        )
        .withColumn("hi_rk", F.least(F.col("lo_rk") + 1, F.col("n")))
        .groupBy("event_type", "q", "n", "rem")
        .agg(
            F.min(F.when(F.col("cum") >= F.col("lo_rk"), F.col("cents"))).alias("lo_c"),
            F.min(F.when(F.col("cum") >= F.col("hi_rk"), F.col("cents"))).alias("hi_c"),
        )
        .select(
            "event_type",
            "q",
            "n",
            (
                (
                    F.col("lo_c") * 4 + F.col("rem") * (F.col("hi_c") - F.col("lo_c"))
                ).cast("double")
                / F.lit(400.0)
            ).alias("quantile_val"),
        )
        .orderBy("event_type", "q")
    )


# Poisson(1) CDF as integer thresholds against a 60-bit uniform key:
# T_k = floor(P(X<=k) * 2^60), k = 0..7 (tail beyond 8 is < 1e-5 and maps
# to weight 8).  Computed once from literals; identical in both engines.
POISSON1_T60 = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
]


# Integer mixer constants for per-resample key derivation (see
# poisson_bootstrap_ci).  K_B is a 53-bit odd constant (so
# b·K_B + h < 2^58.3 + 2^60 < 2^61 — no BIGINT overflow for b < 64);
# MULT is the 63-bit PCG multiplier (mix·MULT < 2^61 · 2^63 = 2^124
# ≈ 2.1e37 < 10^38 — fits decimal(38,0) and HUGEINT exactly).
MIX_K_B = 0x1D8AF066E5187B
MIX_MULT = 6364136223846793005  # 0x5851F42D4C957F2D
MIX_MOD60 = 1 << 60


def poisson_bootstrap_ci(
    orders: DataFrame, n_resamples: int = 40, value_col: str = "o_totalprice"
) -> DataFrame:
    """Deterministic Poisson-bootstrap confidence interval for the mean —
    the scalable bootstrap (each row draws a Poisson(1) replication weight
    per resample; no global rank, no sampling shuffle — the map-side
    pattern behind Bag-of-Little-Bootstraps at 100 TB), made
    ENGINE-PORTABLE: per-resample keys are derived from ONE 60-bit md5 per
    row and cut against integer Poisson-CDF thresholds, so both engines
    draw the IDENTICAL resamples.

    Key derivation (the r6 roadmap's integer mixer — md5 was 85% of this
    operator's cost at B=40 because it ran per (row, resample); now it
    runs per row and the per-resample key is a handful of 64-bit integer
    ops in whole-stage codegen):

        h   = 60-bit md5(o_orderkey)                  [once per row]
        mix = h + b·K_B                               [BIGINT, < 2^61]
        z   = (mix · MULT) mod 2^60                   [split multiply]
        u   = z XOR (z >> 29)                         [BIGINT, < 2^60]

    The 2^124-bit product mix·MULT is evaluated as a SPLIT multiply so
    every intermediate stays in signed 64-bit: with a = a1·2^30 + a0 and
    MULT = m1·2^32 + m0,

        z = ( a0·m0 mod 2^60
            + ((a0·m1 mod 2^28) << 32)
            + ((a1·m0 mod 2^30) << 30) ) mod 2^60

    (the a1·m1 term carries a 2^62 factor ≡ 0 mod 2^60 and is dropped;
    equivalence to the wide product is property-tested in
    tests/test_operators.py).

    Cross-engine portability argument, required before trusting the mixer
    (both engines must agree bit-for-bit on every op):
    * no overflow anywhere: every intermediate is < 2^63 by construction
      (a0 < 2^30, a1 < 2^31, m0 < 2^32, m1 < 2^31 ⇒ each product < 2^62;
      the 3-term sum < 2^61 + 2^60 + 2^60 < 2^62).  This is load-bearing:
      Spark 4 ANSI mode and DuckDB both RAISE on 64-bit overflow rather
      than wrap, so a wrapping splitmix-style mixer would be a
      correctness bug, not just nonportable;
    * every op is +, ·, %, <<, >>, XOR on NONNEGATIVE BIGINTs: % by a
      power-of-two constant on nonnegative operands is the mathematical
      remainder in both engines; shifts and XOR are bit-identical by
      definition.
    Uniformity: h is md5-uniform; + b·K_B separates resamples; ·MULT mod
    2^60 (PCG multiplier) avalanches into the high bits that the
    threshold comparison reads; the final xor-shift folds high bits back
    into the low ones.  The thresholds span the full 60-bit range.

    Per resample: mean_b = decimal(cents·w) / sum(w) — exact integers, one
    IEEE division.  The CI is read off the SORTED resample means at exact
    ranks (2/20/38 of 40 = p05/p50/p95 with deterministic b tie-break).
    Everything shuffled is B partial-aggregated rows.
    """
    assert n_resamples < 64, "b·K_B bound (no-overflow argument) holds for b < 64"
    b_grid = F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("b")
    cents = F.round(F.col(value_col) * 100).cast("long")
    h = F.conv(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 15), 16, 10
    ).cast("long")
    m0, m1 = MIX_MULT & 0xFFFFFFFF, MIX_MULT >> 32
    mix = F.col("h") + F.col("b") * F.lit(MIX_K_B)
    a0 = mix % F.lit(1 << 30)
    a1 = F.shiftright(mix, 30)
    z = (
        (a0 * F.lit(m0)) % F.lit(MIX_MOD60)
        + F.shiftleft((a0 * F.lit(m1)) % F.lit(1 << 28), 32)
        + F.shiftleft((a1 * F.lit(m0)) % F.lit(1 << 30), 30)
    ) % F.lit(MIX_MOD60)
    u = z.bitwiseXOR(F.shiftright(z, 29))
    w = F.lit(8)
    for k in range(len(POISSON1_T60) - 1, -1, -1):
        w = F.when(F.col("u") <= POISSON1_T60[k], F.lit(k)).otherwise(w)
    # h is projected BEFORE the explode (a Generate is a projection
    # barrier Catalyst won't inline an alias through), so md5 runs once
    # per order row, not once per (row, resample) grid row
    grid = (
        orders.select(cents.alias("cents"), h.alias("h"))
        .select("cents", "h", b_grid)
        .withColumn("u", u)
    )
    means = (
        grid.withColumn("w", w)
        .groupBy("b")
        .agg(
            F.sum((F.col("cents") * F.col("w")).cast("decimal(38,0)")).alias("wsum"),
            F.sum(F.col("w").cast("long")).alias("n_eff"),
        )
        .select(
            "b",
            (F.col("wsum").cast("double") / F.col("n_eff").cast("double") / F.lit(100.0)).alias(
                "mean_b"
            ),
        )
    )
    rk = F.row_number().over(Window.orderBy("mean_b", "b"))
    ranked = means.withColumn("rk", rk)
    lo, mid, hi = 2, n_resamples // 2, n_resamples - 2
    pick = ranked.where(F.col("rk").isin([lo, mid, hi])).select(
        F.when(F.col("rk") == lo, F.lit("ci_lo"))
        .when(F.col("rk") == mid, F.lit("ci_mid"))
        .otherwise(F.lit("ci_hi"))
        .alias("stat"),
        F.col("mean_b").alias("value"),
    )
    full = orders.agg(
        (
            F.sum(cents.cast("decimal(38,0)")).cast("double")
            / F.count("*").cast("double")
            / F.lit(100.0)
        ).alias("value")
    ).select(F.lit("mean_full").alias("stat"), "value")
    return pick.unionByName(full).orderBy("stat")


def mann_whitney_u(orders: DataFrame, split_priority: str = "1-URGENT") -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) two-sample test on order totals,
    split by priority — the nonparametric companion to welch_ttest/
    ks_two_sample.  EXACT rank algebra: with doubled ranks the tie-average
    is integer (2·avgrank(v) = 2·cnt_lt(v) + cnt(v) + 1), so
    2R₁ = Σ_g1 values [cnt_g1 · (2·cnt_lt + cnt + 1)] is an exact BIGINT
    and 2U₁ = 2·n₁n₂ + n₁(n₁+1) − 2R₁ likewise.  The normal-approximation
    z (tie-corrected variance) is then ONE IEEE chain on exact integers.

    Scale shape: one value-level aggregate (bounded by distinct cents, not
    rows), a prefix-count window over that bounded table, and a 1-row
    reduce.  Output: (n1, n2, u1_x2, z).
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g1 = (F.col("o_orderpriority") == split_priority).cast("long")
    vals = (
        orders.select(cents.alias("v"), g1.alias("g"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("cnt"), F.sum("g").cast("long").alias("cnt_g1"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = vals.withColumn("cnt_lt", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
    agg = ranked.agg(
        F.sum("cnt_g1").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_g1")).cast("long").alias("n2"),
        F.sum(
            (F.col("cnt_g1") * (2 * F.col("cnt_lt") + F.col("cnt") + 1)).cast("decimal(38,0)")
        ).alias("r1_x2"),
        F.sum(
            (F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")).cast("decimal(38,0)")
        ).alias("tie_term"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    u1_x2 = (
        F.lit(2) * F.col("n1").cast("decimal(38,0)") * F.col("n2").cast("decimal(38,0)")
        + F.col("n1").cast("decimal(38,0)") * (F.col("n1").cast("decimal(38,0)") + 1)
        - F.col("r1_x2")
    )
    n = n1 + n2
    var = (n1 * n2 / 12.0) * ((n + 1.0) - F.col("tie_term").cast("double") / (n * (n - 1.0)))
    z = (u1_x2.cast("double") / 2.0 - n1 * n2 / 2.0) / F.sqrt(var)
    return agg.select(
        "n1", "n2", u1_x2.cast("decimal(38,0)").cast("double").alias("u1_x2"), z.alias("z")
    )


def spearman_corr(lineitem: DataFrame) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_extendedprice —
    Pearson on average-tie ranks, kept EXACT end-to-end: doubled ranks
    (2·avgrank(v) = 2·cnt_lt(v) + cnt(v) + 1) are integers, assigned by a
    value-level prefix count (bounded by distinct values, not rows) and
    joined back; the six sufficient statistics are decimal-exact and the
    final coefficient is the corr_exact IEEE chain.  Output: (n, rho).
    """

    def doubled_ranks(col: str, alias: str):
        vals = (
            lineitem.select(F.col(col).alias("v"))
            .groupBy("v")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        return vals.withColumn(
            alias, 2 * F.coalesce(F.sum("cnt").over(w), F.lit(0)) + F.col("cnt") + 1
        ).select(F.col("v").alias(col), alias)
    rx = doubled_ranks("l_quantity", "rx")
    ry = doubled_ranks("l_extendedprice", "ry")
    ranked = (
        lineitem.select("l_quantity", "l_extendedprice")
        .join(rx, "l_quantity")
        .join(ry, "l_extendedprice")  # AQE broadcasts when small enough
        .select(
            F.col("rx").cast("decimal(38,0)").alias("x"),
            F.col("ry").cast("decimal(38,0)").alias("y"),
        )
    )
    s = ranked.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, syy, sxy = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    rho = (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    return s.select(F.col("n").cast("long").alias("n"), rho.alias("rho"))


def theil_sen_trend(events: DataFrame, event_type: str = "purchase") -> DataFrame:
    """Theil–Sen robust trend of daily revenue: the MEDIAN of all pairwise
    slopes — unlike the OLS fit (:func:`linreg_exact`), up to ~29% of the
    days can be wild outliers without moving the estimate.

    Exact-integer discipline so the oracle replays it bit-for-bit: each
    pair's slope is ``(Δcents · 1e6) DIV Δdays`` (truncating division —
    identical in Spark ``DIV`` and DuckDB ``//``), and the median is the
    LOWER median (rank ``(n+1)//2`` under a total order with (t1, t2)
    tie-breaks) — no float averaging of middle elements anywhere.

    Scale shape: the ONLY corpus-scale work is the daily-revenue
    aggregate (one map-side-combined shuffle).  The pairwise join runs on
    the aggregated series — |days|² pairs, bounded by the calendar, not
    the corpus (a decade of days is ~6.7M pairs — still a single-executor
    broadcast join at any corpus size).  The global rank window over the
    pairs is likewise calendar-bounded, never row-count-bounded.
    Returns one row (n_days, n_pairs, slope_microcents_per_day).
    """
    from pyspark.sql import Window

    daily = (
        events.where(F.col("event_type") == event_type)
        .groupBy(F.expr("CAST(CAST(ts AS LONG) DIV 86400 AS LONG)").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    # three consumers diverge below any exchange (pair sides a/b + the
    # count aggregate) — without materialization Spark re-plans the
    # corpus scan for each; the lazy checkpoint computes the ≤|days|-row
    # series ONCE (same multi-consumer pattern as the boilerplate gram
    # stream, text.py)
    daily = truncate_lineage(daily)
    t = daily.withColumn("t", F.row_number().over(Window.orderBy("day")))
    a, b = t.alias("a"), t.alias("b")
    pairs = (
        a.join(F.broadcast(b), F.col("a.t") < F.col("b.t"))
        .select(
            F.col("a.t").alias("t1"),
            F.col("b.t").alias("t2"),
            F.expr(
                "CAST((b.cents - a.cents) * 1000000 DIV (b.day - a.day) AS BIGINT)"
            ).alias("slope_micro"),
        )
    )
    ranked = pairs.withColumn(
        "rk", F.row_number().over(Window.orderBy("slope_micro", "t1", "t2"))
    )
    # n_days/n_pairs live INSIDE the plan (1-row broadcast aggregate +
    # cross join) — a driver-side daily.count() would re-scan the corpus
    # in a second job.
    counts = F.broadcast(
        daily.agg(F.count("*").cast("long").alias("n_days")).select(
            "n_days",
            (F.col("n_days") * (F.col("n_days") - 1) / 2).cast("long").alias("n_pairs"),
        )
    )
    return (
        ranked.crossJoin(counts)
        .where(F.col("rk") == F.expr("(n_pairs + 1) DIV 2"))
        .select(
            "n_days",
            "n_pairs",
            F.col("slope_micro").alias("slope_microcents_per_day"),
        )
    )

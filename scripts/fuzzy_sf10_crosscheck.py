#!/usr/bin/env python
"""Independent sf10 correctness signal for the fuzzy-linkage family.

The family's DuckDB oracle is the full quadratic levenshtein join —
sf10-infeasible (1.5M records x 3k probes = 4.5B levenshtein calls), so
the sf10 evidence is engine telemetry (SCALE_EVIDENCE.jsonl).  This
script adds two INDEPENDENT exact cross-checks the engine must satisfy
at sf10, both of which would catch a recall or precision bug in the
deletion-neighborhood candidate scheme without any quadratic work:

1. CONTAINMENT CONSISTENCY: dedup_fuzzy_names_d2 runs max_dist=2 over
   customer + planted variants, so its dist<=1 output must CONTAIN every
   pair dedup_fuzzy_names (max_dist=1, customer only) emits — multiset
   containment via exceptAll.  The two runs share no candidate keys (19
   vs 172 variants/row, different join inputs), so a d-dependent recall
   miss in the candidate scheme breaks the containment.  Extras are
   EXPECTED and only counted: they are pairs against planted rows
   (per-probe deletion/insertion variants at dist 1, plus cross hits) —
   planted keys cannot be separated by key range in the scale corpora,
   where replica custkeys exceed the 2/3/4M planted offsets (the known
   r10 key-collision shape that re-keyed the candidate dedupe).

2. EXACT-MATCH GROUND TRUTH: the dist=0 subset of dedup_fuzzy_names must
   equal a plain name-equality equi-join (probes x records on name,
   key != key) — computed with none of the fuzzy machinery.

Usage: python scripts/fuzzy_sf10_crosscheck.py [sf_dir]
Prints one JSON line; exit 1 on any mismatch.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf10")

    from pyspark.sql import SparkSession, functions as F

    from duckdb_age_spark.conf import apply_recommended_conf

    spark = (
        apply_recommended_conf(
            SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))}]")
            .appName("fuzzy-sf10-crosscheck"),
            shuffle_partitions=32,
        )
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    d1 = qs["dedup_fuzzy_names"](spark, sf_dir).cache()
    d2r = qs["dedup_fuzzy_names_d2"](spark, sf_dir).where(F.col("dist") <= 1).cache()
    n1, n2 = d1.count(), d2r.count()
    missing = d1.exceptAll(d2r).count()  # must be 0: d1 pairs d2 failed to find
    extra = d2r.exceptAll(d1).count()  # expected >0: pairs against planted rows

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    probes = cust.where(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("probe_key"), F.col("c_name").alias("name")
    )
    records = cust.select(F.col("c_custkey").alias("match_key"), F.col("c_name").alias("name"))
    exact = (
        probes.join(records, "name")
        .where(F.col("probe_key") != F.col("match_key"))
        .select("probe_key", "match_key")
    )
    z = d1.where(F.col("dist") == 0).select("probe_key", "match_key")
    z_missing = exact.exceptAll(z).count()
    z_extra = z.exceptAll(exact).count()

    out = {
        "sf_dir": sf_dir,
        "d1_pairs": n1,
        "d2_dist_le1_pairs": n2,
        "containment_missing": missing,
        "planted_extras": extra,
        "exact_join_vs_dist0_missing": z_missing,
        "exact_join_vs_dist0_extra": z_extra,
        "ok": missing == z_missing == z_extra == 0,
    }
    print(json.dumps(out))
    return 0 if out["ok"] else 1


if __name__ == "__main__":
    raise SystemExit(main())

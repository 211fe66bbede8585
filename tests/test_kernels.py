"""Kernel-level dispatch + error-string parity tests (reference:
test/sql/age.test error cases), without a Spark session."""

from __future__ import annotations

import re

import pytest

from duckdb_age_spark import errors
from duckdb_age_spark.functions import (
    decrypt_kernel,
    encrypt_kernel,
    encrypt_multi_kernel,
    resolve_identity,
    resolve_recipient,
)
from tests.conftest import PRIV1, PUB1

SECRETS = {"test_secret": {"public_key": PUB1, "private_key": PRIV1}}
NO_SECRETS: dict = {}


def test_dispatch_rules():
    assert resolve_recipient(PUB1, NO_SECRETS) == PUB1  # age1 prefix → raw key
    assert resolve_recipient("test_secret", SECRETS) == PUB1
    assert resolve_identity(PRIV1, NO_SECRETS) == PRIV1
    assert resolve_identity("test_secret", SECRETS) == PRIV1


# reference: test/sql/age.test:24-28
def test_encrypt_invalid_key():
    with pytest.raises(errors.AgeError) as e:
        encrypt_kernel(b"hello world", "invalid_key", NO_SECRETS)
    assert "Invalid age recipient key: invalid_key (not a valid age key or secret name)" in str(e.value)


# reference: test/sql/age.test:30-34
def test_encrypt_malformed_age_key():
    with pytest.raises(errors.AgeError) as e:
        encrypt_kernel(b"hello world", "age1invalid", NO_SECRETS)
    assert str(e.value) == "Invalid age recipient key: age1invalid"


# reference: test/sql/age.test:36-40
def test_encrypt_empty_key():
    with pytest.raises(errors.AgeError) as e:
        encrypt_kernel(b"hello world", "", NO_SECRETS)
    assert str(e.value) == "Invalid age recipient key:  (not a valid age key or secret name)"


def test_encrypt_secret_without_public_key():
    secrets = {"priv_only": {"public_key": None, "private_key": PRIV1}}
    with pytest.raises(errors.AgeError, match="not a valid age key or secret name"):
        encrypt_kernel(b"x", "priv_only", secrets)


# reference: test/sql/age.test:42-47,59-75
def test_secret_name_roundtrip():
    ct = encrypt_kernel(b"both secrets", "test_secret", SECRETS)
    assert decrypt_kernel(ct, "test_secret", SECRETS) == b"both secrets"
    ct2 = encrypt_kernel(b"secret test", PUB1, NO_SECRETS)
    assert decrypt_kernel(ct2, "test_secret", SECRETS) == b"secret test"


# reference: test/sql/age.test:77-81
def test_decrypt_invalid_identity():
    ct = encrypt_kernel(b"test", PUB1, NO_SECRETS)
    with pytest.raises(errors.AgeError) as e:
        decrypt_kernel(ct, "invalid_key", NO_SECRETS)
    assert "Invalid age identity key: invalid_key (not a valid age key or secret name)" in str(e.value)


# reference: test/sql/age.test:83-90 — valid-prefix wrong key → Decryption failed
def test_decrypt_wrong_key():
    ct = encrypt_kernel(b"test", PUB1, NO_SECRETS)
    with pytest.raises(errors.AgeError) as e:
        decrypt_kernel(ct, "AGE-SECRET-KEY-1" + "A" * 58, NO_SECRETS)
    assert str(e.value).startswith("Decryption failed")


# reference: test/sql/age.test:92-96
def test_decrypt_empty_key():
    ct = encrypt_kernel(b"test", PUB1, NO_SECRETS)
    with pytest.raises(errors.AgeError) as e:
        decrypt_kernel(ct, "", NO_SECRETS)
    assert str(e.value) == "Invalid age identity key:  (not a valid age key or secret name)"


# reference: test/sql/age.test:113-117
def test_multi_empty_list():
    with pytest.raises(errors.AgeError) as e:
        encrypt_multi_kernel(b"test", [], NO_SECRETS)
    assert str(e.value) == "Recipients list cannot be empty"


# reference: test/sql/age.test:119-123
def test_multi_invalid_recipient():
    with pytest.raises(errors.AgeError) as e:
        encrypt_multi_kernel(b"test", ["invalid_key"], NO_SECRETS)
    assert str(e.value) == "Invalid recipient: invalid_key"


# reference: rust/src/lib.rs:285 path — resolved-but-malformed age1 key
def test_multi_malformed_at_position():
    with pytest.raises(errors.AgeError) as e:
        encrypt_multi_kernel(b"test", [PUB1, "age1invalid"], NO_SECRETS)
    assert str(e.value) == "Encryption failed: Invalid recipient at position 1: age1invalid"


# reference: test/sql/age.test:125-133
def test_multi_mixed_keys_and_secrets():
    from duckdb_age_spark.functions import decrypt_kernel

    ct = encrypt_multi_kernel(b"mixed", [PUB1, "test_secret"], SECRETS)
    assert ct is not None
    assert decrypt_kernel(ct, PRIV1, NO_SECRETS) == b"mixed"


# --- driver priority order (VERDICT r1 item 1b) ------------------------------


def test_priority_50_covers_every_operator_family():
    """The driver records CORRECTNESS rows for only the first 50 queries()
    entries; this pins that those 50 slots include at least one query from
    every operator family, so a family can never silently lose its driver
    gate when queries are added."""
    from duckdb_age_spark import contract

    names = list(contract.QUERIES)
    first50 = set(names[:50])
    assert names[:50] == contract._PRIORITY_50
    # Membership is the FULL roster per family (not just the current
    # priority picks) so the first-50 list can rotate between rounds —
    # VERDICT r4 item 1 — while this gate still proves every family keeps
    # a driver-attested representative.  The roster moved to
    # duckdb_age_spark/families.py in r13 so scripts/rotation.py (the
    # per-round recompute) and this gate share one source; the inline
    # copy below pins the EXPECTED family keys so a silent roster edit
    # cannot weaken the gate.
    from duckdb_age_spark.families import FAMILIES as families

    assert set(families) == {
        "crypto", "dq", "upsert", "sinks", "setops", "streaming", "text",
        "pipeline", "dedup", "similarity", "grouped_map", "events",
        "window_cube", "graph_layout", "relational", "skew", "stats",
        "temporal", "extension_points", "multimodal", "sketches",
    }
    for family, members in families.items():
        assert first50 & set(members), f"family {family} has no query in the first 50"
    # every priority entry must also have an oracle so all 50 driver rows are
    # full three-check comparisons, not weaker rows-only checks
    assert all(n in contract.ORACLE_SQL for n in contract._PRIORITY_50)


# --- bench contention guard: the run compared only with itself ---------------


def test_bench_contention_reasons():
    """The rule that decides whether a bench snapshot is tainted, as a
    table: (load_start, load_end, cpus) -> reasons.  Start load is judged
    against cpus/2 and end load against cpus."""
    import bench

    quiet = ([0.3, 0.4, 0.5], [1.2, 0.8, 0.6], 4)
    cases = [
        (quiet, []),
        # start load over cpus/2, on each window independently (the 5m one
        # catches a run started just after heavy jobs, 1m already decayed)
        (([2.5, 0.4, 0.5], *quiet[1:]), ["load_avg_1m=2.5>2.0"]),
        (([0.5, 3.11, 5.69], *quiet[1:]), ["load_avg_5m=3.11>2.0"]),
        (([2.01, 2.02, 0.5], *quiet[1:]), ["load_avg_1m=2.01>2.0", "load_avg_5m=2.02>2.0"]),
        # exactly cpus/2 is not over it; the threshold scales with the box
        (([2.0, 2.0, 2.0], *quiet[1:]), []),
        (([3.0, 3.0, 3.0], quiet[1], 8), []),
        # end load over cpus (the run's own executors account for less)
        ((quiet[0], [4.5, 2.0, 1.0], 4), ["load_avg_1m_end=4.5>4"]),
        ((quiet[0], [4.0, 2.0, 1.0], 4), []),
        # missing signals never tag: getloadavg raised
        (([], [], 4), []),
        # every signal at once
        (([5.46, 4.03, 2.57], [10.58, 5.85, 4.07], 4), [
            "load_avg_1m=5.46>2.0",
            "load_avg_5m=4.03>2.0",
            "load_avg_1m_end=10.58>4",
        ]),
    ]
    for args, want in cases:
        assert bench.contention_reasons(*args) == want, args


def test_kernel_bench_starts_no_workers(monkeypatch):
    """The kernel bracket is single-core only: it must start no thread and
    no process pool, and report exactly its four single-core figures."""
    import concurrent.futures
    import threading

    import bench

    def _refuse(*_a, **_k):
        raise AssertionError("kernel bracket started a worker")

    monkeypatch.setattr(threading.Thread, "start", _refuse)
    monkeypatch.setattr(concurrent.futures, "ProcessPoolExecutor", _refuse)
    out = bench._kernel_bench()
    assert set(out) == {
        "kernel_encrypt_us_per_row",
        "kernel_decrypt_us_per_row",
        "kernel_encrypt_mb_per_s_per_core",
        "kernel_decrypt_mb_per_s_per_core",
    }
    assert all(v > 0 for v in out.values()), out


def test_bench_reads_only_its_knobs():
    """Every SPARK_GRAFT_* environment variable bench.py reads, pinned, so
    a box-calibrated gate knob cannot creep back in unnoticed."""
    import ast
    import pathlib

    import bench

    tree = ast.parse(pathlib.Path(bench.__file__).read_text())
    knobs = {
        node.value.removeprefix("SPARK_GRAFT_")
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and re.fullmatch(r"SPARK_GRAFT_\w+", node.value)
    }
    assert knobs == {
        "CPUS",
        "SF_DIR",
        "DRIVER_MEM",
        "BENCH_REPS",
        "HYGIENE_DIR",
    }


# --- float-sum determinism guard (VERDICT r6 item 2) --------------------------


def test_every_rounded_sum_oracle_is_audited():
    """Every oracle whose SQL rounds a sum() is a member of the IEEE
    reduction-order hazard class that flaked ``tpch_q9`` in round 5: if the
    summed expression is a non-integer DOUBLE, the result can depend on
    Spark's partition-dependent reduction tree.  This gate pins the full
    member list with a per-query audit verdict so a NEW query that rounds a
    sum cannot land without a conscious entry here (and, when 'swept', a
    matching row in scripts/sweep_determinism.py FAMILY).

    Audit vocabulary:
      int-units  — the sum's operand is an exact integer (CAST(round(x*scale)
                   AS BIGINT) cents/ppm/nano units, or counts): exact in any
                   order, safe by construction (operators/exact.py).
      int-valued — the operand is a DOUBLE but every value is integer-valued
                   (l_quantity): IEEE doubles add exactly below 2^53, safe.
      swept      — genuinely order-sensitive float terms; covered by the
                   rotating-config determinism sweep FAMILY.
    """
    import re

    from duckdb_age_spark import contract

    audited = {
        # name -> verdict (see vocabulary above)
        "text_unigram_logprob": "int-units",
        "setops_full_outer_reconcile": "int-units",
        "stats_price_histogram": "int-units",
        "stats_corr_exact": "int-units",
        "tpch_q1": "int-units",
        "tpch_q14": "int-units",   # converted r7 — also in sweep FAMILY
        "tpch_q18": "int-valued",  # sum(l_quantity): integer-valued doubles
        "tpch_q22": "int-units",
        "tpch_q8": "int-units",
        "tpch_q11": "int-units",
        "skew_salted_join": "int-valued",  # sum(l_quantity)
        "pivot_priority_by_flag": "int-units",
        "rollup_timebuckets": "int-units",
        "stats_label_centroids": "int-units",
        "stats_linreg": "int-units",
        "stats_benford": "int-units",
        "text_bigram_logprob": "int-units",
        "rollup_order_concurrency": "int-units",  # n_open is a count
        "stats_quantile_binning": "int-units",
        "stats_ks_test": "int-units",
        "stats_gini": "int-units",
        "events_uptime": "int-units",  # gap sums are integer microseconds
        "rollup_autocorr": "int-units",
        "stats_psi_drift": "int-units",  # nano-int terms, order-free
        "stats_welch_ttest": "int-units",
        "events_pareto_share": "int-units",  # c is a count
        "relational_revenue_share": "int-units",
        "text_langid_confusion": "int-units",  # n is a count
        "relational_transition_matrix": "int-units",
        "graph_assortativity": "int-units",  # degrees are integers
        "stats_grouped_trend": "int-units",
        "dedup_threshold_sweep": "int-units",  # dot of 6-dp-fixed ints
        "relational_share_of_parent": "int-units",
        "stats_mann_whitney": "int-units",
        "rollup_acf_multi_lag": "int-units",
        "events_dow_seasonality": "int-units",
        "rollup_anomaly_z": "int-units",
    }
    def _round_wraps_sum(sql: str) -> bool:
        # Balanced-paren scan of each round(...) argument (ADVICE r7: a
        # fixed 400-char window let a sum() sitting deeper in a long CTE
        # escape the audit).  Flags round(<arg>) iff a sum( appears
        # anywhere INSIDE the balanced argument.  String literals are
        # blanked first so a ')' inside '...' can't close the span early
        # and hide a following sum() (code-review r8); '' escapes are
        # consumed by the non-greedy repeat.
        sql = re.sub(r"'(?:[^']|'')*'", "''", sql)
        for rm in re.finditer(r"round\(", sql, re.I):
            depth, i = 1, rm.end()
            while i < len(sql) and depth:
                if sql[i] == "(":
                    depth += 1
                elif sql[i] == ")":
                    depth -= 1
                i += 1
            if re.search(r"\bsum\(", sql[rm.end() : i - 1], re.I):
                return True
        return False

    members = {name for name, sql in contract.ORACLE_SQL.items() if _round_wraps_sum(sql)}
    # detector self-check: the scan must still see known TRUE positives
    # (sum INSIDE a round argument), so a future regex regression can't
    # silently empty the member set.  Note sum(round(...)) — per-row round
    # then exact integer sum, e.g. tpch_q1 — is correctly NOT a member:
    # that shape is order-insensitive by construction.
    assert {"tpch_q14", "stats_gini", "events_uptime"} <= members
    unaudited = members - set(audited)
    assert not unaudited, (
        f"oracles round a sum() without a determinism audit entry: {sorted(unaudited)} "
        "— classify each as int-units / int-valued, or convert to exact integer "
        "units (operators/exact.py) / add to sweep_determinism.py FAMILY"
    )
    # swept members must actually be in the sweep FAMILY file
    import os

    fam_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts",
        "sweep_determinism.py",
    )
    fam_src = open(fam_path).read()
    for name, verdict in audited.items():
        if verdict == "swept":
            assert f'"{name}"' in fam_src, f"{name} audited as swept but absent from FAMILY"
    # the r5 flake class itself stays pinned in the sweep
    for pinned in ("tpch_q9", "tpch_q14"):
        assert f'"{pinned}"' in fam_src


def test_negative_dividend_integer_division_parity(spark):
    """Pin the semantics every DIV-based oracle depends on: Spark `DIV`
    and DuckDB integer `//` BOTH truncate toward zero on negative
    dividends (-7 → -3, not -4).  theil_sen_trend divides a negative
    dividend and relies on this outright; zipf/importance-weights keep
    dividends positive only as defense-in-depth (see their docstrings).
    If either engine ever switches to floored division this fails loudly
    at the exact operator family affected (ADVICE r8)."""
    import duckdb

    cases = [(-7, 2), (7, -2), (-7, -2), (-1, 3), (-999999999999, 7), (5, 3)]
    duck = duckdb.sql(
        "SELECT " + ", ".join(f"({a}) // ({b})" for a, b in cases)
    ).fetchone()
    spk = spark.sql(
        "SELECT " + ", ".join(f"({a}) DIV ({b})" for a, b in cases)
    ).first()
    py_trunc = [int(a / b) for a, b in cases]  # Python int() truncates toward 0
    assert list(duck) == py_trunc, "DuckDB // no longer truncates toward zero"
    assert list(spk) == py_trunc, "Spark DIV no longer truncates toward zero"
    # and HUGEINT `//` (what the zipf oracle actually uses) agrees too;
    # DECIMAL `//` does NOT (it silently becomes DOUBLE true-division) —
    # which is why no oracle uses DECIMAL with `//`
    assert duckdb.sql("SELECT (-7)::HUGEINT // 2::HUGEINT").fetchone()[0] == -3

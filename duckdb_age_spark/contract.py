"""Driver-contract queries + DuckDB oracle SQL (SURVEY.md §7.4).

Every entry in ``QUERIES`` has a Spark builder (spark, sf_dir) → DataFrame
and, in ``ORACLE_SQL``, an equivalent DuckDB statement over the same parquet
tables.  Design rules that keep the two engines value-identical:

* deterministic outputs only — never raw ciphertext/keys (nondeterministic),
  only round-trip booleans, lengths, digests, counts, rounded doubles;
* every integer column cast to BIGINT on both sides; floats rounded (2-4 dp)
  BEFORE any rank/filter that depends on them; rank ties broken by id;
* timestamps leave as formatted strings or epoch seconds (truncated the same
  way on both sides); Spark session TZ pinned to UTC in the callables;
* every hash is md5 (bit-identical in DuckDB); min over hex strings is
  lexicographic in both engines.
* double→int conversion must go through an explicit round(): CAST truncates
  in Spark but rounds in DuckDB, so `price*100` cents diverge without it
  (caught by stats_corr_exact); float round() of engine-computed doubles is
  likewise banned from compared columns — round in integer arithmetic
  (quality_score) or emit the unrounded double of identical IEEE ops on
  identical exact integers (corr_exact, percent_rank).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from .crypto import keys as age_keys
from .operators.exact import exact_sum, sql_exact_sum, sql_units, units

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
    # across driver fixture generations; sources/tables.py sniffs the footer
    # and normalizes either layout to TimestampType.
    from .sources.tables import read_table

    return read_table(spark, sf_dir, name)


def _prep(spark: SparkSession) -> None:
    """Idempotent session prep: register the age functions, pin UTC."""
    from .register import register

    register(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")


_BUCKETED_CLEANUP: set[str] = set()


def _register_bucketed_cleanup(*tables: str) -> None:
    """Drop the pid-keyed bucketed catalog tables at interpreter exit (they
    must outlive their creating call — the returned DataFrames read them
    lazily — but should not outlive the process in a shared metastore)."""
    import atexit

    if not _BUCKETED_CLEANUP:

        def _drop_all() -> None:
            try:
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
                if spark is not None:
                    for t in _BUCKETED_CLEANUP:
                        spark.sql(f"DROP TABLE IF EXISTS {t}")
            except Exception:
                pass  # best-effort: session may already be gone

        atexit.register(_drop_all)
    _BUCKETED_CLEANUP.update(tables)


def _drop_stale_bucketed_tables(spark: SparkSession) -> None:
    """Eagerly drop pid-keyed bucketed tables left behind by processes that
    no longer exist.  The atexit hook above is a no-op whenever the
    SparkSession is stopped before interpreter exit (bench.py always stops
    it to bracket the kernel control — ADVICE r7), so without this sweep a
    persisted metastore accumulates one table pair per bench run.  Tables
    whose pid is still alive belong to a concurrent run and are left
    alone.

    SINGLE-HOST assumption (ADVICE r8): liveness is os.kill(pid, 0) on
    THIS machine, so a metastore shared across hosts would mis-reap a
    remote run's live tables (its pid doesn't exist locally).  Fine here —
    the driver's warehouse is a per-checkout ./spark-warehouse — but a
    multi-host deployment must key tables by (hostname, pid) and reap only
    entries matching the local hostname."""
    import os
    import re

    for t in spark.catalog.listTables():
        m = re.fullmatch(r"age_ctr_\w+?_b_(\d+)", t.name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)  # raises if the owner is gone
        except ProcessLookupError:
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        except (PermissionError, OverflowError, ValueError):
            # PermissionError: alive under another uid — not ours to drop.
            # Overflow/ValueError: a \d+ suffix that is not a valid pid
            # (crafted table name) must not crash the query (code-review
            # r8); leave it, the atexit/bench cleanup of its creator owns
            # it.  Residual: pid REUSE keeps a stale pair alive until the
            # recycled pid exits — eventual cleanup, never growth.
            pass


def _scratch(name: str, sf_dir: str) -> str:
    """Deterministic scratch dir for sink/upsert round-trips.

    A FIXED path per (query, fixture, process) that is wiped and recreated
    on every call — unlike ``tempfile.mkdtemp``, repeated oracle/bench runs
    within a process reuse one directory instead of leaking a table copy per
    invocation.  The pid component keeps concurrent runs (parallel pytest
    workers, bench + oracle check on the same fixture) from wiping each
    other's lazily-read tables mid-query, and makes the path unpredictable
    enough to avoid the shared-/tmp symlink-hijack surface of a fixed name.
    The returned DataFrames read from this dir lazily, so it must outlive
    the call (no TemporaryDirectory context manager).
    """
    import hashlib
    import shutil
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = os.path.join(
        tempfile.gettempdir(), "age_spark_scratch", f"{name}-{key}-{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


# Deterministic contract keypairs (derived from fixed seeds — same values
# every run, on every machine).
KP1 = age_keys.keygen_from_seed(b"contract-key-1")
KP2 = age_keys.keygen_from_seed(b"contract-key-2")
KP3 = age_keys.keygen_from_seed(b"contract-key-3")

# Oracle-side closed form of crypto.format.ciphertext_length, with every
# constant solved FROM that function (single source of truth — a wire-format
# change shifts both sides together and the golden-ciphertext test still
# pins absolute sizes).  ct_len(L, n) is affine in n and piecewise-affine in
# L: base + stanza*n + NONCE + L + TAG*ceil(L/CHUNK); probing it at
# (L=0, n=1) and (L=0, n=2) recovers the per-recipient stanza size and the
# fixed base (version line + MAC line) without restating any wire literal.
from .crypto import format as _age_format  # noqa: E402

_hdr1 = _age_format.ciphertext_length(0, 1) - _age_format.NONCE_SIZE - _age_format.TAG_SIZE
_CT_STANZA = (
    _age_format.ciphertext_length(0, 2) - _age_format.NONCE_SIZE - _age_format.TAG_SIZE - _hdr1
)
_CT_BASE = _hdr1 - _CT_STANZA  # version line + MAC line
assert _CT_BASE == len(_age_format.VERSION_LINE) + 1 + 4 + 43 + 1  # sanity pin
_CT_LEN_SQL = (
    f"({_CT_BASE} + {_CT_STANZA} * {{n}} + {_age_format.NONCE_SIZE} "
    "+ octet_length(encode(text)) "
    f"+ {_age_format.TAG_SIZE} * greatest(1, CAST(ceil(octet_length(encode(text)) "
    f"/ {_age_format.CHUNK_SIZE}.0) AS BIGINT)))::BIGINT"
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# ===========================================================================
# A. age-encryption contract queries (SURVEY.md §2a)
# ===========================================================================


@_q(
    "age_roundtrip",
    f"""
    SELECT doc_id, true AS rt_ok, {_CT_LEN_SQL.format(n=1)} AS ct_len
    FROM documents
    """,
)
def age_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encrypt→decrypt over documents with a seeded keypair; deterministic
    outputs: round-trip bool + ciphertext length (exact closed form)."""
    _prep(spark)
    docs = load(spark, sf_dir, "documents")
    ct = F.call_function("age_encrypt", F.col("text").cast("binary"), F.lit(KP1.public_key))
    return (
        docs.withColumn("ct", ct)
        .select(
            "doc_id",
            (
                F.call_function("age_decrypt", F.col("ct"), F.lit(KP1.private_key))
                == F.col("text").cast("binary")
            ).alias("rt_ok"),
            F.octet_length("ct").cast("bigint").alias("ct_len"),
        )
    )


@_q(
    "age_multi_roundtrip",
    f"""
    SELECT doc_id, true AS ok_k1, true AS ok_k3, {_CT_LEN_SQL.format(n=3)} AS ct_len
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def age_multi_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """age_encrypt_multi to 3 recipients; any identity decrypts."""
    _prep(spark)
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    recips = F.array(F.lit(KP1.public_key), F.lit(KP2.public_key), F.lit(KP3.public_key))
    ct = F.call_function("age_encrypt_multi", F.col("text").cast("binary"), recips)
    return docs.withColumn("ct", ct).select(
        "doc_id",
        (F.call_function("age_decrypt", F.col("ct"), F.lit(KP1.private_key)) == F.col("text").cast("binary")).alias("ok_k1"),
        (F.call_function("age_decrypt", F.col("ct"), F.lit(KP3.private_key)) == F.col("text").cast("binary")).alias("ok_k3"),
        F.octet_length("ct").cast("bigint").alias("ct_len"),
    )


@_q(
    "age_keygen_check",
    """
    SELECT 50::BIGINT AS n_rows, true AS all_distinct, true AS formats_ok,
           62::BIGINT AS pub_len, 74::BIGINT AS priv_len
    """,
)
def age_keygen_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row keygen: 50 rows → 50 distinct well-formed pairs (the
    documented semantics the reference's per-chunk quirk violates)."""
    _prep(spark)
    kp = spark.range(50).select(F.call_function("age_keygen").alias("kp"))
    return kp.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.countDistinct("kp.public_key") == 50).alias("all_distinct"),
        F.min(
            F.col("kp.public_key").startswith("age1")
            & F.col("kp.private_key").startswith("AGE-SECRET-KEY-1")
        ).alias("formats_ok"),
        F.max(F.length("kp.public_key")).cast("bigint").alias("pub_len"),
        F.max(F.length("kp.private_key")).cast("bigint").alias("priv_len"),
    )


@_q(
    "age_seeded_keygen",
    """
    SELECT CAST(r AS BIGINT) AS id, true AS deterministic, true AS formats_ok
    FROM range(10) t(r)
    """,
)
def age_seeded_keygen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """age_keygen_from_seed: same seed → same pair (our fix of the
    reference's acknowledged nondeterminism bug — SURVEY.md §2a)."""
    _prep(spark)
    seed = F.concat(F.lit("seed-"), F.col("id").cast("string")).cast("binary")
    df = spark.range(10).select(
        F.col("id").cast("bigint").alias("id"),
        F.call_function("age_keygen_from_seed", seed).alias("kp_a"),
        F.call_function("age_keygen_from_seed", seed).alias("kp_b"),
    )
    return df.select(
        "id",
        (F.col("kp_a.public_key") == F.col("kp_b.public_key")).alias("deterministic"),
        (
            F.col("kp_a.public_key").startswith("age1")
            & F.col("kp_a.private_key").startswith("AGE-SECRET-KEY-1")
        ).alias("formats_ok"),
    )


_ERROR_CASES = [
    ("encrypt_invalid_key", "Invalid age recipient key: invalid_key (not a valid age key or secret name)"),
    ("encrypt_malformed", "Invalid age recipient key: age1invalid"),
    ("encrypt_empty_key", "Invalid age recipient key:  (not a valid age key or secret name)"),
    ("decrypt_invalid_identity", "Invalid age identity key: invalid_key (not a valid age key or secret name)"),
    ("decrypt_wrong_key", "Decryption failed"),
    ("decrypt_empty_key", "Invalid age identity key:  (not a valid age key or secret name)"),
    ("multi_empty_list", "Recipients list cannot be empty"),
    ("multi_invalid_recipient", "Invalid recipient: invalid_key"),
    ("multi_bad_position", "Encryption failed: Invalid recipient at position 1: age1invalid"),
]


@_q(
    "age_error_dispatch",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{name}', true)" for name, _ in _ERROR_CASES)
    + ") AS t(case_name, error_ok)",
)
def age_error_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden error-message parity (reference: test/sql/age.test error
    blocks), surfaced as booleans so the oracle can assert them."""
    _prep(spark)
    from pyspark.sql.types import BooleanType

    def check(case: str) -> bool:
        from duckdb_age_spark import errors
        from duckdb_age_spark.functions import (
            decrypt_kernel,
            encrypt_kernel,
            encrypt_multi_kernel,
        )

        pub = KP1.public_key
        ct = encrypt_kernel(b"test", pub, {})
        try:
            if case == "encrypt_invalid_key":
                encrypt_kernel(b"x", "invalid_key", {})
            elif case == "encrypt_malformed":
                encrypt_kernel(b"x", "age1invalid", {})
            elif case == "encrypt_empty_key":
                encrypt_kernel(b"x", "", {})
            elif case == "decrypt_invalid_identity":
                decrypt_kernel(ct, "invalid_key", {})
            elif case == "decrypt_wrong_key":
                decrypt_kernel(ct, "AGE-SECRET-KEY-1" + "A" * 58, {})
            elif case == "decrypt_empty_key":
                decrypt_kernel(ct, "", {})
            elif case == "multi_empty_list":
                encrypt_multi_kernel(b"x", [], {})
            elif case == "multi_invalid_recipient":
                encrypt_multi_kernel(b"x", ["invalid_key"], {})
            elif case == "multi_bad_position":
                encrypt_multi_kernel(b"x", [pub, "age1invalid"], {})
            return False
        except errors.AgeError as e:
            expected = dict(_ERROR_CASES)[case]
            return str(e).startswith(expected) if case == "decrypt_wrong_key" else str(e) == expected

    check_udf = F.udf(check, BooleanType())
    cases = spark.createDataFrame([(n,) for n, _ in _ERROR_CASES], "case_name string")
    return cases.select("case_name", check_udf("case_name").alias("error_ok"))


@_q(
    "age_secret_roundtrip",
    "SELECT doc_id, true AS rt_ok FROM documents WHERE doc_id % 20 = 0",
)
def age_secret_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secret-name dispatch end-to-end: encrypt + decrypt via a named secret
    created through the SecretManager (reference: test/sql/age.test:59-75)."""
    from .register import register
    from .secrets import default_manager

    register(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    default_manager.create_secret(
        "contract_secret", public_key=KP1.public_key, private_key=KP1.private_key, replace=True
    )
    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    ct = F.call_function("age_encrypt", F.col("text").cast("binary"), F.lit("contract_secret"))
    return docs.select(
        "doc_id",
        (
            F.call_function("age_decrypt", ct, F.lit("contract_secret"))
            == F.col("text").cast("binary")
        ).alias("rt_ok"),
    )


@_q(
    "age_secrets_listing",
    """
    SELECT * FROM (VALUES
      ('listing_a', 'age', 'config', 'key-a', true),
      ('listing_b', 'age', 'config', NULL, true)
    ) AS t(name, type, provider, key_id, private_redacted)
    ORDER BY name
    """,
)
def age_secrets_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duckdb_secrets() analog: create→list with redaction (reference:
    test/sql/age_secret.test:23-41)."""
    from .register import register
    from .secrets import default_manager

    register(spark)
    default_manager.create_secret(
        "listing_a", public_key=KP1.public_key, private_key=KP1.private_key, key_id="key-a", replace=True
    )
    default_manager.create_secret(
        "listing_b", public_key=KP2.public_key, private_key=KP2.private_key, replace=True
    )
    df = default_manager.secrets(spark)
    return (
        df.where(F.col("name").startswith("listing_"))
        .select(
            "name",
            "type",
            "provider",
            "key_id",
            (F.col("private_key") == "***REDACTED***").alias("private_redacted"),
        )
        .orderBy("name")
    )


_SECRET_FILE_CASES = [
    "file_create_roundtrip",
    "file_trimmed",
    "exclusive_public",
    "exclusive_private",
    "missing_public_file",
    "missing_private_file",
    "too_large_file",
    "bad_prefix_public_file",
    "bad_prefix_private_file",
]


@_q(
    "age_secret_files",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{name}', true)" for name in _SECRET_FILE_CASES)
    + ") AS t(case_name, ok)",
)
def age_secret_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-file loader end-to-end (reference: src/age_extension.cpp:47-71
    ReadKeyFromFile + :81-135 inline-xor-file validation, exercised by
    test/sql/age_secret.test:63-106): file-based CREATE SECRET round-trips,
    whitespace is trimmed, inline+file is rejected, and the missing /
    too-large / bad-prefix taxonomy surfaces the exact reference error
    strings.  File I/O happens driver-side in this builder (the oracle
    cannot touch the filesystem), and every outcome is emitted as a boolean
    the VALUES oracle asserts — the age_error_dispatch pattern."""
    from . import errors
    from .functions import decrypt_kernel, encrypt_kernel
    from .secrets import default_manager

    _prep(spark)
    base = _scratch("secret_files", sf_dir)
    pub_path = os.path.join(base, "key.pub")
    priv_path = os.path.join(base, "key.txt")
    with open(pub_path, "w") as f:
        f.write(KP1.public_key)
    with open(priv_path, "w") as f:
        f.write(KP1.private_key)
    trimmed_path = os.path.join(base, "trimmed.pub")
    with open(trimmed_path, "w") as f:
        f.write(f"  {KP1.public_key}\n\n")
    big_path = os.path.join(base, "big.pub")
    with open(big_path, "wb") as f:
        f.write(b"x" * (1024 * 1024 + 1))
    junk_path = os.path.join(base, "junk.txt")
    with open(junk_path, "w") as f:
        f.write("not a key")
    missing = os.path.join(base, "nope.txt")

    def expect_error(expected: str, **kwargs) -> bool:
        try:
            default_manager.create_secret("sf_err", replace=True, **kwargs)
            return False
        except errors.AgeError as e:
            return str(e) == expected

    results: dict[str, bool] = {}
    s = default_manager.create_secret(
        "sf_files", public_key_file=pub_path, private_key_file=priv_path, replace=True
    )
    ct = encrypt_kernel(b"file-loaded", s.public_key, {})
    results["file_create_roundtrip"] = decrypt_kernel(ct, s.private_key, {}) == b"file-loaded"
    s2 = default_manager.create_secret("sf_trim", public_key_file=trimmed_path, replace=True)
    results["file_trimmed"] = s2.public_key == KP1.public_key
    results["exclusive_public"] = expect_error(
        errors.BOTH_PUBLIC_ERR, public_key=KP1.public_key, public_key_file=pub_path
    )
    results["exclusive_private"] = expect_error(
        errors.BOTH_PRIVATE_ERR, private_key=KP1.private_key, private_key_file=priv_path
    )
    results["missing_public_file"] = expect_error(
        errors.failed_to_read_key_file("public", errors.key_file_missing(missing)),
        public_key_file=missing,
    )
    results["missing_private_file"] = expect_error(
        errors.failed_to_read_key_file("private", errors.key_file_missing(missing)),
        private_key_file=missing,
    )
    results["too_large_file"] = expect_error(
        errors.failed_to_read_key_file("public", errors.key_file_too_large(big_path)),
        public_key_file=big_path,
    )
    results["bad_prefix_public_file"] = expect_error(
        errors.failed_to_read_key_file("public", errors.PUBLIC_KEY_FILE_PREFIX_ERR),
        public_key_file=junk_path,
    )
    results["bad_prefix_private_file"] = expect_error(
        errors.failed_to_read_key_file("private", errors.PRIVATE_KEY_FILE_PREFIX_ERR),
        private_key_file=junk_path,
    )
    return spark.createDataFrame(
        [(n, bool(results[n])) for n in _SECRET_FILE_CASES], "case_name string, ok boolean"
    )


def _age_version_oracle() -> str:
    # Single source of truth: the oracle literal is generated from the same
    # constant the UDF returns (functions.py ENGINE_VERSION).
    from .functions import ENGINE_VERSION

    return f"SELECT '{ENGINE_VERSION}' AS version"


@_q("age_version", _age_version_oracle())
def age_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """age_version() scalar (reference: src/age_extension.cpp version
    function) — one deterministic row."""
    _prep(spark)
    return spark.range(1).select(F.call_function("age_version").alias("version"))


_HOURLY_SQL = """
    SELECT hour(ts)::BIGINT AS hour, event_type, count(*)::BIGINT AS n_events
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """


@_q(
    "dq_report",
    """
    SELECT 'customer_dup_key' AS check, (count(c_custkey) - count(DISTINCT c_custkey))::BIGINT AS violations FROM customer
    UNION ALL
    SELECT 'lineitem_discount_range', sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
    UNION ALL
    SELECT 'lineitem_nonpositive_qty', sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::BIGINT FROM lineitem
    UNION ALL
    SELECT 'lineitem_orphan_order', count(*)::BIGINT FROM lineitem
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    UNION ALL
    SELECT 'orders_nonpositive_price', sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)::BIGINT FROM orders
    UNION ALL
    SELECT 'orders_null_custkey', sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT FROM orders
    UNION ALL
    SELECT 'orders_orphan_custkey', count(*)::BIGINT FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
    ORDER BY 1
    """,
)
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dq import dq_report as _dq

    _prep(spark)
    return _dq(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer"), load(spark, sf_dir, "lineitem")
    )


@_q(
    "upsert_merge",
    """
    WITH updates AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 10 = 0),
    merged AS (
      SELECT * FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
      UNION ALL SELECT * FROM updates)
    SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_bal
    FROM merged GROUP BY 1 ORDER BY 1
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... FROM parity (reference host-engine surface, SURVEY §2b):
    copy customer to a scratch dir, MERGE a +1000-balance update for every
    10th customer via the keyed parquet upsert, and aggregate the published
    table — must equal the oracle's pure-SQL merge of the original."""
    from .sources import upsert_parquet

    _prep(spark)
    path = _scratch("upsert", sf_dir) + "/customer"
    cust = load(spark, sf_dir, "customer")
    cust.write.parquet(path)
    updates = cust.where(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + 1000.0
    )
    upsert_parquet(spark, path, updates, "c_custkey")
    return (
        spark.read.parquet(path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            exact_sum(units("c_acctbal"), 100.0, "total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "upsert_cdc_merge",
    """
    WITH latest AS (
      -- the change feed below plants, per key class: updates (custkey%10=0,
      -- seq 1), deletes (custkey%15=0, seq 2), inserts (fresh keys 900001-3,
      -- seq 1); keys hit by both (%30=0) resolve to the HIGHER seq = delete
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, op FROM (
        SELECT *, row_number() OVER (PARTITION BY c_custkey
                                     ORDER BY seq DESC, (op = 'D') DESC) AS rn
        FROM (
          SELECT c_custkey, c_name, c_nationkey, c_acctbal + 1000.0 AS c_acctbal,
                 c_mktsegment, 'U' AS op, 1 AS seq
          FROM customer WHERE c_custkey % 10 = 0
          UNION ALL
          SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'D', 2
          FROM customer WHERE c_custkey % 15 = 0
          UNION ALL
          SELECT 900000 + i, 'NEW_' || (900000 + i), 1, 500.0 * i, 'CDC_SEG', 'I', 1
          FROM (SELECT unnest([1, 2, 3]) AS i)))
      WHERE rn = 1),
    merged AS (
      SELECT * EXCLUDE (op) FROM (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, NULL AS op
        FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM latest)
        UNION ALL
        SELECT * FROM latest WHERE op != 'D'))
    SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_bal
    FROM merged GROUP BY 1 ORDER BY 1
    """,
)
def upsert_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply with DELETES: a change batch planting updates (every 10th
    key), deletes (every 15th), fresh inserts, and same-key seq conflicts
    (every 30th gets update seq 1 + delete seq 2 — latest wins) merged into
    a scratch copy via apply_cdc_parquet, then aggregated — must equal the
    oracle's pure-SQL MERGE of the original."""
    from .sources import apply_cdc_parquet

    _prep(spark)
    path = _scratch("upsert_cdc", sf_dir) + "/customer"
    cust = load(spark, sf_dir, "customer")
    cust.write.parquet(path)
    updates = (
        cust.where(F.col("c_custkey") % 10 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(1))
    )
    deletes = (
        cust.where(F.col("c_custkey") % 15 == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("seq", F.lit(2))
    )
    inserts = spark.createDataFrame(
        [(900000 + i, f"NEW_{900000 + i}", 1, 500.0 * i, "CDC_SEG", "I", 1) for i in (1, 2, 3)],
        "c_custkey bigint, c_name string, c_nationkey bigint, c_acctbal double,"
        " c_mktsegment string, op string, seq int",
    )
    changes = updates.unionByName(deletes).unionByName(inserts.select(*updates.columns))
    apply_cdc_parquet(spark, path, changes, "c_custkey", op_col="op", seq_col="seq")
    return (
        spark.read.parquet(path)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            exact_sum(units("c_acctbal"), 100.0, "total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@_q("sink_csv_roundtrip", _HOURLY_SQL)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source: write events to CSV, read back, aggregate — the
    result must equal the oracle computed from the original parquet."""
    from .operators.events import hourly_activity

    _prep(spark)
    path = _scratch("sink_csv", sf_dir)
    load(spark, sf_dir, "events").write.mode("overwrite").option("header", True).option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).csv(path)
    back = (
        spark.read.option("header", True)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
        .option("inferSchema", True)
        .csv(path)
    )
    out = hourly_activity(back)
    return out.select(F.col("hour").cast("bigint"), "event_type", F.col("n_events").cast("bigint"))


@_q("sink_json_roundtrip", _HOURLY_SQL)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip, same oracle as the CSV one."""
    from .operators.events import hourly_activity

    _prep(spark)
    path = _scratch("sink_json", sf_dir)
    load(spark, sf_dir, "events").write.mode("overwrite").option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ).json(path)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    back = spark.read.schema(schema).option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").json(path)
    out = hourly_activity(back)
    return out.select(F.col("hour").cast("bigint"), "event_type", F.col("n_events").cast("bigint"))


@_q("sink_orc_roundtrip", _HOURLY_SQL)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip (columnar alternative to parquet; same
    hourly oracle)."""
    from .operators.events import hourly_activity

    _prep(spark)
    path = _scratch("sink_orc", sf_dir)
    load(spark, sf_dir, "events").write.mode("overwrite").orc(path)
    out = hourly_activity(spark.read.orc(path))
    return out.select(F.col("hour").cast("bigint"), "event_type", F.col("n_events").cast("bigint"))


@_q("sink_partitioned_roundtrip", _HOURLY_SQL)
def sink_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-partitioned parquet sink (partitionBy day — the layout that makes
    time-range scans prune directories at 100 TB), read back through partition
    discovery and re-aggregated against the same hourly oracle."""
    from .operators.events import hourly_activity

    _prep(spark)
    path = _scratch("sink_part", sf_dir)
    ev = load(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    out = hourly_activity(spark.read.parquet(path))
    return out.select(F.col("hour").cast("bigint"), "event_type", F.col("n_events").cast("bigint"))


@_q(
    "setops_customer_cohorts",
    """
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
         y97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'),
         both_years AS (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97),
         churned    AS (SELECT o_custkey FROM y96 EXCEPT    SELECT o_custkey FROM y97),
         either_y   AS (SELECT o_custkey FROM y96 UNION     SELECT o_custkey FROM y97)
    SELECT 'both'::VARCHAR AS cohort, count(*)::BIGINT AS n FROM both_years
    UNION ALL SELECT 'churned', count(*)::BIGINT FROM churned
    UNION ALL SELECT 'either', count(*)::BIGINT FROM either_y
    ORDER BY cohort
    """,
)
def setops_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (INTERSECT / EXCEPT / UNION-distinct) as cohort algebra
    over yearly active-customer sets."""
    _prep(spark)
    orders = load(spark, sf_dir, "orders")

    def active(y: int):
        return (
            orders.where(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = active(1996), active(1997)
    rows = [
        ("both", y96.intersect(y97)),
        ("churned", y96.exceptAll(y97).distinct()),
        ("either", y96.union(y97).distinct()),
    ]
    counts = None
    for name, df in rows:
        c = df.agg(F.count("*").alias("n")).select(F.lit(name).alias("cohort"), "n")
        counts = c if counts is None else counts.unionByName(c)
    return counts.orderBy("cohort")


@_q(
    "streaming_windowed",
    """
    SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600) AS window_sec,
           event_type, count(*)::BIGINT AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming windowed aggregation drained with availableNow —
    streaming results enter the correctness gate against the batch oracle."""
    from .streaming import run_available_now, stream_events, windowed_counts_stream

    _prep(spark)
    out = run_available_now(
        windowed_counts_stream(stream_events(spark, sf_dir), window="1 hour"),
        output_mode="complete",
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_sec"),
        "event_type",
        F.col("n_events").cast("bigint"),
        "total_value",
    ).orderBy("window_sec", "event_type")


@_q(
    "streaming_dedup",
    """
    SELECT event_type, count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup over an at-least-once source: every event is delivered
    twice (two micro-batches of the same file); dropDuplicatesWithinWatermark
    must restore exactly-once rows, so the per-type aggregate of the drained
    stream matches the plain batch aggregate of the single-copy oracle."""
    from .streaming import dedup_stream, run_available_now, stream_duplicated_events

    _prep(spark)
    out = run_available_now(
        dedup_stream(stream_duplicated_events(spark, sf_dir)),
        output_mode="append",
    )
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            exact_sum(units("value"), 100.0, "total_value"),
        )
        .orderBy("event_type")
    )


@_q(
    "streaming_join",
    """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           p.value AS purchase_value
    FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
)
def streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (view→purchase attribution)
    drained with availableNow vs the batch interval join in DuckDB."""
    from .streaming import run_available_now, stream_events, view_purchase_join_stream

    _prep(spark)
    out = run_available_now(
        view_purchase_join_stream(stream_events(spark, sf_dir), within="1 hour"),
        output_mode="append",
    )
    return out.select(
        "user_id", "view_id", "purchase_id", "purchase_value"
    )


# ===========================================================================
# B. text analysis (SURVEY.md §2c)
# ===========================================================================

_DOC_STATS_SQL = r"""
WITH d AS (
  SELECT doc_id, lang, source,
         octet_length(encode(text))::BIGINT AS byte_len,
         length(text)::BIGINT AS char_len,
         len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_words,
         len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))::BIGINT AS n_tokens,
         len(regexp_extall_punct)::BIGINT AS n_punct,
         len(regexp_extract_all(text, '\b(the|a|of|and|to)\b'))::BIGINT AS n_stopwords
  FROM (SELECT *, regexp_extract_all(text, '[^A-Za-z0-9_\s]') AS regexp_extall_punct FROM documents)
)
SELECT * EXCLUDE (qnum, qden),
       ((2 * qnum + qden) // (2 * qden)) / 10000.0 AS quality_score
FROM (SELECT *,
        (40 * least(n_words, 100) * greatest(char_len, 1) * greatest(n_words, 1)
         + 3000 * greatest(n_words, 1) * (greatest(char_len, 1) - n_punct)
         + 3000 * greatest(char_len, 1) * least(greatest(n_words, 1), 5 * n_stopwords))::BIGINT AS qnum,
        (greatest(char_len, 1) * greatest(n_words, 1))::BIGINT AS qden
      FROM d)
"""


@_q("text_doc_stats", _DOC_STATS_SQL)
def text_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import doc_stats

    _prep(spark)
    out = doc_stats(load(spark, sf_dir, "documents"))
    for c in ("byte_len", "char_len", "n_words", "n_tokens", "n_punct", "n_stopwords"):
        out = out.withColumn(c, F.col(c).cast("bigint"))
    return out


@_q(
    "text_lang_stats",
    f"""
    WITH stats AS ({_DOC_STATS_SQL})
    SELECT lang, count(*)::BIGINT AS n_docs, sum(n_words)::BIGINT AS total_words,
           round(avg(char_len), 2) AS avg_chars, round(avg(quality_score), 4) AS avg_quality,
           max(n_tokens)::BIGINT AS max_tokens
    FROM stats GROUP BY lang ORDER BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import lang_stats

    _prep(spark)
    out = lang_stats(load(spark, sf_dir, "documents"))
    return out.select(
        "lang",
        F.col("n_docs").cast("bigint"),
        F.col("total_words").cast("bigint"),
        "avg_chars",
        "avg_quality",
        F.col("max_tokens").cast("bigint"),
    )


@_q(
    "text_lang_id",
    r"""
    WITH h AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '\b(der|die|das|und|zu)\b')) AS hits_de,
             len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS hits_en,
             len(regexp_extract_all(text, '\b(el|la|y|de|un)\b')) AS hits_es,
             len(regexp_extract_all(text, '\b(le|la|et|de|un)\b')) AS hits_fr
      FROM documents),
    p AS (
      SELECT doc_id, lang,
             CASE WHEN hits_de = mx THEN 'de' WHEN hits_en = mx THEN 'en'
                  WHEN hits_es = mx THEN 'es' ELSE 'fr' END AS predicted_lang
      FROM (SELECT *, greatest(hits_de, hits_en, hits_es, hits_fr) AS mx FROM h))
    SELECT doc_id, lang, predicted_lang, predicted_lang = lang AS matched FROM p
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import lang_id

    _prep(spark)
    return lang_id(load(spark, sf_dir, "documents"))


@_q(
    "text_fingerprints",
    """
    SELECT doc_id, md5(text) AS md5_hex,
           list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
                                   i -> md5(substr(text, i, 8)))) AS min_shingle_hash,
           octet_length(encode(text))::BIGINT AS byte_len
    FROM documents
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.text import fingerprints

    _prep(spark)
    out = fingerprints(load(spark, sf_dir, "documents"))
    return out.withColumn("byte_len", F.col("byte_len").cast("bigint"))


@_q(
    "text_pii_scrub",
    r"""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0
                  THEN text || ' contact user' || CAST(doc_id % 100 AS VARCHAR)
                       || '@example.com call 555-123-4567 ip 10.0.0.1'
                  ELSE text END AS text
      FROM documents),
    passes AS (
      SELECT doc_id, text,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
      FROM corpus),
    passes2 AS (
      SELECT *, regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t2 FROM passes),
    passes3 AS (
      SELECT *, regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t3 FROM passes2)
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
           len(regexp_extract_all(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phones,
           len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
           md5(t3) AS scrubbed_md5
    FROM passes3
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass with PLANTED pii: every 7th doc gets a synthetic
    email + phone + IP appended (replayed verbatim by the oracle), so the
    counts and the md5 of the scrubbed text verify real redactions, not a
    no-op over a pii-free corpus.  Counting happens on the pre-pass text for
    each category (email count on raw, phone count after email removal, ip
    count after phone removal) — same fixed order both sides."""
    from .operators.text import pii_scrub

    _prep(spark)
    docs = load(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                (F.col("doc_id") % 100).cast("string"),
                F.lit("@example.com call 555-123-4567 ip 10.0.0.1"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return pii_scrub(planted)


@_q(
    "text_repetition",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
    uni AS (
      SELECT doc_id, max(c) AS max_tok_freq FROM (
        SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(ws) AS tok FROM base) GROUP BY doc_id, tok)
      GROUP BY doc_id),
    bi AS (
      SELECT doc_id, max(c) AS max_bigram_freq FROM (
        SELECT doc_id, pair, count(*) AS c
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS pair
              FROM base)
        GROUP BY doc_id, pair)
      GROUP BY doc_id)
    SELECT b.doc_id, len(b.ws)::BIGINT AS n_tokens,
           len(list_distinct(b.ws))::BIGINT AS n_distinct,
           coalesce(uni.max_tok_freq, 0)::BIGINT AS max_tok_freq,
           coalesce(bi.max_bigram_freq, 0)::BIGINT AS max_bigram_freq
    FROM base b LEFT JOIN uni ON b.doc_id = uni.doc_id
    LEFT JOIN bi ON b.doc_id = bi.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: exact total/distinct token counts and
    max unigram/bigram frequencies per doc — the integers behind top-n-gram
    boilerplate filters."""
    from .operators.text import repetition_stats

    _prep(spark)
    return repetition_stats(load(spark, sf_dir, "documents"))


_GRAMS5_SQL = r"""list_transform(
      range(0, greatest(len(string_split_regex(trim(text), '\s+')) - 5, 0) + 1),
      i -> array_to_string((string_split_regex(trim(text), '\s+'))[i + 1 : i + 5], ' '))"""


@_q(
    "pipeline_decontaminate",
    f"""
    WITH dg AS (
      SELECT doc_id, unnest(list_distinct(list_transform({_GRAMS5_SQL}, g -> md5(g)))) AS g
      FROM documents),
    eg AS (
      SELECT DISTINCT unnest(list_transform({_GRAMS5_SQL}, g -> md5(g))) AS g
      FROM documents WHERE doc_id % 50 = 0),
    hits AS (SELECT doc_id, count(*) AS n FROM dg JOIN eg USING (g) GROUP BY doc_id)
    SELECT d.doc_id, coalesce(n, 0)::BIGINT AS n_shared_grams,
           coalesce(n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: every 50th doc is the 'benchmark'; flag
    training docs sharing any word 5-gram with it (those docs themselves
    must flag, near-copies usually do, unrelated docs must not)."""
    from .operators.pipeline import ngram_decontaminate

    _prep(spark)
    docs = load(spark, sf_dir, "documents")
    return ngram_decontaminate(docs, docs.where(F.col("doc_id") % 50 == 0), n=5)


@_q(
    "text_unigram_logprob",
    r"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    g AS (SELECT sum(c) AS total FROM vocab),
    lp AS (SELECT doc_id, CAST(round(ln(c / total) * 1e9) AS BIGINT) AS lp
           FROM toks JOIN vocab USING (tok), g)
    SELECT doc_id,
           -((2 * (-sum(lp)) * 1000 + count(*) * 1000000000)
             // (2 * count(*) * 1000000000)) / 1000.0 AS mean_logprob
    FROM lp GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus's own unigram
    model (KenLM-style fluency proxy); rounded 3dp."""
    from .operators.pipeline import unigram_logprob

    _prep(spark)
    return unigram_logprob(load(spark, sf_dir, "documents"))


_PR_SCALE = 10**12
_PR_EDGES_SQL = """
    SELECT DISTINCT l_suppkey + 1000000 AS src, o_custkey AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""


def _pagerank_oracle(n_iter: int = 3) -> str:
    ctes = [
        f"edges AS ({_PR_EDGES_SQL})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "params AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)",
        f"r0 AS (SELECT node, ({_PR_SCALE} // n)::BIGINT AS rank FROM nodes CROSS JOIN params)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"c{i} AS (SELECT dst, sum(rank // deg) AS s FROM edges "
            f"JOIN r{i-1} ON src = node JOIN outdeg USING (src) GROUP BY dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT node, ((15 * {_PR_SCALE}) // (100 * n) "
            f"+ (85 * coalesce(s, 0)) // 100)::BIGINT AS rank "
            f"FROM nodes CROSS JOIN params LEFT JOIN c{i} ON node = dst)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank FROM r{n_iter}"


def _zorder_oracle(bits: int = 10, file_bits: int = 6) -> str:
    interleave = " + ".join(
        f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
    WITH d AS (
      SELECT (o_custkey % {1 << bits})::BIGINT AS x,
             (CAST(round(o_totalprice * 100) AS BIGINT) // 5000000 % {1 << bits})::BIGINT AS y
      FROM orders),
    coded AS (SELECT x, y, ({interleave})::BIGINT AS z FROM d)
    SELECT (z // {1 << (2 * bits - file_bits)})::BIGINT AS z_file,
           count(*)::BIGINT AS n_rows,
           min(x)::BIGINT AS min_cust, max(x)::BIGINT AS max_cust,
           min(y)::BIGINT AS min_price_bucket, max(y)::BIGINT AS max_price_bucket
    FROM coded GROUP BY 1
    """


@_q("layout_zorder_stats", _zorder_oracle())
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout assignment over (customer, price-bucket) with
    the per-file min/max skipping index — the multi-dimensional clustering
    a 100 TB table uses so predicates on EITHER dimension prune files."""
    from .operators.graph import zorder_layout_stats

    _prep(spark)
    return zorder_layout_stats(load(spark, sf_dir, "orders"))


@_q("graph_pagerank", _pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 unrolled iterations) over the supplier→
    customer bipartite graph derived from lineitem⋈orders.  All-integer
    arithmetic makes the distributed iteration bit-exact against the
    oracle's unrolled CTE chain — float PageRank could never hash-match."""
    from .operators.graph import pagerank_exact

    _prep(spark)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select((F.col("l_suppkey") + 1_000_000).alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
    )
    return pagerank_exact(edges, n_iter=3)


@_q(
    "sink_schema_evolution",
    """
    WITH v1 AS (SELECT c_custkey, c_mktsegment, CAST(NULL AS BOOLEAN) AS vip
                FROM customer WHERE c_custkey % 2 = 0),
         v2 AS (SELECT c_custkey, c_mktsegment, c_acctbal > 5000 AS vip
                FROM customer WHERE c_custkey % 2 = 1),
         merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT c_mktsegment,
           count(*)::BIGINT AS n_rows,
           sum(CASE WHEN vip IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_legacy,
           sum(CASE WHEN vip THEN 1 ELSE 0 END)::BIGINT AS n_vip
    FROM merged GROUP BY 1 ORDER BY 1
    """,
)
def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution (the ALTER TABLE ADD COLUMN analog): v1
    files lack the ``vip`` column, v2 files carry it; a mergeSchema read
    must surface v1 rows with NULL vip and v2 rows with real values."""
    _prep(spark)
    path = _scratch("schema_evo", sf_dir)
    cust = load(spark, sf_dir, "customer")
    cust.where(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_mktsegment").write.mode(
        "append"
    ).parquet(path)
    cust.where(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_mktsegment", (F.col("c_acctbal") > 5000).alias("vip")
    ).write.mode("append").parquet(path)
    merged = spark.read.option("mergeSchema", True).parquet(path)
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("vip").isNull().cast("long")).cast("bigint").alias("n_legacy"),
            F.sum(F.when(F.col("vip"), 1).otherwise(0)).cast("bigint").alias("n_vip"),
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "setops_full_outer_reconcile",
    """
    WITH a AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_orderkey % 3 = 0),
         b AS (SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_orderkey % 2 = 0)
    SELECT CASE WHEN a.o_orderkey IS NULL THEN 'right_only'
                WHEN b.o_orderkey IS NULL THEN 'left_only'
                ELSE 'both' END AS status,
           count(*)::BIGINT AS n,
           sum(coalesce(a.cents, b.cents)) / 100.0 AS total
    FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def setops_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN reconciliation (the host-engine join type not covered
    by the TPC-H shapes): two overlapping order subsets classified into
    both / left_only / right_only with exact cent totals."""
    _prep(spark)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    a = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("a_key"), F.col("cents").alias("a_cents")
    )
    b = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("b_key"), F.col("cents").alias("b_cents")
    )
    joined = a.join(b, a.a_key == b.b_key, "full_outer")
    status = (
        F.when(F.col("a_key").isNull(), F.lit("right_only"))
        .when(F.col("b_key").isNull(), F.lit("left_only"))
        .otherwise(F.lit("both"))
    )
    return (
        joined.groupBy(status.alias("status"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            (F.sum(F.coalesce("a_cents", "b_cents")) / F.lit(100.0)).alias("total"),
        )
        .orderBy("status")
    )


@_q(
    "events_session_window",
    """
    WITH marked AS (
      SELECT user_id, ts,
             -- >= 1800, NOT > 1800: Spark's session_window is half-open
             -- [t, t+gap), so a gap of exactly 30 minutes breaks the session
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts)
                       >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    numbered AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM marked)
    SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*)::BIGINT AS n_events
    FROM numbered GROUP BY user_id, sess
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` (dynamic gap-close windows) as the batch
    sessionizer — same session boundaries as the lag-based islands approach
    (the oracle computes it that way), but expressed as a first-class
    group-by window, which is also the Structured Streaming form."""
    _prep(spark)
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


@_q(
    "stats_price_histogram",
    """
    WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
    SELECT (cents // 2500000)::BIGINT AS bucket, count(*)::BIGINT AS n_orders,
           sum(cents) / 100.0 AS revenue
    FROM c GROUP BY 1
    """,
)
def stats_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width ($25k) histogram of order totals — all-integer bucketing
    and exact cent sums (no float sums in compared columns)."""
    from .operators.stats import price_histogram

    _prep(spark)
    return price_histogram(load(spark, sf_dir, "orders"))


@_q(
    "stats_corr_exact",
    """
    WITH d AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
    s AS (SELECT l_returnflag, count(*)::DOUBLE AS n,
                 sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
                 sum(x*x)::DOUBLE AS sxx, sum(y*y)::DOUBLE AS syy,
                 sum(x*y)::DOUBLE AS sxy
          FROM d GROUP BY 1)
    SELECT l_returnflag,
           (n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)) AS corr_xy
    FROM s
    """,
)
def stats_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson corr(quantity, price) per returnflag from EXACT integer
    sufficient statistics — built-in corr() accumulates doubles in
    partition order and diverges across engines in the last ulp."""
    from .operators.stats import corr_exact

    _prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return corr_exact(
        li,
        "l_returnflag",
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
    )


@_q(
    "pipeline_vocab_topk",
    r"""
    WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                  FROM documents),
    v AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1)
    SELECT tok, c::BIGINT AS n, row_number() OVER (ORDER BY c DESC, tok)::BIGINT AS rk
    FROM v QUALIFY rk <= 100
    """,
)
def pipeline_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary top-100 by corpus frequency (tokenizer-training prep)."""
    from .operators.pipeline import vocab_topk

    _prep(spark)
    return vocab_topk(load(spark, sf_dir, "documents"), k=100)


@_q(
    "pipeline_bpe_pairs",
    r"""
    WITH w AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
    p AS (SELECT unnest(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])) AS pair
          FROM w),
    v AS (SELECT pair, count(*) AS c FROM p GROUP BY 1)
    SELECT pair, c::BIGINT AS n, row_number() OVER (ORDER BY c DESC, pair)::BIGINT AS rk
    FROM v QUALIFY rk <= 50
    """,
)
def pipeline_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-step statistics: top-50 adjacent token pairs by corpus
    frequency (the aggregate each BPE training round runs)."""
    from .operators.pipeline import bpe_pair_stats

    _prep(spark)
    return bpe_pair_stats(load(spark, sf_dir, "documents"), k=50)


@_q(
    "dedup_fuzzy_names",
    """
    WITH probes AS (SELECT c_custkey AS probe_key, c_name AS name FROM customer
                    WHERE c_custkey % 500 = 0)
    SELECT p.probe_key, c.c_custkey AS match_key,
           levenshtein(p.name, c.c_name)::BIGINT AS dist
    FROM probes p JOIN customer c
      ON c.c_custkey != p.probe_key AND levenshtein(p.name, c.c_name) <= 1
    """,
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage: customers within levenshtein 1 of each probe
    name.  Spark side bands by half-string pigeonhole then verifies with
    exact levenshtein; oracle is the full quadratic join — a recall
    mismatch (not just a score mismatch) would fail the hash."""
    from .operators.dedup import fuzzy_name_pairs

    _prep(spark)
    cust = load(spark, sf_dir, "customer")
    probes = cust.where(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("probe_key"), F.col("c_name").alias("name")
    )
    records = cust.select(F.col("c_custkey").alias("match_key"), F.col("c_name").alias("name"))
    # explicit broadcast regime (r15 optimization round): the probe set is
    # 1/500th of customer by construction, far under the 128 MiB variant
    # cap at every fixture SF (sf10: 3k probes x 19 variants ≈ 1 MB), so
    # the regime "auto" would pick is known statically — skipping auto's
    # count+max(length) probe saves one Spark job per invocation.
    return fuzzy_name_pairs(records, probes, max_dist=1, probe_regime="broadcast")


@_q(
    "dedup_fuzzy_names_d2",
    """
    WITH probes AS (SELECT c_custkey AS probe_key, c_name AS name FROM customer
                    WHERE c_custkey % 500 = 0),
    variants AS (
      SELECT probe_key + 2000000 AS match_key, 'ZZ' || substr(name, 3) AS name FROM probes
      UNION ALL SELECT probe_key + 3000000, substr(name, 2) FROM probes
      UNION ALL SELECT probe_key + 4000000, 'Q' || name FROM probes),
    records AS (SELECT c_custkey AS match_key, c_name AS name FROM customer
                UNION ALL SELECT match_key, name FROM variants)
    SELECT p.probe_key, r.match_key, levenshtein(p.name, r.name)::BIGINT AS dist
    FROM probes p JOIN records r
      ON r.match_key != p.probe_key AND levenshtein(p.name, r.name) <= 2
    """,
)
def dedup_fuzzy_names_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy linkage recall-hardening (VERDICT r2 item 5): the corpus is
    customer plus PLANTED known-distance neighbors of every probe — a double
    substitution (dist 2) and insert/delete variants whose shifted alignment
    the old equal-length half-banding could not reach.  Runs at max_dist=2
    with the PassJoin banding; the oracle is the full quadratic levenshtein
    join over the identically-constructed corpus, so any recall miss fails
    the hash, not just the score."""
    from .operators.dedup import fuzzy_name_pairs, planted_fuzzy_variants

    _prep(spark)
    cust = load(spark, sf_dir, "customer")
    probes = cust.where(F.col("c_custkey") % 500 == 0).select(
        F.col("c_custkey").alias("probe_key"), F.col("c_name").alias("name")
    )
    records = cust.select(
        F.col("c_custkey").alias("match_key"), F.col("c_name").alias("name")
    ).unionByName(planted_fuzzy_variants(probes))
    # explicit broadcast regime — same static argument as dedup_fuzzy_names
    # (sf10: 3k probes x 172 d=2 variants ≈ 30 MB < the 128 MiB cap); saves
    # auto's count+max(length) probe job per invocation.
    return fuzzy_name_pairs(records, probes, max_dist=2, probe_regime="broadcast")


@_q(
    "events_rolling_1h",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
    """,
)
def events_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing one-hour activity via a RANGE-interval frame
    (microsecond epoch ordering, integer-cent sums — bit-exact in both
    engines at any partitioning)."""
    from .operators.rollup import rolling_window_1h

    _prep(spark)
    return rolling_window_1h(load(spark, sf_dir, "events"))


@_q(
    "pipeline_balanced_sample",
    """
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      FROM documents)
    WHERE rk <= 20
    """,
)
def pipeline_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced per-language sample: at most 20 docs per stratum in
    deterministic md5 order (the data-mixing cap against a dominant
    stratum swamping a training mix)."""
    from .operators.pipeline import balanced_sample

    _prep(spark)
    return balanced_sample(load(spark, sf_dir, "documents"), per_stratum=20)


@_q(
    "events_gapfill",
    """
    WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n_events
               FROM events WHERE event_type = 'signup' GROUP BY 1),
    b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM h),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b)
    SELECT strftime(s.hr, '%Y-%m-%d %H:00') AS hour,
           coalesce(n_events, 0)::BIGINT AS n_events
    FROM spine s LEFT JOIN h ON s.hr = h.hr
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-fill over signup events (the fixture has ~34 empty hours
    in the 30-day span — the zero rows are real, not vacuous)."""
    from .operators.rollup import gapfill_hourly

    _prep(spark)
    return gapfill_hourly(load(spark, sf_dir, "events"), event_type="signup")


@_q(
    "window_balance_analytics",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           (ntile(4) OVER w)::BIGINT AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM customer WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_balance_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / percent_rank / cume_dist) over
    balance per segment; total order via the custkey tie-break, ratio
    outputs unrounded (identical integer divisions in both engines)."""
    from .operators.relational import balance_distribution_analytics

    _prep(spark)
    return balance_distribution_analytics(load(spark, sf_dir, "customer"))


_BM25_TERMS = ["hash", "join", "vector"]
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 20


def _bm25_oracle() -> str:
    words = r"string_split_regex(lower(trim(text)), '\s+')"
    tf_cols = ",\n           ".join(
        f"len(list_filter({words}, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(_BM25_TERMS))
    )
    parts = " + ".join(
        f"ln(1 + (n_docs - df_{i} + 0.5)/(df_{i} + 0.5)) * tf_{i} * {_BM25_K1 + 1.0} "
        f"/ (tf_{i} + {_BM25_K1}*({1.0 - _BM25_B} + {_BM25_B}*dl/avgdl))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
    WITH d AS (
      SELECT doc_id, len({words}) AS dl,
           {tf_cols}
      FROM documents),
    g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_cols} FROM d),
    s AS (SELECT doc_id, round({parts}, 3) AS bm25 FROM d, g)
    SELECT doc_id, bm25, row_number() OVER (ORDER BY bm25 DESC, doc_id)::BIGINT AS rk
    FROM s WHERE bm25 > 0 QUALIFY rk <= {_BM25_K}
    """


@_q("text_bm25_topk", _bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson idf, k1=1.2 b=0.75) for a fixed
    3-term query; scores rounded to 3dp BEFORE ranking, ties by doc_id."""
    from .operators.text import bm25_topk

    _prep(spark)
    return bm25_topk(
        load(spark, sf_dir, "documents"), _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


@_q(
    "pipeline_sample_split",
    """
    SELECT doc_id, lang,
           CASE WHEN substr(md5(doc_id::VARCHAR), 5, 2) < '29' THEN 'eval' ELSE 'train' END AS split
    FROM documents
    WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
          CASE lang WHEN 'en' THEN '8000' ELSE '4000' END
    """,
)
def pipeline_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pipeline import hash_sample_split

    _prep(spark)
    return hash_sample_split(load(spark, sf_dir, "documents"))


@_q(
    "pipeline_pack",
    r"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))::BIGINT AS n_tokens
      FROM documents),
    c AS (
      SELECT lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM toks)
    SELECT lang, CAST(floor((cum - n_tokens) / 2048.0) AS BIGINT) AS bin_id,
           count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS bin_tokens
    FROM c GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def pipeline_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pipeline import pack_sequences

    _prep(spark)
    return pack_sequences(load(spark, sf_dir, "documents"))


@_q(
    "pipeline_quality_topk",
    f"""
    WITH stats AS ({_DOC_STATS_SQL}),
    ranked AS (
      SELECT doc_id, lang, quality_score,
             row_number() OVER (PARTITION BY lang ORDER BY quality_score DESC, doc_id ASC)::BIGINT AS rk
      FROM stats)
    SELECT doc_id, lang, quality_score, rk FROM ranked WHERE rk <= 10 ORDER BY lang, rk
    """,
)
def pipeline_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.pipeline import quality_topk

    _prep(spark)
    return quality_topk(load(spark, sf_dir, "documents")).withColumn("rk", F.col("rk").cast("bigint"))


# ===========================================================================
# C. dedup (SURVEY.md §2c)
# ===========================================================================

# planted corpora (same construction on both sides — see operators/dedup.py)
_EXACT_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
"""
_NEAR_CORPUS_SQL = r"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string((string_split_regex(trim(text), '\s+'))[1:30], ' ') AS text
  FROM documents WHERE doc_id % 10 = 0
"""

_NGRAMS_SQL = r"""list_transform(
      range(0, greatest(len(string_split_regex(trim(text), '\s+')) - 3, 0) + 1),
      i -> array_to_string((string_split_regex(trim(text), '\s+'))[i + 1 : i + 3], ' '))"""

# Hash family mirrors operators/dedup.py minhash_signatures: hash i is the
# (i mod 4)-th 8-hex-char slice of md5((i div 4) || '|' || shingle) — two
# md5 calls per shingle feed all eight 32-bit minwise values, bit-identical
# in both engines.
_MINHASH_COLS_SQL = ", ".join(
    f"list_min(list_transform(grams, g -> substr(md5('{i // 4}|' || g), {(i % 4) * 8 + 1}, 8))) AS mh_{i}"
    for i in range(8)
)


def _planted_exact_corpus(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    )


@_q(
    "dedup_exact",
    f"""
    WITH corpus AS ({_EXACT_CORPUS_SQL}),
    per AS (SELECT md5(text) AS h, count(*) AS c FROM corpus GROUP BY 1)
    SELECT count(*)::BIGINT AS n_distinct, sum(c)::BIGINT AS n_total,
           sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END)::BIGINT AS n_redundant
    FROM per
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import exact_dedup_stats

    _prep(spark)
    return exact_dedup_stats(_planted_exact_corpus(load(spark, sf_dir, "documents")))


_MINHASH_SIG_SQL = f"""
    corpus AS ({_NEAR_CORPUS_SQL}),
    g AS (SELECT doc_id, {_NGRAMS_SQL} AS grams FROM corpus),
    sigs AS (SELECT doc_id, {_MINHASH_COLS_SQL} FROM g)
"""

_MINHASH_MATCHES_SQL = " + ".join(
    f"(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)" for i in range(8)
)
_MINHASH_BANDS_SQL = " OR ".join(
    f"(a.mh_{2 * b} = b.mh_{2 * b} AND a.mh_{2 * b + 1} = b.mh_{2 * b + 1})" for b in range(4)
)


@_q(
    "dedup_minhash_pairs",
    f"""
    WITH {_MINHASH_SIG_SQL}
    SELECT doc_a, doc_b, est_jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(({_MINHASH_MATCHES_SQL}) / 8.0, 4) AS est_jaccard
      FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
      WHERE {_MINHASH_BANDS_SQL})
    WHERE est_jaccard >= 0.5
    """,
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import minhash_lsh_pairs, planted_near_dup_corpus

    _prep(spark)
    corpus = planted_near_dup_corpus(load(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(corpus, n_hashes=8, bands=4)


_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_MINHASH_SIG_SQL},
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(({_MINHASH_MATCHES_SQL}) / 8.0, 4) AS est_jaccard
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE {_MINHASH_BANDS_SQL})
      WHERE est_jaccard >= 0.5),
    edges AS (SELECT doc_a AS node, doc_b AS neigh FROM pairs
              UNION ALL
              SELECT doc_b AS node, doc_a AS neigh FROM pairs),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM corpus
      UNION
        SELECT e.node, r.lab FROM reach r JOIN edges e ON e.neigh = r.node)
    SELECT node::BIGINT AS doc_id, min(lab)::BIGINT AS cluster_id
    FROM reach GROUP BY node
"""


@_q("dedup_clusters", _CLUSTERS_SQL)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash+LSH pair graph → distributed connected
    components (min-label propagation) → (doc_id, cluster_id) for every doc.
    Oracle: DuckDB recursive CTE computing min reachable id per node."""
    from .operators.dedup import dedup_clusters as _clusters

    _prep(spark)
    out = _clusters(load(spark, sf_dir, "documents"))
    return out.select(F.col("doc_id").cast("bigint"), F.col("cluster_id").cast("bigint"))


@_q(
    "dedup_keep_canonical",
    f"""
    SELECT doc_id FROM ({_CLUSTERS_SQL}) WHERE doc_id = cluster_id
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retention decision on top of the clustering: the deduplicated
    corpus keeps exactly one (minimum-id) doc per connected component."""
    from .operators.dedup import dedup_clusters as _clusters, keep_canonical

    _prep(spark)
    return keep_canonical(_clusters(load(spark, sf_dir, "documents"))).select(
        F.col("doc_id").cast("bigint")
    )


def _simhash_sql(table_expr: str) -> str:
    votes = []
    for j in range(32):
        votes.append(
            f"(CASE WHEN list_sum(list_transform(wh, h -> CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    sim = " + ".join(votes)
    return f"""
    wh_t AS (
      SELECT doc_id,
             list_transform({_NGRAMS_SQL},
                            g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS wh
      FROM ({table_expr})),
    sims AS (SELECT doc_id, ({sim})::BIGINT AS simhash FROM wh_t)
    """


@_q(
    "dedup_simhash",
    f"WITH {_simhash_sql('SELECT doc_id, text FROM documents')} SELECT doc_id, simhash FROM sims",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import simhash

    _prep(spark)
    return simhash(load(spark, sf_dir, "documents"))


@_q(
    "dedup_simhash_pairs",
    f"""
    WITH {_simhash_sql(_NEAR_CORPUS_SQL)}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import planted_near_dup_corpus, simhash_near_pairs

    _prep(spark)
    corpus = planted_near_dup_corpus(load(spark, sf_dir, "documents"))
    return simhash_near_pairs(corpus).withColumn("hamming", F.col("hamming").cast("bigint"))


@_q(
    "dedup_ngram_jaccard",
    f"""
    WITH corpus AS ({_NEAR_CORPUS_SQL}),
    g AS (SELECT doc_id, list_distinct({_NGRAMS_SQL}) AS grams FROM corpus)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.grams, b.grams))
                 / len(list_distinct(list_concat(a.grams, b.grams))), 4) AS jaccard
    FROM g a JOIN g b ON b.doc_id = a.doc_id + 1000000
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import ngram_jaccard_pairs, planted_near_dup_corpus

    _prep(spark)
    docs = load(spark, sf_dir, "documents")
    corpus = planted_near_dup_corpus(docs)
    pairs = docs.where(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 1_000_000).alias("doc_b")
    )
    return ngram_jaccard_pairs(corpus, pairs)


# 16-dim sign bucket, matching operators/dedup.py::embedding_near_dup_pairs
# (2^16 buckets; 2^8 capped parallelism and went quadratic at 100× replica
# scale — see the operator docstring)
_EMB_BUCKET_SQL = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)" for i in range(16)
)
_EMB_DOT_SQL = "list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]))"
_EMB_NORM_SQL = "sqrt(list_sum(list_transform({x}.v, e -> e * e)))"


@_q(
    "dedup_embedding_pairs",
    f"""
    WITH planted AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_concat([embedding[1]::DOUBLE * 1.25],
                         list_transform(embedding[2:], x -> x::DOUBLE)) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0),
    e AS (
      SELECT vec_id, embedding AS v, ({_EMB_BUCKET_SQL}) AS bucket
      FROM planted)
    SELECT vec_a, vec_b, cosine FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round({_EMB_DOT_SQL} / ({_EMB_NORM_SQL.format(x='a')} * {_EMB_NORM_SQL.format(x='b')}), 4) AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    WHERE cosine >= 0.9
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import embedding_near_dup_pairs, planted_near_dup_embeddings

    _prep(spark)
    corpus = planted_near_dup_embeddings(load(spark, sf_dir, "embeddings"))
    return embedding_near_dup_pairs(corpus, threshold=0.9)


# ===========================================================================
# D. similarity search (SURVEY.md §2c)
# ===========================================================================

_SIM_SCORED_SQL = f"""
    e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id,
             round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i]))
                   / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(e.v, x -> x * x)))), 4) AS cosine
      FROM e CROSS JOIN q WHERE e.vec_id != q.query_id)
"""


@_q(
    "sim_topk_bruteforce",
    f"""
    WITH {_SIM_SCORED_SQL}
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import brute_force_topk, queries_from_ids

    _prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb, queries_from_ids(emb, [0, 1, 2, 3, 4]), k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _plane_dot_sql(vcol: str, j: int) -> str:
    return (
        f"list_sum(list_transform(range(0, 64), i -> {vcol}[i + 1] * ((i * 31 + {j} * 17) % 3 - 1)))"
    )


_LSH_BUCKET_SQL = lambda vcol: " + ".join(  # noqa: E731
    f"(CASE WHEN {_plane_dot_sql(vcol, j)} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(4)
)


@_q(
    "sim_topk_lsh",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    c AS (SELECT vec_id, v, ({_LSH_BUCKET_SQL('v')}) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, ({_LSH_BUCKET_SQL('v')}) AS qbucket FROM e WHERE vec_id < 5),
    probes AS (SELECT query_id, qv, unnest([qbucket, xor(qbucket, 1), xor(qbucket, 2),
                                            xor(qbucket, 4), xor(qbucket, 8)]) AS bucket FROM q),
    scored AS (
      SELECT query_id, c.vec_id,
             round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 4) AS cosine
      FROM c JOIN probes USING (bucket) WHERE c.vec_id != probes.query_id)
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.similarity import lsh_topk, queries_from_ids

    _prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    out = lsh_topk(emb, queries_from_ids(emb, [0, 1, 2, 3, 4]), k=5, n_planes=4)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


_IVF_COS6 = (
    "round(list_sum(list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x)))), 6)"
)
_IVF_COS4 = _IVF_COS6.replace(", 6)", ", 4)")


@_q(
    "sim_topk_ivf",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, cents.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_IVF_COS6.format(a='e.v', b='cents.cv')} DESC, cents.cent_id ASC) AS rn
        FROM e CROSS JOIN cents)
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT q.query_id, q.qv, cents.cent_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_IVF_COS6.format(a='q.qv', b='cents.cv')} DESC, cents.cent_id ASC) AS rn
        FROM q CROSS JOIN cents)
      WHERE rn <= 2),
    cand AS (
      SELECT query_id, vec_id, {_IVF_COS4.format(a='qv', b='v')} AS cosine
      FROM assigned JOIN probes USING (cent_id)
      WHERE vec_id != query_id)
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM cand)
    WHERE rank <= 5
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (fixed coarse centroids, 2-probe) vs the same
    construction in DuckDB SQL."""
    from .operators.similarity import ivf_topk, queries_from_ids

    _prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, queries_from_ids(emb, [0, 1, 2, 3, 4]), k=5, n_lists=8, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


def _kmeans_ivf_sql(n_lists: int = 8, n_probe: int = 2, n_iters: int = 2, k: int = 5) -> str:
    """DuckDB twin of ``kmeans_ivf_topk``: the same Lloyd iterations unrolled
    as CTEs (assign → per-dim avg → re-assembled centroid arrays, rounded to
    6 dp at every step so both engines train bit-identical centroids)."""
    ctes = [
        "e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)",
        f"cents0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {n_lists})",
    ]
    for i in range(n_iters):
        ctes.append(
            f"""assigned{i} AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_IVF_COS6.format(a='e.v', b='c.cv')} DESC, c.cent_id ASC) AS rn
        FROM e CROSS JOIN cents{i} c)
      WHERE rn = 1)"""
        )
        ctes.append(
            f"""cents{i + 1} AS (
      SELECT cent_id, list(round(m, 6) ORDER BY pos) AS cv FROM (
        SELECT cent_id, pos, avg(x) AS m FROM (
          SELECT cent_id, unnest(v) AS x, unnest(range(len(v))) AS pos FROM assigned{i})
        GROUP BY cent_id, pos)
      GROUP BY cent_id)"""
        )
    fin = f"cents{n_iters}"
    ctes.append(
        f"""final_assigned AS (
      SELECT vec_id, v, cent_id FROM (
        SELECT e.vec_id, e.v, c.cent_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_IVF_COS6.format(a='e.v', b='c.cv')} DESC, c.cent_id ASC) AS rn
        FROM e CROSS JOIN {fin} c)
      WHERE rn = 1)"""
    )
    ctes.append(
        f"""probes AS (
      SELECT query_id, qv, cent_id FROM (
        SELECT q.query_id, q.qv, c.cent_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_IVF_COS6.format(a='q.qv', b='c.cv')} DESC, c.cent_id ASC) AS rn
        FROM (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5) q CROSS JOIN {fin} c)
      WHERE rn <= {n_probe})"""
    )
    ctes.append(
        f"""cand AS (
      SELECT query_id, vec_id, {_IVF_COS4.format(a='qv', b='v')} AS cosine
      FROM final_assigned JOIN probes USING (cent_id)
      WHERE vec_id != query_id)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT query_id, vec_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM cand)
    WHERE rank <= {k}
    """
    )


@_q("sim_topk_kmeans", _kmeans_ivf_sql())
def sim_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with k-means-trained centroids (2 Lloyd iterations,
    deterministic init) vs the identical unrolled training in DuckDB."""
    from .operators.similarity import kmeans_ivf_topk, queries_from_ids

    _prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    out = kmeans_ivf_topk(
        emb,
        queries_from_ids(emb, [0, 1, 2, 3, 4]),
        k=5,
        n_lists=8,
        n_probe=2,
        n_iters=2,
    )
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q(
    "grouped_map_zscore",
    """
    SELECT doc_id, lang,
           round((length(text) - avg(length(text)) OVER (PARTITION BY lang))
                 / stddev_samp(length(text)) OVER (PARTITION BY lang), 4) AS len_zscore
    FROM documents
    """,
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (per-language z-score of doc length) vs a
    window-function oracle — the Arrow grouped-map surface."""
    import pandas as pd

    _prep(spark)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", F.length("text").alias("n"))

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["n"].mean()
        sd = pdf["n"].std(ddof=1)
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "len_zscore": ((pdf["n"] - mu) / sd).round(4)}
        )

    return docs.groupBy("lang").applyInPandas(zscore, schema="doc_id long, lang string, len_zscore double")


# ===========================================================================
# E. events (SURVEY.md §2c)
# ===========================================================================


@_q(
    "events_tumbling",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           count(*)::BIGINT AS n_events, count(DISTINCT user_id)::BIGINT AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import tumbling_counts

    _prep(spark)
    out = tumbling_counts(load(spark, sf_dir, "events"))
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n_events").cast("bigint"),
        F.col("n_users").cast("bigint"),
        "total_value",
    )


@_q(
    "events_sliding",
    """
    WITH w AS (
      SELECT date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS window_start, event_type, value
      FROM events, (VALUES (0), (1)) AS offs(o))
    SELECT strftime(window_start, '%Y-%m-%d %H') AS window_start, event_type,
           count(*)::BIGINT AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM w GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import sliding_counts

    _prep(spark)
    out = sliding_counts(load(spark, sf_dir, "events"))
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH").alias("window_start"),
        "event_type",
        F.col("n_events").cast("bigint"),
        "total_value",
    )


@_q(
    "cube_priority_status",
    """
    SELECT o_orderpriority, o_orderstatus, count(*)::BIGINT AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
    """,
)
def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.rollup import priority_status_cube

    _prep(spark)
    out = priority_status_cube(load(spark, sf_dir, "orders"))
    return out.withColumn("n_orders", F.col("n_orders").cast("bigint"))


@_q(
    "order_gaps",
    """
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             lag(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev_dt
      FROM orders)
    SELECT o_custkey, count(*)::BIGINT AS n_orders,
           round(avg(date_diff('day', prev_dt, o_orderdate)), 2) AS avg_gap_days,
           max(date_diff('day', prev_dt, o_orderdate))::BIGINT AS max_gap_days
    FROM seq GROUP BY 1 ORDER BY 1
    """,
)
def order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import order_gap_stats

    _prep(spark)
    out = order_gap_stats(load(spark, sf_dir, "orders"))
    return out.withColumn("n_orders", F.col("n_orders").cast("bigint"))


@_q(
    "events_hourly",
    """
    SELECT hour(ts)::BIGINT AS hour, event_type, count(*)::BIGINT AS n_events
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import hourly_activity

    _prep(spark)
    out = hourly_activity(load(spark, sf_dir, "events"))
    return out.withColumn("hour", F.col("hour").cast("bigint")).withColumn(
        "n_events", F.col("n_events").cast("bigint")
    )


@_q(
    "events_sessions",
    """
    WITH ordered AS (
      SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec,
             lag(floor(epoch(ts))::BIGINT) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      FROM events),
    flagged AS (
      SELECT user_id, event_id, sec,
             CASE WHEN prev_sec IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END AS new_session
      FROM ordered),
    sess AS (
      SELECT user_id, sec,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged),
    per AS (
      SELECT user_id, session_seq, count(*) AS n_events, max(sec) - min(sec) AS dur_sec
      FROM sess GROUP BY 1, 2)
    SELECT user_id, count(*)::BIGINT AS n_sessions, round(avg(dur_sec), 2) AS avg_session_sec,
           round(avg(n_events), 4) AS avg_events_per_session
    FROM per GROUP BY 1 ORDER BY 1
    """,
)
def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import session_stats

    _prep(spark)
    out = session_stats(load(spark, sf_dir, "events"))
    return out.withColumn("n_sessions", F.col("n_sessions").cast("bigint"))


@_q(
    "events_props",
    """
    SELECT event_type, count(*)::BIGINT AS n,
           min(CAST(props->>'$.k' AS INTEGER))::BIGINT AS min_k,
           max(CAST(props->>'$.k' AS INTEGER))::BIGINT AS max_k,
           round(avg(CAST(props->>'$.k' AS INTEGER)), 4) AS avg_k
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import props_extract

    _prep(spark)
    out = props_extract(load(spark, sf_dir, "events"))
    return out.select(
        "event_type",
        F.col("n").cast("bigint"),
        F.col("min_k").cast("bigint"),
        F.col("max_k").cast("bigint"),
        "avg_k",
    )


@_q(
    "events_funnel",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS s,
             min(CASE WHEN event_type = 'view' THEN ts END) AS v,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      FROM events GROUP BY 1)
    SELECT user_id, (s IS NOT NULL AND v IS NOT NULL AND p IS NOT NULL
                     AND s <= v AND v <= p) AS completed_funnel
    FROM f ORDER BY user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.events import user_funnel

    _prep(spark)
    return user_funnel(load(spark, sf_dir, "events"))


# ===========================================================================
# F. host-engine relational (SURVEY.md §2b)
# ===========================================================================


@_q(
    "tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity * 1) AS BIGINT)) AS DOUBLE) / 1.0 AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
           CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(sum(CAST(round(l_quantity * 1) AS BIGINT)) AS DOUBLE) / 1.0 / count(*) AS avg_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
           CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_disc,
           count(*)::BIGINT AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q1_pricing_summary

    _prep(spark)
    return q1_pricing_summary(load(spark, sf_dir, "lineitem"))


@_q(
    "tpch_q3",
    """
    SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
           revenue
    FROM (
      SELECT l_orderkey, o_orderdate, o_orderpriority,
             CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))) AS DOUBLE) / 10000.0 AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
      GROUP BY 1, 2, 3)
    ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q3_top_orders

    _prep(spark)
    out = q3_top_orders(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )
    return out.select(
        "l_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        "o_orderpriority",
        "revenue",
    )


@_q(
    "tpch_q4",
    """
    SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01' AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q4_order_priority

    _prep(spark)
    return q4_order_priority(load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem"))


@_q(
    "tpch_q5",
    """
    SELECT n_name, CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY 1 ORDER BY revenue DESC, n_name ASC
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q5_region_revenue

    _prep(spark)
    return q5_region_revenue(
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
    )


@_q(
    "top_customers",
    """
    SELECT n_name, c_name, revenue, rk FROM (
      SELECT n_name, c_name, revenue,
             dense_rank() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey ASC) AS rk
      FROM (
        SELECT n_name, c_name, c_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2, 3))
    WHERE rk <= 3 ORDER BY n_name, rk, c_name
    """,
)
def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import top_customers_by_nation

    _prep(spark)
    out = top_customers_by_nation(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "nation"), load(spark, sf_dir, "orders")
    )
    return out.withColumn("rk", F.col("rk").cast("bigint"))


@_q(
    "order_priority",
    """
    SELECT o_orderpriority, count(*)::BIGINT AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY 1 ORDER BY 1
    """,
)
def order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import order_priority_counts

    _prep(spark)
    return order_priority_counts(load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem"))


@_q(
    "tpch_q6",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+agg — every predicate must reach the
    parquet scan (asserted in tests/test_plans.py)."""
    _prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(exact_sum(units("l_extendedprice") * units("l_discount"), 1e4, "revenue"))
    )


@_q(
    "tpch_q13",
    """
    SELECT c_count, count(*)::BIGINT AS custdist FROM (
      SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution (left join +
    double aggregation)."""
    _prep(spark)
    customer, orders = load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@_q(
    "tpch_q14",
    """
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN vol ELSE 0 END) AS DOUBLE)
                 / CAST(sum(vol) AS DOUBLE), 4) AS promo_revenue
    FROM (
      SELECT p_type,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS vol
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01')
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share (broadcast part join +
    conditional aggregation).

    Determinism: numerator and denominator are exact integer-unit sums
    (cents x (100 - disc_pct), decimal(38,0) partial aggregates — see
    operators/exact.py), so neither sum depends on reduction order; the
    ratio is ONE int->double conversion each plus one division and one
    4-dp round on bit-identical operands in both engines.  Same hazard
    class as the r5 tpch_q9 flake, closed the same way.
    """
    _prep(spark)
    li, part = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    j = li.where(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    vol = (units("l_extendedprice") * (F.lit(100) - units("l_discount"))).cast("decimal(38,0)")
    num = F.sum(F.when(F.col("p_type").startswith("PROMO"), vol).otherwise(F.lit(0).cast("decimal(38,0)")))
    den = F.sum(vol)
    return j.agg(
        F.round(F.lit(100.0) * num.cast("double") / den.cast("double"), 4).alias("promo_revenue")
    )


@_q(
    "tpch_q7",
    """
    SELECT supp_nation, cust_nation, l_year, CAST(sum(volume) AS DOUBLE) / 10000.0 AS revenue FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate)::BIGINT AS l_year,
             (CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS volume
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
             OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q7_volume_shipping

    _prep(spark)
    out = q7_volume_shipping(
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
    )
    return out.withColumn("l_year", F.col("l_year").cast("bigint"))


@_q(
    "tpch_q10",
    """
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q10_returned_items

    _prep(spark)
    return q10_returned_items(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "nation"),
    )


@_q(
    "tpch_q15",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))) AS DOUBLE) / 10000.0 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q15_top_supplier

    _prep(spark)
    return q15_top_supplier(load(spark, sf_dir, "supplier"), load(spark, sf_dir, "lineitem"))


@_q(
    "tpch_q17",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    JOIN (SELECT l_partkey AS t_partkey, round(0.2 * avg(l_quantity), 4) AS qty_threshold
          FROM lineitem GROUP BY 1) t ON l_partkey = t_partkey
    WHERE p_brand = 'Brand#1' AND l_quantity < qty_threshold
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q17_small_quantity_revenue

    _prep(spark)
    return q17_small_quantity_revenue(load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part"))


@_q(
    "tpch_q18",
    """
    SELECT c_custkey, c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice, round(total_qty, 2) AS total_qty
    FROM orders
    JOIN (SELECT l_orderkey AS big_orderkey, sum(l_quantity) AS total_qty
          FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) ON o_orderkey = big_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q18_large_volume_customers

    _prep(spark)
    return q18_large_volume_customers(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


@_q(
    "tpch_q19",
    """
    SELECT CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q19_disjunctive_revenue

    _prep(spark)
    return q19_disjunctive_revenue(load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part"))


@_q(
    "tpch_q22",
    """
    WITH pos AS (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_bal FROM customer WHERE c_acctbal > 0)
    SELECT (c_custkey % 5)::BIGINT AS cntrycode, count(*)::BIGINT AS numcust,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
    FROM customer, pos
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q22_idle_customers

    _prep(spark)
    out = q22_idle_customers(load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders"))
    return out.withColumn("cntrycode", F.col("cntrycode").cast("bigint")).withColumn(
        "numcust", F.col("numcust").cast("bigint")
    )


@_q(
    "tpch_q2",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey, round(min(l_extendedprice / l_quantity), 4) AS unit_cost
      FROM lineitem GROUP BY 1, 2),
    mc AS (SELECT l_partkey AS m_partkey, min(unit_cost) AS min_cost FROM cost GROUP BY 1)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
    FROM cost
    JOIN mc ON l_partkey = m_partkey AND unit_cost = min_cost
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q2_min_cost_supplier

    _prep(spark)
    return q2_min_cost_supplier(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


@_q(
    "tpch_q8",
    """
    SELECT year(o_orderdate)::BIGINT AS o_year,
           round(CAST(sum(CASE WHEN sn.n_name = 'NATION_1'
                          THEN (CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) ELSE 0 END) AS DOUBLE)
                 / CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)))) AS DOUBLE), 4) AS mkt_share
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q8_market_share

    _prep(spark)
    return q8_market_share(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


@_q(
    "tpch_q9",
    """
    SELECT n_name AS nation, year(o_orderdate)::BIGINT AS o_year,
           CAST(sum((CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) - CAST(round(p_retailprice * 100) AS BIGINT) * CAST(round(l_quantity * 1) AS BIGINT) * 10) AS DOUBLE) / 10000.0
             AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%plate%'
    GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q9_product_profit

    _prep(spark)
    return q9_product_profit(
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "nation"),
    )


@_q(
    "tpch_q11",
    """
    WITH pp AS (
      SELECT l_partkey, sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_quantity * 1) AS BIGINT)) AS value_cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_1' GROUP BY 1)
    SELECT l_partkey, CAST(value_cents AS DOUBLE) / 100.0 AS part_value
    FROM pp, (SELECT sum(value_cents) AS total_cents FROM pp) t
    WHERE value_cents * 5000 > total_cents
    ORDER BY part_value DESC, l_partkey
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q11_important_parts

    _prep(spark)
    return q11_important_parts(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "supplier"), load(spark, sf_dir, "nation")
    )


@_q(
    "tpch_q12",
    """
    SELECT l_linestatus,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
             AS high_line_count,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)::BIGINT
             AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
    GROUP BY 1 ORDER BY 1
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q12_priority_by_status

    _prep(spark)
    return q12_priority_by_status(load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders"))


@_q(
    "tpch_q16",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q16_supplier_counts

    _prep(spark)
    return q16_supplier_counts(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part"), load(spark, sf_dir, "supplier")
    )


@_q(
    "tpch_q20",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
      FROM lineitem
      WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY 1, 2),
    totals AS (SELECT l_partkey AS t_partkey, sum(supp_qty) AS part_qty FROM shipped GROUP BY 1)
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_2'
      AND s_suppkey IN (SELECT l_suppkey FROM shipped JOIN totals ON l_partkey = t_partkey
                        WHERE supp_qty > 0.25 * part_qty)
    ORDER BY s_name
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q20_heavy_shippers

    _prep(spark)
    return q20_heavy_shippers(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
    )


@_q(
    "tpch_q21",
    """
    SELECT s_name, count(*)::BIGINT AS numwait
    FROM lineitem l1
    JOIN orders ON l1.l_orderkey = o_orderkey
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import q21_waiting_suppliers

    _prep(spark)
    return q21_waiting_suppliers(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders"), load(spark, sf_dir, "supplier")
    )


@_q(
    "skew_salted_agg",
    """
    SELECT l_returnflag, count(*)::BIGINT AS n, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
           round(min(l_discount), 2) AS min_disc, round(max(l_discount), 2) AS max_disc
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a 3-value (maximally hot) key —
    must be value-identical to the naive GROUP BY the oracle runs."""
    from .operators.skew import salted_aggregate

    _prep(spark)
    li = load(spark, sf_dir, "lineitem").withColumn("ep_cents", units("l_extendedprice"))
    out = salted_aggregate(
        li,
        key="l_returnflag",
        salt_from="l_orderkey",
        aggs={
            "n": "count:*",
            "total": "sum:ep_cents",
            "min_disc": "min:l_discount",
            "max_disc": "max:l_discount",
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("bigint"),
        (F.col("total").cast("double") / 100.0).alias("total"),
        F.round("min_disc", 2).alias("min_disc"),
        F.round("max_disc", 2).alias("max_disc"),
    ).orderBy("l_returnflag")


@_q(
    "skew_salted_join",
    """
    SELECT o_orderpriority, count(*)::BIGINT AS n_items, round(sum(l_quantity), 2) AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (small side replicated 8×) — row-identical to the plain
    join per the oracle."""
    from .operators.skew import salted_join

    _prep(spark)
    li = load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "k")
    orders = load(spark, sf_dir, "orders").withColumnRenamed("o_orderkey", "k")
    joined = salted_join(li, orders.select("k", "o_orderpriority"), key="k", salt_from="l_linenumber", n_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n_items"), F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy("o_orderpriority")
    )


@_q(
    "quantiles_exact",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (ordered-set aggregate) per group —
    Spark ``percentile`` vs DuckDB ``quantile_cont`` (same linear
    interpolation).  At scale you'd switch to ``percentile_approx`` (t-digest
    sketch, mergeable map-side); the exact form is the oracle-able twin."""
    _prep(spark)
    li = load(spark, sf_dir, "lineitem")
    pct = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.95))")
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("q"))
        .select(
            "l_returnflag",
            F.round(F.col("q")[0], 4).alias("p25"),
            F.round(F.col("q")[1], 4).alias("p50"),
            F.round(F.col("q")[2], 4).alias("p75"),
            F.round(F.col("q")[3], 4).alias("p95"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "pivot_priority_by_flag",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS rev_urgent,
           CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS rev_medium,
           CAST(sum(CASE WHEN o_orderpriority = '5-LOW'    THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS DOUBLE) / 100.0 AS rev_low
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def pivot_priority_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation): revenue by returnflag ×
    order priority.  ``pivot`` with an explicit value list stays a single
    hash-aggregate — no extra shuffle, no value-discovery job."""
    _prep(spark)
    li, orders = load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "orders")
    out = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .pivot("o_orderpriority", ["1-URGENT", "3-MEDIUM", "5-LOW"])
        .agg(F.sum(units("l_extendedprice").cast("decimal(38,0)")))
    )
    return out.select(
        "l_returnflag",
        (F.coalesce(F.col("`1-URGENT`"), F.lit(0)).cast("double") / 100.0).alias("rev_urgent"),
        (F.coalesce(F.col("`3-MEDIUM`"), F.lit(0)).cast("double") / 100.0).alias("rev_medium"),
        (F.coalesce(F.col("`5-LOW`"), F.lit(0)).cast("double") / 100.0).alias("rev_low"),
    ).orderBy("l_returnflag")


@_q(
    "sketch_approx_distinct",
    """
    SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users, true AS approx_within_5pct
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def sketch_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch (approx_count_distinct) sanity-gated against the exact
    count — the sketch value itself is engine-specific, the bound is not."""
    _prep(spark)
    ev = load(spark, sf_dir, "events")
    out = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    )
    return out.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx") - F.col("exact_users")) / F.col("exact_users") <= 0.05
        ).alias("approx_within_5pct"),
    ).orderBy("event_type")


# ===========================================================================
# F2. as-of / range joins and time-bucket rollups
# ===========================================================================


@_q(
    "asof_join",
    """
    WITH o AS (
      SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
      FROM orders GROUP BY 1, 2)
    SELECT e.event_id, e.user_id, o.o_orderkey AS o_orderkey_asof
    FROM events e ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def asof_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most recent order per event (union+window as-of join); oracle uses
    DuckDB's native ASOF JOIN — host-engine-pinned semantics."""
    from .operators.asof import asof_join

    _prep(spark)
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey"],
    )
    return out.select("event_id", "user_id", F.col("o_orderkey_asof").cast("bigint"))


@_q(
    "range_join",
    """
    SELECT tier, count(*)::BIGINT AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM orders
    JOIN (VALUES ('small', 0.0, 100000.0), ('medium', 100000.0, 250000.0),
                 ('large', 250000.0, 1000000000.0)) AS t(tier, lo, hi)
      ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY 1 ORDER BY 1
    """,
)
def range_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join of orders onto price tiers."""
    from .operators.asof import range_join_bucketed

    _prep(spark)
    orders = load(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(
        [("small", 0.0, 100000.0), ("medium", 100000.0, 250000.0), ("large", 250000.0, 1e9)],
        "tier string, lo double, hi double",
    )
    joined = range_join_bucketed(orders, tiers, "o_totalprice", "lo", "hi", bucket_width=50000.0)
    return (
        joined.groupBy("tier")
        .agg(F.count("*").cast("bigint").alias("n_orders"), exact_sum(units("o_totalprice"), 100.0, "revenue"))
        .orderBy("tier")
    )


@_q(
    "rollup_timebuckets",
    """
    WITH f AS (
      SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 300) AS bucket_sec,
             event_type, count(*)::BIGINT AS n_events, sum(CAST(round(value * 100) AS BIGINT)) AS vc
      FROM events GROUP BY 1, 2),
    h AS (
      SELECT (bucket_sec - bucket_sec % 3600) AS bucket_sec, event_type,
             sum(n_events)::BIGINT AS n_events, sum(vc) AS vc
      FROM f GROUP BY 1, 2),
    d AS (
      SELECT (bucket_sec - bucket_sec % 86400) AS bucket_sec, event_type,
             sum(n_events)::BIGINT AS n_events, sum(vc) AS vc
      FROM h GROUP BY 1, 2),
    u AS (
      SELECT '5min' AS grain, * FROM f
      UNION ALL SELECT '1hour', * FROM h
      UNION ALL SELECT '1day', * FROM d)
    SELECT grain, bucket_sec, event_type, n_events,
           CAST(vc AS DOUBLE) / 100.0 AS total_value FROM u
    """,
)
def rollup_timebuckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascade rollup at 5min/1hour/1day grains."""
    from .operators.rollup import continuous_rollup

    _prep(spark)
    out = continuous_rollup(load(spark, sf_dir, "events"))
    return out.select(
        "grain",
        F.col("bucket").cast("long").alias("bucket_sec"),
        "event_type",
        F.col("n_events").cast("bigint"),
        "total_value",
    )


@_q(
    "rollup_grouping_sets",
    """
    SELECT n_name, o_orderpriority, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
           count(*)::BIGINT AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, o_orderpriority)
    ORDER BY n_name ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """,
)
def rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — host-engine aggregation parity."""
    from .operators.rollup import revenue_grouping_sets

    _prep(spark)
    return revenue_grouping_sets(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer"), load(spark, sf_dir, "nation")
    )


# ===========================================================================
# F3. custom function surfaces (UDAF / UDTF)
# ===========================================================================


@_q(
    "udaf_geomean",
    """
    SELECT o_orderpriority, round(exp(avg(ln(o_totalprice))), 2) AS geomean_price
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF (geometric mean) vs closed-form SQL oracle."""
    from .operators.custom_fns import order_price_geomean

    _prep(spark)
    return order_price_geomean(load(spark, sf_dir, "orders"))


@_q(
    "udtf_chunks",
    r"""
    SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
           array_to_string(words[i * 10 + 1 : i * 10 + 10], ' ') AS chunk
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
         unnest(range(0, (len(words) + 9) // 10)) AS t(i)
    """,
)
def udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF document chunker vs DuckDB unnest oracle."""
    from .operators.custom_fns import chunk_documents

    _prep(spark)
    return chunk_documents(load(spark, sf_dir, "documents"), chunk_words=10)


# ===========================================================================
# G. multimodal plumbing (SURVEY.md §2c)
# ===========================================================================


@_q(
    "multimodal_features",
    """
    SELECT doc_id AS media_id, 'image/fake' AS kind,
           octet_length(encode(text))::BIGINT AS byte_len, md5(text) AS digest,
           ((ascii(substr(text, 1, 1)) % 64 + 1) * 16)::INTEGER AS width,
           ((ascii(substr(text, length(text), 1)) % 64 + 1) * 16)::INTEGER AS height,
           'stub' AS decode_ok
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import documents_as_media, extract_features

    _prep(spark)
    return extract_features(documents_as_media(load(spark, sf_dir, "documents")))


@_q(
    "multimodal_frames",
    """
    SELECT doc_id AS media_id, (byte_offset // 100)::BIGINT AS frame_idx,
           byte_offset::BIGINT AS byte_offset
    FROM (
      SELECT doc_id, unnest(range(0, greatest(octet_length(encode(text)) - 1, 0) + 1, 100)) AS byte_offset
      FROM documents)
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import documents_as_media, frame_sample_plan

    _prep(spark)
    out = frame_sample_plan(documents_as_media(load(spark, sf_dir, "documents")), every_n_bytes=100)
    return out.select(
        "media_id",
        F.col("frame_idx").cast("bigint"),
        F.col("byte_offset").cast("bigint"),
    )


@_q(
    "multimodal_decode",
    """
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS kind,
           (CASE WHEN doc_id % 2 = 0
                 THEN 54 + ((3 * (doc_id % 64 + 1) + 3) // 4 * 4) * ((doc_id * 7) % 64 + 1)
                 ELSE 44 + 2 * (doc_id % 1000 + 1) END)::BIGINT AS byte_len,
           (CASE WHEN doc_id % 2 = 0 THEN doc_id % 64 + 1 END)::INTEGER AS width,
           (CASE WHEN doc_id % 2 = 0 THEN (doc_id * 7) % 64 + 1 END)::INTEGER AS height,
           (CASE WHEN doc_id % 2 = 1 THEN 8000 END)::INTEGER AS sample_rate,
           (CASE WHEN doc_id % 2 = 1 THEN (doc_id % 1000 + 1) * 1000 // 8000 END)::INTEGER AS duration_ms,
           'real' AS decode_ok
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level media decode: synthesize genuine BMP/WAV containers
    (geometry a pure function of media_id), then recover the geometry by
    parsing the header BYTES with stdlib struct inside mapInPandas.  The
    oracle recomputes geometry + exact container byte size arithmetically —
    an encoder/decoder disagreement on any header field is a hash mismatch.
    Upgrades the multimodal decode seam from stub to real (VERDICT r4 #4)."""
    from .operators.multimodal import decode_features, synthesize_media

    _prep(spark)
    out = decode_features(synthesize_media(load(spark, sf_dir, "documents")))
    return out.select(
        "media_id",
        "kind",
        "byte_len",
        "width",
        "height",
        "sample_rate",
        "duration_ms",
        "decode_ok",
    )


# ===========================================================================
# G. sketches with self-checking bounds + labeled-embedding analytics
# ===========================================================================


@_q(
    "sketch_cms_heavy_hitters",
    r"""
    WITH toks AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                  FROM documents),
    b AS (SELECT j, (('0x' || substr(md5(j::VARCHAR || ':' || tok), 1, 8))::BIGINT % 512)
                   AS bucket
          FROM toks CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) hj),
    cells AS (SELECT j, bucket, count(*) AS cell_n FROM b GROUP BY 1, 2),
    v AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    top AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rk FROM v
            QUALIFY rk <= 10),
    probes AS (SELECT tok, c, rk, j,
                      (('0x' || substr(md5(j::VARCHAR || ':' || tok), 1, 8))::BIGINT % 512)
                        AS bucket
               FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) rows)
    SELECT tok, c::BIGINT AS exact_n, min(cell_n)::BIGINT AS cms_est,
           (min(cell_n) >= c) AS est_ge_exact, rk::BIGINT AS rk
    FROM probes JOIN cells USING (j, bucket)
    GROUP BY tok, c, rk ORDER BY rk
    """,
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (4x512, portable md5 hashes) estimates vs exact
    counts for the top-10 tokens — the bounded-memory frequency path whose
    aggregate key space is 2048 cells regardless of corpus size."""
    from .operators.stats import cms_heavy_hitters

    _prep(spark)
    return cms_heavy_hitters(load(spark, sf_dir, "documents"), depth=4, width=512, k=10)


@_q(
    "sketch_approx_percentile",
    """
    WITH q AS (
      SELECT l_returnflag,
             round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
             round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
             round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, pct, exact_pct, true AS sketch_within_bound FROM (
      SELECT l_returnflag, 0.25::DOUBLE AS pct, p25 AS exact_pct FROM q
      UNION ALL SELECT l_returnflag, 0.50::DOUBLE, p50 FROM q
      UNION ALL SELECT l_returnflag, 0.75::DOUBLE, p75 FROM q
      UNION ALL SELECT l_returnflag, 0.95::DOUBLE, p95 FROM q)
    ORDER BY 1, 2
    """,
)
def sketch_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (GK sketch, the mergeable 100 TB path) gated by its
    own rank-error guarantee against the raw data; the exact percentile is
    the oracle-compared value, the sketch's bound check is the boolean."""
    from .operators.stats import approx_percentile_check

    _prep(spark)
    return approx_percentile_check(load(spark, sf_dir, "lineitem"), accuracy=1000)


@_q(
    "sim_knn_label_vote",
    f"""
    WITH {_SIM_SCORED_SQL},
    nb AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
      WHERE rank <= 5),
    votes AS (
      SELECT nb.query_id, emb.label::BIGINT AS nb_label, count(*) AS votes
      FROM nb JOIN embeddings emb USING (vec_id) GROUP BY 1, 2),
    pred AS (
      SELECT query_id, nb_label AS predicted_label, votes FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, nb_label ASC) AS rk
        FROM votes)
      WHERE rk = 1)
    SELECT query_id::BIGINT AS query_id, emb.label::BIGINT AS true_label,
           predicted_label, votes::BIGINT AS votes,
           (emb.label = predicted_label) AS correct
    FROM pred JOIN embeddings emb ON emb.vec_id = pred.query_id
    ORDER BY query_id
    """,
)
def sim_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN majority-vote classification of query vectors 0-4 against the
    labeled corpus — neighbor ties by (cosine desc, vec_id), vote ties by
    smaller label, so the whole prediction is oracle-deterministic."""
    from .operators.similarity import knn_label_vote

    _prep(spark)
    return knn_label_vote(load(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5)


@_q(
    "sim_lsh_recall",
    f"""
    WITH {_SIM_SCORED_SQL},
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
      WHERE rank <= 5),
    c AS (SELECT vec_id, v, ({_LSH_BUCKET_SQL('v')}) AS bucket FROM e),
    lq AS (SELECT vec_id AS query_id, v AS qv, ({_LSH_BUCKET_SQL('v')}) AS qbucket
           FROM e WHERE vec_id < 5),
    probes AS (SELECT query_id, qv, unnest([qbucket, xor(qbucket, 1), xor(qbucket, 2),
                                            xor(qbucket, 4), xor(qbucket, 8)]) AS bucket FROM lq),
    lscored AS (
      SELECT DISTINCT query_id, c.vec_id,
             round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * c.v[i]))
                   / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 4) AS cosine
      FROM c JOIN probes USING (bucket) WHERE c.vec_id != probes.query_id),
    lsh AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM lscored)
      WHERE rank <= 5),
    hits AS (SELECT query_id, count(*) AS n
             FROM exact JOIN lsh USING (query_id, vec_id) GROUP BY 1)
    SELECT q.query_id::BIGINT AS query_id, coalesce(n, 0) / 5.0 AS recall_at_k
    FROM q LEFT JOIN hits USING (query_id) ORDER BY query_id
    """,
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN path against brute-force ground truth — the
    metric that qualifies an approximate index.  Composes the two production
    operators unchanged; integer-count / constant-k division is exact."""
    from .operators.similarity import lsh_recall_at_k

    _prep(spark)
    return lsh_recall_at_k(load(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5)


@_q(
    "streaming_cms_topusers",
    r"""
    WITH b AS (SELECT j, (('0x' || substr(md5(j::VARCHAR || ':' || user_id::VARCHAR), 1, 8))::BIGINT
                          % 256) AS bucket
               FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) hj),
    cells AS (SELECT j, bucket, count(*) AS cell_n FROM b GROUP BY 1, 2),
    v AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
    top AS (SELECT user_id, c, row_number() OVER (ORDER BY c DESC, user_id) AS rk FROM v
            QUALIFY rk <= 10),
    probes AS (SELECT user_id, c, rk, j,
                      (('0x' || substr(md5(j::VARCHAR || ':' || user_id::VARCHAR), 1, 8))::BIGINT
                       % 256) AS bucket
               FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j) hj)
    SELECT user_id::BIGINT AS user_id, c::BIGINT AS exact_n, min(cell_n)::BIGINT AS cms_est,
           (min(cell_n) >= c) AS est_ge_exact, rk::BIGINT AS rk
    FROM probes JOIN cells USING (j, bucket)
    GROUP BY user_id, c, rk ORDER BY rk
    """,
)
def streaming_cms_topusers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained as a STREAMING aggregate (state = 1024
    cells regardless of stream volume — the bounded-state alternative to a
    per-user count whose state grows with the keyspace), drained with
    availableNow and probed for the exact top-10 users' frequencies."""
    from .streaming import cms_cells_stream, run_available_now, stream_events
    from pyspark.sql import Window

    _prep(spark)
    cells = run_available_now(
        cms_cells_stream(stream_events(spark, sf_dir), depth=4, width=256),
        output_mode="complete",
    )
    ev = load(spark, sf_dir, "events")
    # exact top-10 via orderBy+limit (TakeOrderedAndProject), not a
    # partition-less rank window over the user table (operators/topk.py)
    from .operators.topk import global_top_k

    top = global_top_k(
        ev.groupBy("user_id").agg(F.count("*").alias("exact_n")),
        [F.desc("exact_n"), F.asc("user_id")],
        10,
    )

    def bucket(j: int):
        hx = F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), F.col("user_id").cast("string"))), 1, 8
        )
        return F.conv(hx, 16, 10).cast("long") % 256

    probes = top.select(
        "user_id",
        "exact_n",
        "rk",
        F.posexplode(F.array(*[bucket(j) for j in range(4)])).alias("row", "bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["row", "bucket"])
        .groupBy("user_id", "exact_n", "rk")
        .agg(F.min("cell_n").alias("cms_est"))
        .select(
            F.col("user_id").cast("bigint"),
            F.col("exact_n").cast("bigint"),
            F.col("cms_est").cast("bigint"),
            (F.col("cms_est") >= F.col("exact_n")).alias("est_ge_exact"),
            F.col("rk").cast("bigint"),
        )
        .orderBy("rk")
    )


@_q(
    "stats_label_centroids",
    """
    WITH comp AS (
      SELECT label, dim, sum(CAST(round(embedding[dim + 1]::DOUBLE * 1000000) AS BIGINT)) AS s
      FROM embeddings CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) d
      GROUP BY 1, 2),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b, sum(a.s * b.s) AS dot
      FROM comp a JOIN comp b USING (dim)
      WHERE a.label <= b.label GROUP BY 1, 2)
    SELECT d.label_a::BIGINT AS label_a, d.label_b::BIGINT AS label_b,
           round(d.dot::DOUBLE / (sqrt(na.dot::DOUBLE) * sqrt(nb.dot::DOUBLE)), 6)
             AS centroid_cosine
    FROM dots d
    JOIN dots na ON na.label_a = d.label_a AND na.label_b = d.label_a
    JOIN dots nb ON nb.label_a = d.label_b AND nb.label_b = d.label_b
    WHERE d.label_a < d.label_b
    ORDER BY label_a, label_b
    """,
)
def stats_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separability matrix: pairwise cosine between per-label centroid
    embeddings, from exact fixed-point integer component sums (cos of the
    sums equals cos of the means, so no float division enters the compared
    value until the final identical IEEE steps)."""
    from .operators.similarity import label_centroid_cosines

    _prep(spark)
    return label_centroid_cosines(load(spark, sf_dir, "embeddings"))


# ===========================================================================
# entry / exports
# ===========================================================================


# ===========================================================================
# I. round-3 operators: co-purchase graph, triangle census, SCD2, int8 ANN,
#    OLS / winsorized stats (registered round 4 per ADVICE.md — every
#    operator ships with its oracle twin or it doesn't ship)
# ===========================================================================

# Shared CTE: the sampled co-purchase projection.  Customer mod-10 sampling
# keeps the oracle-compared edge list ~2k rows at sf0.01 while preserving
# the exact same join shape the unsampled operator runs at scale; the
# filter pushes to the parquet scan on both engines.
_COPURCHASE_CP_SQL = """
    cp AS (SELECT DISTINCT o_custkey AS cust, l_partkey AS part
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_custkey % 10 = 0)
"""

_COPURCHASE_E_SQL = """
    e AS (SELECT a.cust AS src, b.cust AS dst, count(*) AS shared
          FROM cp a JOIN cp b USING (part) WHERE a.cust < b.cust
          GROUP BY 1, 2 HAVING count(*) >= 2)
"""


@_q(
    "graph_copurchase",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL}
    SELECT src::BIGINT AS src, dst::BIGINT AS dst, shared::BIGINT AS shared_parts
    FROM e
    """,
)
def graph_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-overlap customer graph: part-keyed self-join (fan-out bounded
    per part, never all-pairs over customers), support threshold >= 2."""
    from .operators.graph import copurchase_edges

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    return copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2).select(
        F.col("src").cast("bigint"), F.col("dst").cast("bigint"), "shared_parts"
    )


@_q(
    "graph_triangles",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
          FROM e e1 JOIN e e2 ON e1.src = e2.src WHERE e1.dst < e2.dst),
    t AS (SELECT 1 FROM w JOIN e ON e.src = w.b AND e.dst = w.c)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN n_triangles::DOUBLE / n_wedges::DOUBLE ELSE 0.0 END
             AS closed_wedge_ratio
    FROM (SELECT count(*)::BIGINT AS n_wedges FROM w)
    CROSS JOIN (SELECT count(*)::BIGINT AS n_triangles FROM t)
    CROSS JOIN (SELECT count(*)::BIGINT AS n_edges FROM e)
    CROSS JOIN (SELECT count(DISTINCT n)::BIGINT AS n_nodes FROM
                (SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e))
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph: node/edge/wedge/triangle
    counts + closed-wedge ratio, id-oriented so each triangle counts once."""
    from .operators.graph import copurchase_edges, triangle_stats

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return triangle_stats(edges)


@_q(
    "graph_triangles_degree",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM und GROUP BY 1),
    rk AS (SELECT node, deg * 4294967296 + node AS rnk FROM deg),
    d AS (SELECT CASE WHEN ra.rnk < rb.rnk THEN e.src ELSE e.dst END AS src,
                 CASE WHEN ra.rnk < rb.rnk THEN e.dst ELSE e.src END AS dst,
                 greatest(ra.rnk, rb.rnk) AS rank_head
          FROM e JOIN rk ra ON e.src = ra.node JOIN rk rb ON e.dst = rb.node),
    w AS (SELECT d1.src AS a, d1.dst AS b, d2.dst AS c
          FROM d d1 JOIN d d2 ON d1.src = d2.src
          WHERE d1.rank_head < d2.rank_head),
    t AS (SELECT 1 FROM w JOIN d ON d.src = w.b AND d.dst = w.c)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN n_triangles::DOUBLE / n_wedges::DOUBLE ELSE 0.0 END
             AS closed_wedge_ratio
    FROM (SELECT count(*)::BIGINT AS n_wedges FROM w)
    CROSS JOIN (SELECT count(*)::BIGINT AS n_triangles FROM t)
    CROSS JOIN (SELECT count(*)::BIGINT AS n_edges FROM e)
    CROSS JOIN (SELECT count(DISTINCT n)::BIGINT AS n_nodes FROM
                (SELECT src AS n FROM e UNION ALL SELECT dst AS n FROM e))
    """,
)
def graph_triangles_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle census (Schank-Wagner orientation): each
    edge re-oriented toward its (degree, id)-greater endpoint before
    wedging, capping the wedge count at O(E^1.5) regardless of hub skew.
    Triangle count must equal the id-oriented census; the oracle replays
    the identical rank encoding (deg*2^32+id) so the wedge count is pinned
    too."""
    from .operators.graph import copurchase_edges, triangle_stats

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return triangle_stats(edges, orientation="degree")


@_q(
    "scd2_priority_history",
    """
    WITH o AS (SELECT * FROM orders WHERE o_custkey % 10 = 0),
    seq AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
                   lag(o_orderpriority) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                     AS prev_priority
            FROM o),
    ch AS (SELECT * FROM seq
           WHERE prev_priority IS NULL OR prev_priority != o_orderpriority)
    SELECT o_custkey::BIGINT AS custkey,
           row_number() OVER w2::BIGINT AS version,
           o_orderpriority AS priority,
           epoch(o_orderdate)::BIGINT AS eff_from,
           lead(epoch(o_orderdate)::BIGINT) OVER w2 AS eff_to,
           (lead(o_orderdate) OVER w2 IS NULL) AS is_current
    FROM ch
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def scd2_priority_history_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball SCD2 build from the order-priority change log: one window
    shuffle (lag+lead+row_number share a partition ordering), epoch seconds
    via timezone-free calendar arithmetic."""
    from .operators.relational import scd2_priority_history

    _prep(spark)
    return scd2_priority_history(load(spark, sf_dir, "orders"), sample_mod=10)


@_q(
    "stats_linreg",
    """
    WITH d AS (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS y FROM lineitem),
    s AS (SELECT l_returnflag, count(*)::BIGINT AS n_obs, count(*)::DOUBLE AS n,
                 sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
                 sum(x*x)::DOUBLE AS sxx, sum(x*y)::DOUBLE AS sxy
          FROM d GROUP BY 1)
    SELECT l_returnflag, n_obs,
           CASE WHEN n*sxx - sx*sx != 0
                THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END AS slope,
           CASE WHEN n*sxx - sx*sx != 0
                THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n END
             AS intercept
    FROM s
    """,
)
def stats_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit price-cents ~ quantity from exact integer
    sufficient statistics (closed form, engine-bit-identical); degenerate
    constant-x groups yield NULLs, not NaN."""
    from .operators.stats import linreg_exact

    _prep(spark)
    li = load(spark, sf_dir, "lineitem")
    return linreg_exact(
        li,
        "l_returnflag",
        F.col("l_quantity").cast("long"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long"),
    )


@_q(
    "stats_winsorized",
    """
    WITH d AS (SELECT l_returnflag AS flag,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem),
    r AS (SELECT flag, cents, row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
                 count(*) OVER (PARTITION BY flag) AS n FROM d),
    th AS (SELECT flag, min(cents) AS lo_c, max(cents) AS hi_c FROM r
           WHERE rn = CAST(floor(0.05 * (n - 1)) AS BIGINT) + 1
              OR rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
           GROUP BY 1),
    c AS (SELECT d.flag, lo_c, hi_c,
                 greatest(lo_c, least(hi_c, cents)) AS wc,
                 (cents < lo_c)::BIGINT AS clip_lo,
                 (cents > hi_c)::BIGINT AS clip_hi
          FROM d JOIN th USING (flag))
    SELECT flag AS l_returnflag, count(*)::BIGINT AS n_rows,
           lo_c / 100.0 AS lo_threshold, hi_c / 100.0 AS hi_threshold,
           sum(clip_lo)::BIGINT AS n_clipped_lo, sum(clip_hi)::BIGINT AS n_clipped_hi,
           sum(wc)::DOUBLE / count(*)::DOUBLE / 100.0 AS winsorized_mean
    FROM c GROUP BY flag, lo_c, hi_c
    """,
)
def stats_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95 winsorized price stats per returnflag — discrete-rank thresholds
    over exact integer cents (no interpolation), broadcast clamp pass."""
    from .operators.stats import winsorized_stats

    _prep(spark)
    return winsorized_stats(load(spark, sf_dir, "lineitem"), lo=0.05, hi=0.95)


# Shared CTE: int8 symmetric quantization of the embedding corpus.
_INT8_Q_SQL = """
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    es AS (SELECT vec_id, v,
                  CASE WHEN list_max(list_transform(v, y -> abs(y))) > 0
                       THEN 127.0 / list_max(list_transform(v, y -> abs(y)))
                       ELSE 0.0 END AS s
           FROM e),
    q AS (SELECT vec_id,
                 list_transform(v, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS qv
          FROM es),
    qq AS (SELECT vec_id, qv,
                  list_sum(list_transform(qv, x -> x * x))::BIGINT AS qnorm2
           FROM q)
"""


@_q(
    "sim_int8_quantize",
    f"""
    WITH {_INT8_Q_SQL}
    SELECT vec_id::BIGINT AS vec_id, qnorm2,
           md5(array_to_string(qv, ',')) AS qv_digest
    FROM qq ORDER BY vec_id
    """,
)
def sim_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization (FAISS-SQ8 layout) — compared as
    (qnorm2, md5 of the comma-joined codes): the digest pins every code
    byte-for-byte without emitting an array column to the hash compare."""
    from .operators.similarity import int8_quantize

    _prep(spark)
    q = int8_quantize(load(spark, sf_dir, "embeddings"))
    return q.select(
        F.col("vec_id").cast("bigint"),
        "qnorm2",
        F.md5(F.concat_ws(",", F.transform("qv", lambda x: x.cast("string")))).alias(
            "qv_digest"
        ),
    ).orderBy("vec_id")


@_q(
    "sim_topk_int8",
    f"""
    WITH {_INT8_Q_SQL},
    p AS (SELECT vec_id AS query_id, qv AS pqv, qnorm2 AS pnorm2 FROM qq
          WHERE vec_id < 5),
    scored AS (
      SELECT query_id, qq.vec_id,
             round(list_sum(list_transform(range(1, len(qv) + 1), i -> pqv[i] * qv[i]))::DOUBLE
                   / (sqrt(pnorm2::DOUBLE) * sqrt(qnorm2::DOUBLE)), 4) AS cosine_q8
      FROM qq CROSS JOIN p WHERE qq.vec_id != p.query_id)
    SELECT query_id::BIGINT AS query_id, vec_id::BIGINT AS vec_id, cosine_q8,
           rank::BIGINT AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine_q8 DESC, vec_id ASC) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine over the int8-quantized corpus: exact integer dot
    products (no float accumulation-order hazard), one broadcast of the 5
    probe vectors, one window shuffle for top-k."""
    from .operators.similarity import int8_topk

    _prep(spark)
    return int8_topk(load(spark, sf_dir, "embeddings"), [0, 1, 2, 3, 4], k=5)


@_q(
    "graph_bfs_hops",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    src AS (SELECT min(src) AS s FROM e HAVING min(src) IS NOT NULL),
    adj AS (SELECT src AS a, dst AS b FROM e
            UNION ALL SELECT dst, src FROM e),
    bfs AS (
      WITH RECURSIVE walk(node, hops) AS (
        SELECT s, 0 FROM src
        UNION
        SELECT adj.b, hops + 1 FROM walk JOIN adj ON adj.a = walk.node
        WHERE hops < 3)
      SELECT node, min(hops) AS hops FROM walk GROUP BY 1)
    SELECT node::BIGINT AS node, hops::BIGINT AS hops FROM bfs
    """,
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distances from the smallest customer in the co-purchase
    graph, 3 hops: frontier-only expansion (work per round bounded by edges
    touching the frontier) vs the oracle's recursive CTE in UNION-dedup
    mode — exact integer hops, engine-bit-identical."""
    from .operators.graph import bfs_hops, copurchase_edges

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return bfs_hops(edges, max_hops=3)  # source defaults to min node id


@_q(
    "stats_chi_square",
    """
    WITH oc AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
                       count(*) AS n_obs
                FROM orders GROUP BY 1, 2),
    rt AS (SELECT a, sum(n_obs) AS row_total FROM oc GROUP BY 1),
    ct AS (SELECT b, sum(n_obs) AS col_total FROM oc GROUP BY 1),
    nt AS (SELECT sum(n_obs) AS n_total FROM oc),
    -- full grid incl. zero cells: they still contribute `expected`
    cells AS (SELECT a, b, row_total, col_total, coalesce(n_obs, 0) AS observed
              FROM rt CROSS JOIN ct LEFT JOIN oc USING (a, b)),
    pc AS (SELECT a, b, observed::BIGINT AS observed,
                  row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE AS expected,
                  (observed::DOUBLE - row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE)
                  * (observed::DOUBLE - row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE)
                  / (row_total::DOUBLE * col_total::DOUBLE / n_total::DOUBLE)
                    AS contribution
           FROM cells CROSS JOIN nt),
    tot AS (SELECT sum(CAST(floor(contribution * 1e9 + 0.5) AS BIGINT)) / 1e9 AS chi2
            FROM pc)
    SELECT a, b, observed, expected, contribution, chi2 FROM pc CROSS JOIN tot
    """,
)
def stats_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of order priority × status: exact-integer
    contingency cells; the float total summed via order-free integer
    nano-units (the unigram_logprob pattern)."""
    from .operators.stats import chi_square_independence

    _prep(spark)
    return chi_square_independence(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    )


@_q(
    "stats_benford",
    """
    WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                       AS VARCHAR), 1, 1) AS BIGINT) AS digit
               FROM orders),
    counts AS (SELECT digit, count(*) AS n FROM c GROUP BY 1),
    nt AS (SELECT sum(n) AS n_total FROM counts)
    SELECT digit::BIGINT AS digit, n::BIGINT AS n,
           n::DOUBLE / n_total::DOUBLE AS share,
           round(log10(1.0 + 1.0 / digit::DOUBLE), 4) AS benford_share,
           round(abs(n::DOUBLE / n_total::DOUBLE
                     - log10(1.0 + 1.0 / digit::DOUBLE)), 4) AS abs_dev
    FROM counts CROSS JOIN nt
    """,
)
def stats_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit screen on order totals — 9-key bounded
    aggregate, exact counts, log10 columns rounded to 4 dp (libm ulp
    divergence guard)."""
    from .operators.stats import benford_check

    _prep(spark)
    return benford_check(load(spark, sf_dir, "orders"))


@_q(
    "graph_edge_jaccard",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    adj AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src, count(*) AS deg FROM adj GROUP BY 1),
    w AS (SELECT a1.dst AS b, a2.dst AS c, count(*) AS common
          FROM adj a1 JOIN adj a2 ON a1.src = a2.src
          WHERE a1.dst < a2.dst GROUP BY 1, 2)
    SELECT e.src::BIGINT AS src, e.dst::BIGINT AS dst,
           coalesce(w.common, 0)::BIGINT AS common_neighbors,
           coalesce(w.common, 0)::DOUBLE
             / (da.deg + db.deg - coalesce(w.common, 0))::DOUBLE AS jaccard
    FROM e
    LEFT JOIN w ON w.b = e.src AND w.c = e.dst
    JOIN deg da ON da.src = e.src
    JOIN deg db ON db.src = e.dst
    """,
)
def graph_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard for every co-purchase edge: common neighbors via
    the wedge join, union via degrees; the embeddedness weight community
    detection and link prediction consume."""
    from .operators.graph import copurchase_edges, edge_jaccard_similarity

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return edge_jaccard_similarity(edges)


@_q(
    "stats_mad_outliers",
    """
    WITH d AS (SELECT l_returnflag AS flag,
                      CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
               FROM lineitem),
    r1 AS (SELECT flag, cents, row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
                  count(*) OVER (PARTITION BY flag) AS n FROM d),
    med AS (SELECT flag, min(cents) AS med FROM r1
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT) GROUP BY 1),
    devs AS (SELECT d.flag, cents, med, abs(cents - med) AS dev
             FROM d JOIN med USING (flag)),
    r2 AS (SELECT flag, dev, row_number() OVER (PARTITION BY flag ORDER BY dev) AS rn,
                  count(*) OVER (PARTITION BY flag) AS n FROM devs),
    mad AS (SELECT flag, min(dev) AS mad FROM r2
            WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT) GROUP BY 1)
    SELECT flag AS l_returnflag, count(*)::BIGINT AS n_rows,
           med / 100.0 AS median, mad / 100.0 AS mad,
           sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM devs JOIN mad USING (flag)
    GROUP BY flag, med, mad
    """,
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD robust outlier screen per returnflag: discrete-rank medians over
    exact integer cents, |x-med| > 3·mad as pure integer comparison."""
    from .operators.stats import mad_outliers

    _prep(spark)
    return mad_outliers(load(spark, sf_dir, "lineitem"), k=3)


@_q(
    "text_tfidf_keywords",
    r"""
    WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT doc_id, tok, tf::BIGINT AS tf, df::BIGINT AS df,
                      round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
               FROM tf JOIN dfr USING (tok) CROSS JOIN n)
    SELECT doc_id, tok, tf, df, tfidf, rk::BIGINT AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, tok ASC) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf·idf keywords per document: one token-level shuffle, df from
    the tf table (no second text pass), WindowGroupLimit per-doc top-k."""
    from .operators.text import tfidf_keywords

    _prep(spark)
    return tfidf_keywords(load(spark, sf_dir, "documents"), k=3)


@_q(
    "pipeline_mixture_sample",
    """
    WITH q(source, quota) AS (VALUES ('src0', 10), ('src1', 6), ('src2', 3)),
    ranked AS (
      SELECT doc_id, d.source, quota,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      FROM documents d JOIN q ON d.source = q.source)
    SELECT doc_id, source, rk::BIGINT AS rk FROM ranked WHERE rk <= quota
    """,
)
def pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sample with per-source integer quotas (10/6/3 from
    three sources, others excluded) — deterministic md5-order pick, quota
    table broadcast."""
    from .operators.pipeline import mixture_sample

    _prep(spark)
    return mixture_sample(
        load(spark, sf_dir, "documents"), {"src0": 10, "src1": 6, "src2": 3}
    )


@_q(
    "streaming_distinct_users",
    """
    SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600) AS window_sec,
           count(DISTINCT user_id)::BIGINT AS n_distinct_users
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-hour distinct users via the streaming two-phase pattern
    (watermarked dropDuplicates then windowed count — COUNT(DISTINCT) is
    not allowed in streaming aggregations), drained with availableNow and
    compared against the batch COUNT(DISTINCT) oracle."""
    from .streaming import run_available_now, stream_events, windowed_distinct_users_stream

    _prep(spark)
    out = run_available_now(
        windowed_distinct_users_stream(stream_events(spark, sf_dir), window="1 hour"),
        output_mode="complete",
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_sec"),
        F.col("n_distinct_users").cast("bigint"),
    ).orderBy("window_sec")


@_q(
    "relational_cohort_retention",
    """
    WITH a AS (SELECT DISTINCT o_custkey,
                      (year(o_orderdate) * 12 + month(o_orderdate) - 1)::BIGINT AS ym
               FROM orders),
    c AS (SELECT o_custkey, ym, min(ym) OVER (PARTITION BY o_custkey) AS cohort_ym
          FROM a)
    SELECT cohort_ym::BIGINT AS cohort_ym,
           (ym - cohort_ym)::BIGINT AS offset_months,
           count(*)::BIGINT AS n_customers
    FROM c GROUP BY 1, 2
    """,
)
def relational_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix (first-order month × months-since), all
    calendar-integer arithmetic — the warehouse retention/churn query."""
    from .operators.relational import cohort_retention

    _prep(spark)
    return cohort_retention(load(spark, sf_dir, "orders"))


@_q(
    "stats_entropy",
    """
    WITH counts AS (SELECT event_type AS c, count(*) AS n FROM events GROUP BY 1),
    tot AS (SELECT sum(n) AS n_rows FROM counts),
    terms AS (SELECT n_rows,
                     CAST(floor(-(n::DOUBLE / n_rows::DOUBLE)
                                * ln(n::DOUBLE / n_rows::DOUBLE) * 1e9 + 0.5) AS BIGINT)
                       AS tn
              FROM counts CROSS JOIN tot)
    SELECT n_rows::BIGINT AS n_rows, count(*)::BIGINT AS n_categories,
           sum(tn) / 1e9 AS entropy
    FROM terms GROUP BY 1
    """,
)
def stats_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event_type distribution: per-category terms
    fixed to integer nano-units, total an exact long sum (order-free)."""
    from .operators.stats import categorical_entropy
    from .sources.tables import read_table

    _prep(spark)
    return categorical_entropy(read_table(spark, sf_dir, "events"), "event_type")


def _weighted_pagerank_oracle(n_iter: int = 3) -> str:
    """Unrolled-CTE DuckDB twin of operators.graph.weighted_pagerank over
    the bidirectional co-purchase graph (w = shared_parts) — same
    fixed-point integer kernel, so ranks hash-match bit-for-bit."""
    ctes = [
        _COPURCHASE_CP_SQL.strip(),
        _COPURCHASE_E_SQL.strip(),
        "wedges AS (SELECT src, dst, shared AS w FROM e "
        "UNION ALL SELECT dst, src, shared FROM e)",
        "nodes AS (SELECT src AS node FROM wedges UNION SELECT dst FROM wedges)",
        "params AS (SELECT count(*) AS n FROM nodes)",
        "sw AS (SELECT src, sum(w) AS sw FROM wedges GROUP BY 1)",
        f"r0 AS (SELECT node, ({_PR_SCALE} // n)::BIGINT AS rank "
        "FROM nodes CROSS JOIN params)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"c{i} AS (SELECT dst, sum((rank * w) // sw) AS s FROM wedges "
            f"JOIN r{i-1} ON src = node JOIN sw USING (src) GROUP BY dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT node, ((15 * {_PR_SCALE}) // (100 * n) "
            f"+ (85 * coalesce(s, 0)) // 100)::BIGINT AS rank "
            f"FROM nodes CROSS JOIN params LEFT JOIN c{i} ON node = dst)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node::BIGINT AS node, rank FROM r{n_iter}"


@_q("graph_weighted_pagerank", _weighted_pagerank_oracle())
def graph_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted fixed-point PageRank over the co-purchase graph: mass
    flows proportional to shared-part counts; 3 unrolled iterations,
    all-integer arithmetic, hash-matched against the oracle's CTE chain."""
    from .operators.graph import copurchase_edges, weighted_pagerank

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    e = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    directed = e.select("src", "dst", F.col("shared_parts").alias("w")).unionAll(
        e.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            F.col("shared_parts").alias("w"),
        )
    )  # the operator checkpoints internally
    return weighted_pagerank(directed, n_iter=3).select(
        F.col("node").cast("bigint"), "rank"
    )


@_q(
    "text_bigram_logprob",
    r"""
    WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
               FROM documents),
    occ AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
            FROM w, unnest(range(1, len(ws))) AS t(i)),
    cb AS (SELECT w1, w2, count(*) AS cb FROM occ GROUP BY 1, 2),
    cf AS (SELECT w1, sum(cb) AS cf FROM cb GROUP BY 1),
    lp AS (SELECT doc_id, CAST(round(ln(cb::DOUBLE / cf::DOUBLE) * 1e9) AS BIGINT) AS lp
           FROM occ JOIN cb USING (w1, w2) JOIN cf USING (w1))
    SELECT doc_id,
           -((2 * (-sum(lp)) * 1000 + count(*) * 1000000000)
             // (2 * count(*) * 1000000000)) / 1000.0 AS mean_bigram_logprob
    FROM lp GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram conditional log-prob under the corpus's own
    bigram model — word-ORDER-sensitive fluency (shuffled text keeps its
    unigram score but craters here); same nano-unit determinism rules."""
    from .operators.pipeline import bigram_logprob

    _prep(spark)
    return bigram_logprob(load(spark, sf_dir, "documents"))


@_q(
    "rollup_time_weighted_avg",
    """
    WITH x AS (SELECT event_type, event_id, epoch_us(ts) AS tus,
                      CAST(round(value * 1000) AS BIGINT) AS vm
               FROM events),
    d AS (SELECT event_type, tus, vm,
                 lead(tus) OVER (PARTITION BY event_type ORDER BY tus, event_id) - tus
                   AS dt
          FROM x),
    b AS (SELECT event_type, (tus - tus % 3600000000)::BIGINT AS bucket_us, vm, dt
          FROM d WHERE dt IS NOT NULL)
    SELECT event_type, bucket_us, count(*)::BIGINT AS n_intervals,
           sum(vm::HUGEINT * dt)::DOUBLE / sum(dt)::DOUBLE / 1000.0 AS twap
    FROM b GROUP BY 1, 2
    """,
)
def rollup_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average per event type (TimescaleDB time_weight
    analog): LOCF intervals in exact µs, milli-unit values, decimal sums."""
    from .operators.rollup import time_weighted_avg
    from .sources.tables import read_table

    _prep(spark)
    return time_weighted_avg(read_table(spark, sf_dir, "events"), bucket_sec=3600)


# ===========================================================================
# K. round-5 widening: temporal lookup/forward-asof, interval analytics,
#    weighted sampling, binning, normalization, k-core, verified near-dup
# ===========================================================================


@_q(
    "asof_forward_tolerance",
    """
    WITH o AS (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
               FROM orders GROUP BY 1, 2),
    j AS (SELECT e.event_id, e.user_id, o.o_orderkey,
                 date_diff('day', e.ts::DATE, o.o_orderdate) AS days_ahead
          FROM events e ASOF LEFT JOIN o
            ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate)
    SELECT event_id, user_id,
           (CASE WHEN days_ahead <= 30 THEN o_orderkey END)::BIGINT AS next_orderkey,
           (CASE WHEN days_ahead <= 30 THEN days_ahead END)::BIGINT AS days_ahead
    FROM j
    """,
)
def asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of with tolerance: each event's NEXT order (same user,
    order date >= event day) kept only when within 30 days — the
    next-event-attribution lookup (did a signup convert within the window?).
    Union+window forward as-of, one shuffle; oracle uses DuckDB's native
    forward ASOF JOIN."""
    from .operators.asof import asof_join_forward

    _prep(spark)
    events = load(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    out = asof_join_forward(
        events,
        orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey"],
    )
    days_ahead = F.datediff(F.col("o_orderdate_next"), F.to_date("ts"))
    within = days_ahead <= 30
    return out.select(
        "event_id",
        "user_id",
        F.when(within, F.col("o_orderkey_next")).cast("bigint").alias("next_orderkey"),
        F.when(within, days_ahead).cast("bigint").alias("days_ahead"),
    )


@_q(
    "rollup_order_concurrency",
    """
    WITH spans AS (
      SELECT o.o_orderdate, greatest(max(l.l_shipdate), o.o_orderdate) AS fin
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate),
    deltas AS (SELECT day, sum(d) AS d FROM (
        SELECT o_orderdate AS day, 1 AS d FROM spans
        UNION ALL SELECT (fin + INTERVAL 1 DAY)::DATE, -1 FROM spans) GROUP BY 1),
    b AS (SELECT min(day) AS lo, max(day) AS hi FROM deltas),
    spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM b),
    per_day AS (
      SELECT day, n_open FROM (
        SELECT spine.day,
               sum(coalesce(deltas.d, 0)) OVER
                 (ORDER BY spine.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_open
        FROM spine LEFT JOIN deltas ON spine.day = deltas.day)
      WHERE n_open > 0)
    SELECT strftime(day, '%Y-%m') AS month,
           max(n_open)::BIGINT AS peak_open_orders,
           round(sum(n_open)::DOUBLE / count(*), 4) AS avg_open_orders
    FROM per_day GROUP BY 1
    """,
)
def rollup_order_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap analytics: peak/avg concurrently-open orders per
    month via bounded day-explode + map-side-combined count — the
    scale-safe alternative to a single-partition sweep-line running sum."""
    from .operators.rollup import order_concurrency

    _prep(spark)
    return order_concurrency(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


@_q(
    "scd2_asof_lookup",
    """
    WITH o AS (SELECT * FROM orders WHERE o_custkey % 10 = 0),
    seq AS (SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
                   lag(o_orderpriority) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                     AS prev_priority
            FROM o),
    ch AS (SELECT * FROM seq
           WHERE prev_priority IS NULL OR prev_priority != o_orderpriority),
    hist AS (
      SELECT o_custkey::BIGINT AS custkey,
             row_number() OVER w2::BIGINT AS version,
             o_orderpriority AS priority,
             epoch(o_orderdate)::BIGINT AS eff_from,
             lead(epoch(o_orderdate)::BIGINT) OVER w2 AS eff_to
      FROM ch
      WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
    SELECT custkey, version, priority, eff_from
    FROM hist
    WHERE eff_from <= epoch(DATE '1997-06-01')
      AND (eff_to IS NULL OR eff_to > epoch(DATE '1997-06-01'))
    """,
)
def scd2_asof_lookup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup: each sampled customer's priority version
    in effect on 1997-06-01 (eff_from <= D < eff_to, open rows match) —
    the AS OF query a Type-2 dimension exists to answer."""
    from .operators.relational import scd2_asof_lookup

    _prep(spark)
    return scd2_asof_lookup(load(spark, sf_dir, "orders"), asof_date="1997-06-01")


@_q(
    "pipeline_weighted_sample",
    r"""
    WITH keyed AS (
      SELECT doc_id,
             greatest(len(string_split_regex(trim(text), '\s+')), 1)::BIGINT AS weight,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT)::DOUBLE
               / greatest(len(string_split_regex(trim(text), '\s+')), 1)::DOUBLE AS key
      FROM documents)
    SELECT doc_id, weight, rk FROM (
      SELECT doc_id, weight,
             row_number() OVER (ORDER BY key, doc_id)::BIGINT AS rk
      FROM keyed)
    WHERE rk <= 50
    """,
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling (seedless A-ES analog):
    top-50 by the exact-integer-derived priority key u/w, u = 60 bits of
    md5(doc_id), w = word count.  One IEEE division — bit-identical
    ordering in both engines."""
    from .operators.pipeline import weighted_sample

    _prep(spark)
    return weighted_sample(load(spark, sf_dir, "documents"), k=50)


@_q(
    "stats_quantile_binning",
    """
    WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
               FROM orders),
    b AS (SELECT cents, ntile(10) OVER (ORDER BY cents, o_orderkey) AS bin FROM c)
    SELECT bin::BIGINT AS bin, count(*)::BIGINT AS n_orders,
           min(cents) / 100.0 AS lo, max(cents) / 100.0 AS hi,
           round(sum(cents)::DOUBLE / count(*) / 100.0, 4) AS mean_price
    FROM b GROUP BY 1
    """,
)
def stats_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency discretization of order value: ntile(10) over
    exact cents with orderkey tie-break, per-bin count/lo/hi/mean — the
    feature-binning pass, exact flavor (sketch_approx_percentile is the
    at-scale sibling)."""
    from .operators.stats import quantile_binning

    _prep(spark)
    return quantile_binning(load(spark, sf_dir, "orders"), n_bins=10)


@_q(
    "sim_embedding_zscore",
    """
    WITH ex AS (
      SELECT vec_id, u.pos AS pos, u.xm AS xm FROM (
        SELECT vec_id,
               list_transform(range(1, len(embedding) + 1),
                 i -> struct_pack(pos := i - 1,
                                  xm := CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT))) AS l
        FROM embeddings), unnest(l) AS t(u)),
    st AS (SELECT pos,
                  sum(xm)::DOUBLE / count(*) AS mean,
                  sum(xm * xm)::DOUBLE / count(*) AS msq
           FROM ex GROUP BY 1),
    st2 AS (SELECT pos, mean, sqrt(msq - mean * mean) AS std FROM st),
    z AS (SELECT vec_id, ex.pos,
                 CASE WHEN std > 0
                      THEN CAST(floor((xm - mean) / std * 10000 + 0.5) AS BIGINT)
                      ELSE 0 END AS zi
          FROM ex JOIN st2 ON ex.pos = st2.pos)
    SELECT vec_id::BIGINT AS vec_id, count(*)::BIGINT AS n_dims,
           md5(array_to_string(list(zi ORDER BY pos), ',')) AS z_digest
    FROM z GROUP BY 1
    """,
)
def sim_embedding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score normalization of the embedding corpus, digested
    per vector (z re-fixed to integer 1e-4 units so no float is ever
    string-formatted) — the whitening pass before distance indexing."""
    from .operators.similarity import embedding_zscore_digest

    _prep(spark)
    return embedding_zscore_digest(load(spark, sf_dir, "embeddings"))


def _kcore_sql(k: int, rounds: int) -> str:
    # Every CTE is MATERIALIZED: each round references its predecessor
    # twice (both UNION branches / both IN-subqueries), so inlined CTEs
    # re-evaluate the whole chain 2^rounds times (measured 191 s at
    # sf0.01); materialization makes the oracle O(rounds·E) like the
    # Spark loop (3 s).
    parts = ["c0 AS MATERIALIZED (SELECT src, dst FROM e)"]
    for r in range(1, rounds + 1):
        prev = f"c{r - 1}"
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT node, count(*) AS c FROM "
            f"(SELECT src AS node FROM {prev} UNION ALL SELECT dst FROM {prev}) GROUP BY 1)"
        )
        parts.append(f"k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE c >= {k})")
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT src, dst FROM {prev} "
            f"WHERE src IN (SELECT node FROM k{r}) AND dst IN (SELECT node FROM k{r}))"
        )
    return ",\n    ".join(parts)


@_q(
    "graph_kcore",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    {_kcore_sql(k=3, rounds=4)}
    SELECT node::BIGINT AS node, c::BIGINT AS degree FROM
      (SELECT node, count(*) AS c FROM
        (SELECT src AS node FROM c4 UNION ALL SELECT dst FROM c4) GROUP BY 1) t
    """,
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph by 4 fixed peeling rounds (fixed so
    the oracle unrolls the identical rounds as CTEs — equality by
    construction); surviving nodes with in-core degree."""
    from .operators.graph import copurchase_edges, kcore_peel

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return kcore_peel(edges, k=3, rounds=4)


@_q(
    "dedup_ngram_verify",
    f"""
    WITH {_MINHASH_SIG_SQL},
    cand AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(({_MINHASH_MATCHES_SQL}) / 8.0, 4) AS est_jaccard
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE {_MINHASH_BANDS_SQL})
      WHERE est_jaccard >= 0.5),
    gd AS (SELECT doc_id, list_distinct(grams) AS grams FROM g)
    SELECT doc_a, doc_b,
           round(len(list_intersect(ga.grams, gb.grams))::DOUBLE
                 / len(list_distinct(list_concat(ga.grams, gb.grams)))::DOUBLE, 4) AS jaccard
    FROM cand
    JOIN gd ga ON cand.doc_a = ga.doc_id
    JOIN gd gb ON cand.doc_b = gb.doc_id
    """,
)
def dedup_ngram_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by EXACT n-gram Jaccard — the two-stage
    near-dup pipeline (cheap banded candidates, exact set-overlap verify)
    wired end-to-end on the planted corpus."""
    from .operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        planted_near_dup_corpus,
    )

    _prep(spark)
    corpus = planted_near_dup_corpus(load(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(corpus).select("doc_a", "doc_b")
    return ngram_jaccard_pairs(corpus, pairs)


@_q(
    "text_quality_screen",
    r"""
    WITH w AS (
      SELECT len(string_split_regex(trim(text), '\s+')) AS nw,
             list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                                     x -> length(x))) AS sumlen,
             len(regexp_extract_all(text, '(#|\.\.\.)')) AS nsym,
             len(regexp_extract_all(text, '\b(the|and|is|of|to|in|that|with)\b')) AS nstop
      FROM documents),
    f AS (SELECT
             CASE WHEN nw < 50 OR nw > 100000 THEN 1 ELSE 0 END AS f_wc,
             CASE WHEN 3 * nw > sumlen OR sumlen > 10 * nw THEN 1 ELSE 0 END AS f_mwl,
             CASE WHEN 10 * nsym > nw THEN 1 ELSE 0 END AS f_sym,
             CASE WHEN nstop < 2 THEN 1 ELSE 0 END AS f_stop
          FROM w),
    a AS (SELECT sum(f_wc) AS word_count, sum(f_mwl) AS mean_word_len,
                 sum(f_sym) AS symbol_ratio, sum(f_stop) AS stopword_floor,
                 count(*) AS n_docs,
                 sum(CASE WHEN f_wc + f_mwl + f_sym + f_stop = 0 THEN 1 ELSE 0 END) AS n_pass_all
          FROM f)
    SELECT rule, n_fail::BIGINT AS n_fail, n_docs::BIGINT AS n_docs,
           n_pass_all::BIGINT AS n_pass_all FROM (
      SELECT 'word_count' AS rule, word_count AS n_fail, n_docs, n_pass_all FROM a
      UNION ALL SELECT 'mean_word_len', mean_word_len, n_docs, n_pass_all FROM a
      UNION ALL SELECT 'symbol_ratio', symbol_ratio, n_docs, n_pass_all FROM a
      UNION ALL SELECT 'stopword_floor', stopword_floor, n_docs, n_pass_all FROM a)
    """,
)
def text_quality_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality screen: per-rule violation counts +
    pass-all census, all comparisons exact-integer (ratios by
    cross-multiplication)."""
    from .operators.text import gopher_quality_screen

    _prep(spark)
    return gopher_quality_screen(load(spark, sf_dir, "documents"))


@_q(
    "text_hashing_vec",
    r"""
    WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS t
                 FROM documents),
    b AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % 64 AS b FROM tok),
    counts AS (SELECT doc_id, b, count(*) AS c FROM b GROUP BY 1, 2),
    agg AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS nnz FROM counts GROUP BY 1),
    dense AS (
      SELECT a.doc_id, i.i AS bb, coalesce(c.c, 0) AS c
      FROM agg a
      CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
      LEFT JOIN counts c ON c.doc_id = a.doc_id AND c.b = i.i)
    SELECT d.doc_id, a.n_tokens::BIGINT AS n_tokens, a.nnz::BIGINT AS nnz,
           md5(array_to_string(list(d.c ORDER BY d.bb), ',')) AS vec_digest
    FROM dense d JOIN agg a ON d.doc_id = a.doc_id
    GROUP BY d.doc_id, a.n_tokens, a.nnz
    """,
)
def text_hashing_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingTF analog: 64-bucket md5 bag-of-words per doc, digested over
    the dense integer count vector — vocabulary-free featurization."""
    from .operators.text import hashing_vectorizer_digest

    _prep(spark)
    return hashing_vectorizer_digest(load(spark, sf_dir, "documents"), n_buckets=64)


@_q(
    "stats_ks_test",
    """
    WITH d AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                      CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a,
                      CASE WHEN o_orderpriority = '1-URGENT' THEN 0 ELSE 1 END AS b
               FROM orders),
    cum AS (SELECT v,
                   sum(a) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                   sum(b) OVER (ORDER BY v RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
            FROM d),
    t AS (SELECT sum(a) AS na, sum(b) AS nb FROM d)
    SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           round(max(abs(ca * nb - cb * na))::DOUBLE / (na * nb)::DOUBLE, 6) AS d_stat
    FROM cum, t GROUP BY na, nb
    """,
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between URGENT and non-URGENT order
    values — exact integer supremum, one terminal IEEE division."""
    from .operators.stats import ks_two_sample

    _prep(spark)
    return ks_two_sample(load(spark, sf_dir, "orders"))


@_q(
    "stats_gini",
    """
    WITH rev AS (SELECT o_custkey,
                        sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
                 FROM orders GROUP BY 1),
    r AS (SELECT cents, row_number() OVER (ORDER BY cents, o_custkey) AS i FROM rev)
    SELECT count(*)::BIGINT AS n_customers,
           round(sum(cents)::DOUBLE / 100.0, 2) AS total_revenue,
           round((2.0 * sum(i::HUGEINT * cents)::DOUBLE
                  - (count(*) + 1)::DOUBLE * sum(cents)::DOUBLE)
                 / (count(*)::DOUBLE * sum(cents)::DOUBLE), 6) AS gini
    FROM r
    """,
)
def stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of revenue across customers from exact
    integer/decimal sufficient statistics."""
    from .operators.stats import gini_coefficient

    _prep(spark)
    return gini_coefficient(load(spark, sf_dir, "orders"))


def _lpa_sql(rounds: int) -> str:
    parts = [
        "adj AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM adj)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT adj.src AS node, l{r - 1}.label AS label "
            f"FROM adj JOIN l{r - 1} ON adj.dst = l{r - 1}.node)"
        )
        parts.append(
            f"c{r} AS MATERIALIZED (SELECT node, label, count(*) AS cnt FROM n{r} GROUP BY 1, 2)"
        )
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT node, label FROM "
            f"(SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn "
            f"FROM c{r}) WHERE rn = 1)"
        )
    return ",\n    ".join(parts)


@_q(
    "graph_label_propagation",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    {_lpa_sql(rounds=3)}
    SELECT node::BIGINT AS node, label::BIGINT AS label FROM l3
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (3 fixed rounds,
    most-frequent-then-min tie rule) over the co-purchase graph — the
    verifiable form of LPA community detection; oracle unrolls identical
    MATERIALIZED rounds."""
    from .operators.graph import copurchase_edges, label_propagation

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return label_propagation(edges, rounds=3)


@_q(
    "multimodal_resize",
    """
    SELECT doc_id AS media_id,
           greatest(1, (doc_id % 64 + 1) // 2)::INTEGER AS width,
           greatest(1, ((doc_id * 7) % 64 + 1) // 2)::INTEGER AS height,
           (54 + ((3 * greatest(1, (doc_id % 64 + 1) // 2) + 3) // 4 * 4)
                 * greatest(1, ((doc_id * 7) % 64 + 1) // 2))::BIGINT AS byte_len,
           'real' AS decode_ok
    FROM documents WHERE doc_id % 2 = 0
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level image resize: nearest-neighbor 2x downsample of every
    synthesized BMP operating on raw container bytes, then RE-DECODED to
    prove the re-encoded output is a valid BMP.  Oracle pins the resized
    geometry and exact output container size arithmetically."""
    from .operators.multimodal import resize_features, synthesize_media

    _prep(spark)
    media = synthesize_media(load(spark, sf_dir, "documents")).where(
        F.col("kind") == "image/bmp"
    )
    return resize_features(media, factor=2).select(
        "media_id", "width", "height", "byte_len", "decode_ok"
    )


@_q(
    "multimodal_audio_stats",
    """
    WITH w AS (SELECT doc_id, doc_id % 1000 + 1 AS n FROM documents WHERE doc_id % 2 = 1),
    s AS (SELECT doc_id, n,
                 list_transform(range(0, n),
                                i -> ((doc_id + i) * 257) % 4096 - 2048) AS samples
          FROM w)
    SELECT doc_id AS media_id, 8000::INTEGER AS sample_rate, n::BIGINT AS n_samples,
           list_sum(list_transform(samples, x -> abs(x)))::BIGINT AS sum_abs,
           list_max(list_transform(samples, x -> abs(x)))::INTEGER AS peak,
           coalesce(list_sum(list_transform(range(0, n - 1),
                    i -> CASE WHEN samples[i + 1] * samples[i + 2] < 0
                         THEN 1 ELSE 0 END)), 0)::BIGINT AS zero_crossings,
           'real' AS decode_ok
    FROM s
    """,
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction: exact-integer amplitude sum, peak and
    strict zero crossings parsed from the PCM bytes of every synthesized
    WAV; the oracle replays the synthesis formula symbolically, so any
    parsing bug (offset/endianness/width) is a hash mismatch."""
    from .operators.multimodal import audio_features, synthesize_media

    _prep(spark)
    media = synthesize_media(load(spark, sf_dir, "documents")).where(
        F.col("kind") == "audio/wav"
    )
    return audio_features(media).select(
        "media_id",
        "sample_rate",
        "n_samples",
        "sum_abs",
        "peak",
        "zero_crossings",
        "decode_ok",
    )


@_q(
    "events_ohlc",
    """
    WITH d AS (SELECT event_type,
                      epoch_us(ts)::BIGINT - epoch_us(ts)::BIGINT % 3600000000 AS bucket_us,
                      CAST(round(value * 1000) AS BIGINT) AS vm,
                      epoch_us(ts)::HUGEINT * 1000000 + event_id AS tk
               FROM events)
    SELECT event_type, bucket_us::BIGINT AS bucket_us,
           arg_min(vm, tk)::DOUBLE / 1000.0 AS open,
           max(vm)::DOUBLE / 1000.0 AS high,
           min(vm)::DOUBLE / 1000.0 AS low,
           arg_max(vm, tk)::DOUBLE / 1000.0 AS close,
           count(*)::BIGINT AS n_events
    FROM d GROUP BY 1, 2
    """,
)
def events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC candles per event type: open/close by deterministic
    (epoch, event_id) arg-min/max, values fixed to milli-units — the
    TimescaleDB candlestick downsampling primitive."""
    from .operators.events import ohlc_candles

    _prep(spark)
    from .sources.tables import read_table

    return ohlc_candles(read_table(spark, sf_dir, "events"), bucket_sec=3600)


@_q(
    "events_uptime",
    """
    WITH d AS (SELECT user_id, event_id, epoch_us(ts)::BIGINT AS tus,
                      lead(epoch_us(ts)::BIGINT) OVER
                        (PARTITION BY user_id ORDER BY epoch_us(ts)::BIGINT, event_id)
                        - epoch_us(ts)::BIGINT AS gap
               FROM events)
    SELECT user_id, count(*)::BIGINT AS n_events,
           (max(tus) - min(tus))::BIGINT AS span_us,
           sum(CASE WHEN gap IS NOT NULL AND gap <= 7200000000 THEN gap ELSE 0 END)::BIGINT AS up_us,
           CASE WHEN max(tus) - min(tus) > 0
                THEN round(sum(CASE WHEN gap IS NOT NULL AND gap <= 7200000000
                                    THEN gap ELSE 0 END)::DOUBLE
                           / (max(tus) - min(tus))::DOUBLE, 6)
                ELSE 1.0 END AS uptime
    FROM d GROUP BY 1
    """,
)
def events_uptime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heartbeat uptime per user: share of the observed span covered by
    inter-event gaps <= 2h, exact µs integer arithmetic."""
    from .operators.events import heartbeat_uptime
    from .sources.tables import read_table

    _prep(spark)
    return heartbeat_uptime(read_table(spark, sf_dir, "events"), gap_sec=7200)


@_q(
    "graph_topk_similar",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    sym AS (SELECT src AS cust, dst AS similar_cust, shared AS shared_parts FROM e
            UNION ALL SELECT dst, src, shared FROM e)
    SELECT cust::BIGINT AS cust, similar_cust::BIGINT AS similar_cust,
           shared_parts::BIGINT AS shared_parts, rk::BIGINT AS rk
    FROM (SELECT *, row_number() OVER
            (PARTITION BY cust ORDER BY shared_parts DESC, similar_cust) AS rk
          FROM sym)
    WHERE rk <= 3
    """,
)
def graph_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 most similar counterparts per customer from the co-purchase
    graph (shared-part support, id tie-break) — the "customers like you"
    recommendation primitive, WindowGroupLimit-shaped."""
    from .operators.graph import copurchase_edges, topk_similar_customers

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return topk_similar_customers(edges, k=3)


@_q(
    "streaming_ohlc",
    """
    WITH d AS (SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 3600) AS window_sec,
                      event_type,
                      CAST(round(value * 1000) AS BIGINT) AS vm,
                      epoch_us(ts)::HUGEINT * 1000000 + event_id AS tk
               FROM events)
    SELECT window_sec, event_type,
           arg_min(vm, tk)::DOUBLE / 1000.0 AS open,
           max(vm)::DOUBLE / 1000.0 AS high,
           min(vm)::DOUBLE / 1000.0 AS low,
           arg_max(vm, tk)::DOUBLE / 1000.0 AS close,
           count(*)::BIGINT AS n_events
    FROM d GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING OHLC candles: the batch candle rule (deterministic
    composite-decimal tie keys) as a watermark-bounded streaming
    aggregation, drained with availableNow and compared to the batch
    oracle — proves min_by/max_by state merges preserve the tie rule
    incrementally."""
    from .streaming import ohlc_stream, run_available_now, stream_events

    _prep(spark)
    out = run_available_now(
        ohlc_stream(stream_events(spark, sf_dir), window="1 hour"),
        output_mode="complete",
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_sec"),
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_events",
    ).orderBy("window_sec", "event_type")


@_q(
    "skew_bloom_prefilter",
    """
    WITH qual AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
    bloom AS (SELECT DISTINCT
                ('0x' || substr(md5(i::VARCHAR || '|' || c_custkey::VARCHAR), 1, 15))::BIGINT % 8192 AS pos
              FROM qual, (SELECT unnest(range(0, 3)) AS i)),
    probe AS (SELECT o_orderkey, o_custkey,
                     unnest(list_transform(range(0, 3),
                       i -> ('0x' || substr(md5(i::VARCHAR || '|' || o_custkey::VARCHAR), 1, 15))::BIGINT % 8192)) AS pos
              FROM orders),
    passed AS (SELECT o_orderkey, o_custkey FROM probe JOIN bloom USING (pos)
               GROUP BY 1, 2 HAVING count(*) = 3),
    t AS (SELECT count(*) AS n_true FROM passed
          WHERE o_custkey IN (SELECT c_custkey FROM qual))
    SELECT (SELECT count(*) FROM orders)::BIGINT AS n_orders,
           (SELECT count(*) FROM passed)::BIGINT AS n_pass_bloom,
           n_true::BIGINT AS n_true_match,
           ((SELECT count(*) FROM passed) - n_true)::BIGINT AS n_false_pos,
           round(((SELECT count(*) FROM passed) - n_true)::DOUBLE
                 / (SELECT count(*) FROM orders)::DOUBLE, 6) AS fp_rate
    FROM t
    """,
)
def skew_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic broadcast Bloom-filter semi-join prefilter: portable
    md5 hash family, so even the FALSE POSITIVES are engine-identical and
    the census (pass/true/fp/rate) hash-matches the oracle."""
    from .operators.skew import bloom_prefilter_stats

    _prep(spark)
    return bloom_prefilter_stats(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "customer")
    )


@_q(
    "upsert_incremental_agg",
    """
    SELECT o_custkey::BIGINT AS custkey, count(*)::BIGINT AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS total_cents
    FROM orders GROUP BY 1
    """,
)
def upsert_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: pre-1997 state partials merged
    with the newer delta's partials must equal the oracle's full recompute
    — the materialized-view refresh identity (count/sum partials add)."""
    from .sources.upsert import incremental_agg_merge

    _prep(spark)
    return incremental_agg_merge(load(spark, sf_dir, "orders"), split_date="1997-01-01")


@_q(
    "events_time_to_convert",
    """
    WITH f AS (SELECT user_id,
                      min(CASE WHEN event_type = 'view' THEN epoch_us(ts)::BIGINT END) AS v,
                      min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts)::BIGINT END) AS p
               FROM events GROUP BY 1),
    conv AS (SELECT ((p - v) // 1000000)::BIGINT AS delta_sec, user_id FROM f
             WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v),
    r AS (SELECT delta_sec, row_number() OVER (ORDER BY delta_sec, user_id) AS rn,
                 count(*) OVER () AS n, sum(delta_sec) OVER () AS s FROM conv)
    SELECT max(n)::BIGINT AS n_converted,
           max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                    THEN delta_sec END)::BIGINT AS median_sec,
           max(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                    THEN delta_sec END)::BIGINT AS p90_sec,
           round(max(s)::DOUBLE / max(n), 4) AS avg_sec
    FROM r
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion latency: first-view→first-purchase seconds per user,
    summarized with exact discrete-rank median/p90 + mean."""
    from .operators.events import time_to_convert
    from .sources.tables import read_table

    _prep(spark)
    return time_to_convert(read_table(spark, sf_dir, "events"))


@_q(
    "rollup_autocorr",
    """
    WITH daily AS (SELECT ts::DATE AS day, count(*) AS c FROM events GROUP BY 1),
    p AS (SELECT day, c AS x, lead(c) OVER (ORDER BY day) AS y,
                 lead(day) OVER (ORDER BY day) AS nday FROM daily),
    q AS (SELECT x::HUGEINT AS x, y::HUGEINT AS y FROM p
          WHERE nday = (day + INTERVAL 1 DAY)::DATE)
    SELECT (SELECT count(*) FROM daily)::BIGINT AS n_days,
           count(*)::BIGINT AS n_pairs,
           CASE WHEN sqrt((count(*) * sum(x * x) - sum(x) * sum(x))::DOUBLE
                          * (count(*) * sum(y * y) - sum(y) * sum(y))::DOUBLE) > 0
                THEN round((count(*) * sum(x * y) - sum(x) * sum(y))::DOUBLE
                           / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))::DOUBLE
                                  * (count(*) * sum(y * y) - sum(y) * sum(y))::DOUBLE), 6)
                ELSE 0.0 END AS autocorr
    FROM q
    """,
)
def rollup_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series from
    decimal-exact integer sufficient statistics — the seasonality screen."""
    from .operators.rollup import daily_autocorr
    from .sources.tables import read_table

    _prep(spark)
    return daily_autocorr(read_table(spark, sf_dir, "events"))


@_q(
    "stats_psi_drift",
    """
    WITH ref AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
                 FROM orders WHERE o_orderdate < DATE '1995-06-01'),
    cur AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders WHERE o_orderdate >= DATE '1995-06-01'),
    r AS (SELECT v, row_number() OVER (ORDER BY v, o_orderkey) AS rn,
                 count(*) OVER () AS n FROM ref),
    cutlist AS (
      SELECT list(v ORDER BY v) AS cuts FROM r
      WHERE list_contains(list_transform(range(1, 10),
              q -> CAST(floor((q / 10.0) * (n - 1)) AS BIGINT) + 1), rn)),
    br AS (SELECT len(list_filter(cuts, c -> v >= c)) AS bin, count(*) AS np
           FROM ref, cutlist GROUP BY 1),
    bc AS (SELECT len(list_filter(cuts, c -> v >= c)) AS bin, count(*) AS nq
           FROM cur, cutlist GROUP BY 1),
    j AS (SELECT coalesce(br.bin, bc.bin) AS bin,
                 coalesce(np, 0) AS np, coalesce(nq, 0) AS nq
          FROM br FULL JOIN bc ON br.bin = bc.bin),
    t AS (SELECT (SELECT count(*) FROM ref) AS tr, (SELECT count(*) FROM cur) AS tc)
    SELECT tr::BIGINT AS n_ref, tc::BIGINT AS n_cur,
           sum(CASE WHEN np > 0 AND nq > 0 THEN 1 ELSE 0 END)::BIGINT AS n_bins_used,
           sum(CASE WHEN np > 0 AND nq > 0 THEN 0 ELSE 1 END)::BIGINT AS n_bins_skipped,
           round(sum(CASE WHEN np > 0 AND nq > 0 THEN
               CAST(floor((np::DOUBLE / tr - nq::DOUBLE / tc)
                          * ln((np::DOUBLE / tr) / (nq::DOUBLE / tc)) * 1e9 + 0.5) AS BIGINT)
               ELSE 0 END) / 1e9, 6) AS psi
    FROM j, t GROUP BY tr, tc
    """,
)
def stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between pre/post-1995-06 order values:
    reference-decile bins (exact discrete ranks), per-bin terms fixed to
    integer nano-units for an order-free exact sum."""
    from .operators.stats import psi_drift

    _prep(spark)
    return psi_drift(load(spark, sf_dir, "orders"), split_date="1995-06-01")


@_q(
    "events_stickiness",
    """
    WITH daily AS (SELECT ts::DATE AS day, count(DISTINCT user_id) AS dau
                   FROM events GROUP BY 1),
    md AS (SELECT strftime(day, '%Y-%m') AS month, count(*) AS n_days,
                  sum(dau) AS dau_sum FROM daily GROUP BY 1),
    mu AS (SELECT strftime(ts::DATE, '%Y-%m') AS month,
                  count(DISTINCT user_id) AS mau FROM events GROUP BY 1)
    SELECT month, n_days::BIGINT AS n_days,
           round(dau_sum::DOUBLE / n_days, 4) AS avg_dau,
           mau::BIGINT AS mau,
           round(dau_sum::DOUBLE / n_days::DOUBLE / mau::DOUBLE, 6) AS stickiness
    FROM md JOIN mu USING (month)
    """,
)
def events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — exact distinct counts at both grains,
    one terminal IEEE division."""
    from .operators.events import user_stickiness
    from .sources.tables import read_table

    _prep(spark)
    return user_stickiness(read_table(spark, sf_dir, "events"))


@_q(
    "pipeline_dedup_report",
    f"""
    WITH RECURSIVE {_MINHASH_SIG_SQL},
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(({_MINHASH_MATCHES_SQL}) / 8.0, 4) AS est_jaccard
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE {_MINHASH_BANDS_SQL})
      WHERE est_jaccard >= 0.5),
    edges AS (SELECT doc_a AS node, doc_b AS neigh FROM pairs
              UNION ALL
              SELECT doc_b AS node, doc_a AS neigh FROM pairs),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM corpus
      UNION
        SELECT e.node, r.lab FROM reach r JOIN edges e ON e.neigh = r.node),
    cl AS (SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node),
    census AS (
      SELECT (SELECT count(*) FROM corpus) AS n_docs,
             (SELECT coalesce(sum(c - 1), 0) FROM
                (SELECT count(*) AS c FROM corpus GROUP BY md5(text))
              WHERE c > 1) AS n_exact_redundant,
             (SELECT count(*) FROM pairs) AS n_near_pairs,
             (SELECT count(*) FROM
                (SELECT cluster_id FROM cl GROUP BY 1 HAVING count(*) > 1)) AS n_multi_clusters,
             (SELECT count(*) FROM cl WHERE doc_id = cluster_id) AS n_kept)
    SELECT n_docs::BIGINT AS n_docs,
           n_exact_redundant::BIGINT AS n_exact_redundant,
           n_near_pairs::BIGINT AS n_near_pairs,
           n_multi_clusters::BIGINT AS n_multi_clusters,
           n_kept::BIGINT AS n_kept,
           round(n_kept::DOUBLE / n_docs::DOUBLE, 6) AS retention_rate
    FROM census
    """,
)
def pipeline_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline census: exact digest redundancy, LSH
    candidate pairs, connected-component clusters, canonical survivors and
    the retention rate — the whole curation stack composed into one
    report row, every number a 1-row aggregate (no collect)."""
    from .operators.dedup import dedup_retention_report

    _prep(spark)
    return dedup_retention_report(load(spark, sf_dir, "documents"))


@_q(
    "pipeline_pack_efficiency",
    r"""
    WITH base AS (SELECT doc_id, lang,
                         len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]'))::BIGINT AS n_tokens
                  FROM documents),
    arr AS (SELECT lang, max(bin_id) + 1 AS bins_arrival FROM (
              SELECT lang, CAST(floor((sum(n_tokens) OVER w - n_tokens) / 2048.0) AS BIGINT) AS bin_id
              FROM base WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            GROUP BY 1),
    srt AS (SELECT lang, max(bin_id) + 1 AS bins_sorted FROM (
              SELECT lang, CAST(floor((sum(n_tokens) OVER w - n_tokens) / 2048.0) AS BIGINT) AS bin_id
              FROM base WINDOW w AS (PARTITION BY lang ORDER BY n_tokens DESC, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            GROUP BY 1),
    tot AS (SELECT lang, count(*) AS n_docs, sum(n_tokens) AS total_tokens FROM base GROUP BY 1)
    SELECT lang, n_docs::BIGINT AS n_docs, total_tokens::BIGINT AS total_tokens,
           bins_arrival::BIGINT AS bins_arrival, bins_sorted::BIGINT AS bins_sorted,
           round(total_tokens::DOUBLE / (bins_arrival::DOUBLE * 2048), 6) AS eff_arrival,
           round(total_tokens::DOUBLE / (bins_sorted::DOUBLE * 2048), 6) AS eff_sorted
    FROM tot JOIN arr USING (lang) JOIN srt USING (lang)
    """,
)
def pipeline_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency comparison per language: arrival-order vs
    length-descending streaming packing under the same 2048-token budget —
    the measurement behind sort-before-chunk corpus layout."""
    from .operators.pipeline import pack_efficiency_report

    _prep(spark)
    return pack_efficiency_report(load(spark, sf_dir, "documents"), budget_tokens=2048)


@_q(
    "graph_degree_distribution",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    deg AS (SELECT src, count(*) AS deg FROM und GROUP BY 1),
    b AS (SELECT length(to_base(deg, 2)) - 1 AS degree_bin FROM deg)
    SELECT degree_bin::BIGINT AS degree_bin,
           (1 << degree_bin)::BIGINT AS lo_degree,
           count(*)::BIGINT AS n_nodes
    FROM b GROUP BY degree_bin
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree histogram of the co-purchase graph: bin =
    bit-length of the exact degree (no libm log2), the skew diagnostic."""
    from .operators.graph import copurchase_edges, degree_distribution

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return degree_distribution(edges)


@_q(
    "stats_welch_ttest",
    """
    WITH d AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                      CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS a
               FROM orders),
    sa AS (SELECT count(*) AS na, sum(v)::HUGEINT AS s, sum(v::HUGEINT * v)::HUGEINT AS ss
           FROM d WHERE a = 1),
    sb AS (SELECT count(*) AS nb, sum(v)::HUGEINT AS s, sum(v::HUGEINT * v)::HUGEINT AS ss
           FROM d WHERE a = 0),
    m AS (SELECT na, nb,
                 sa.s::DOUBLE / na AS ma, sb.s::DOUBLE / nb AS mb,
                 (sa.ss::DOUBLE / na - (sa.s::DOUBLE / na) * (sa.s::DOUBLE / na)) * na / (na - 1) AS va,
                 (sb.ss::DOUBLE / nb - (sb.s::DOUBLE / nb) * (sb.s::DOUBLE / nb)) * nb / (nb - 1) AS vb
          FROM sa, sb)
    SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
           round(ma / 100.0, 4) AS mean_a, round(mb / 100.0, 4) AS mean_b,
           round((ma - mb) / sqrt(va / na + vb / nb), 4) AS t_stat,
           round((va / na + vb / nb) * (va / na + vb / nb)
                 / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS df
    FROM m
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t between URGENT and other order values —
    decimal-exact sufficient statistics, one fixed IEEE derivation
    sequence mirrored by the oracle."""
    from .operators.stats import welch_ttest

    _prep(spark)
    return welch_ttest(load(spark, sf_dir, "orders"))


@_q(
    "events_pareto_share",
    """
    WITH per_user AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
    ranked AS (SELECT c, row_number() OVER (ORDER BY c DESC, user_id ASC) AS rn
               FROM per_user),
    t AS (SELECT count(*) AS n, sum(c) AS total FROM ranked),
    k AS (SELECT n, total, (n * 10 + 99) // 100 AS k FROM t)
    SELECT n::BIGINT AS n_users, k::BIGINT AS top_k,
           sum(c)::BIGINT AS top_events, total::BIGINT AS total_events,
           round(sum(c)::DOUBLE / total::DOUBLE, 6) AS share
    FROM ranked, k WHERE rn <= k GROUP BY n, total, k
    """,
)
def events_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration: event share of the top-10% most active users,
    exact integer ranks and cutoff."""
    from .operators.events import pareto_share
    from .sources.tables import read_table

    _prep(spark)
    return pareto_share(read_table(spark, sf_dir, "events"), pct=10)


@_q(
    "relational_revenue_share",
    """
    WITH per_nation AS (
      SELECT n_name, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1)
    SELECT n_name, cents / 100.0 AS revenue,
           round(cents::DOUBLE / (sum(cents) OVER ())::DOUBLE, 6) AS share
    FROM per_nation
    """,
)
def relational_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's revenue share via
    a window total over the grouped aggregate — never a second fact pass."""
    from .operators.relational import revenue_share_by_nation

    _prep(spark)
    return revenue_share_by_nation(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
    )


@_q(
    "text_sentence_stats",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                                        x -> trim(x)), x -> x != '') AS sents
      FROM documents)
    SELECT doc_id, len(sents)::BIGINT AS n_sentences,
           CASE WHEN len(sents) > 0
                THEN round(list_sum(list_transform(sents, x -> length(x)))::DOUBLE
                           / len(sents)::DOUBLE, 4)
                ELSE 0.0 END AS mean_sentence_chars,
           coalesce(list_max(list_transform(sents, x -> length(x))), 0)::BIGINT
             AS max_sentence_chars
    FROM s
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc sentence segmentation stats ([.!?]+ delimiters, non-empty
    trimmed segments) — readability/chunking inputs, zero-exchange map."""
    from .operators.text import sentence_stats

    _prep(spark)
    return sentence_stats(load(spark, sf_dir, "documents"))


@_q(
    "text_langid_confusion",
    r"""
    WITH h AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text, '\b(der|die|das|und|zu)\b')) AS hits_de,
             len(regexp_extract_all(text, '\b(the|a|of|and|to)\b')) AS hits_en,
             len(regexp_extract_all(text, '\b(el|la|y|de|un)\b')) AS hits_es,
             len(regexp_extract_all(text, '\b(le|la|et|de|un)\b')) AS hits_fr
      FROM documents),
    p AS (
      SELECT lang,
             CASE WHEN hits_de = mx THEN 'de' WHEN hits_en = mx THEN 'en'
                  WHEN hits_es = mx THEN 'es' ELSE 'fr' END AS predicted_lang
      FROM (SELECT *, greatest(hits_de, hits_en, hits_es, hits_fr) AS mx FROM h)),
    cells AS (SELECT lang, predicted_lang, count(*) AS n FROM p GROUP BY 1, 2)
    SELECT lang, predicted_lang, n::BIGINT AS n_docs,
           round(n::DOUBLE / (sum(n) OVER (PARTITION BY lang))::DOUBLE, 6) AS class_share
    FROM cells
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic vs ground-truth labels,
    with per-cell share of the true class — the classifier-evaluation
    rollup next to the predictions."""
    from .operators.text import langid_confusion

    _prep(spark)
    return langid_confusion(load(spark, sf_dir, "documents"))


@_q(
    "relational_transition_matrix",
    """
    WITH o AS (SELECT * FROM orders WHERE o_custkey % 10 = 0),
    seq AS (SELECT lag(o_orderpriority) OVER
                     (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                     AS prev_priority,
                   o_orderpriority AS next_priority
            FROM o),
    cells AS (SELECT prev_priority, next_priority, count(*) AS n FROM seq
              WHERE prev_priority IS NOT NULL GROUP BY 1, 2)
    SELECT prev_priority, next_priority, n::BIGINT AS n_transitions,
           round(n::DOUBLE / (sum(n) OVER (PARTITION BY prev_priority))::DOUBLE, 6)
             AS row_share
    FROM cells
    """,
)
def relational_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between consecutive order
    priorities per customer — sequence-behavior analytics with exact
    counts and one terminal division per cell."""
    from .operators.relational import priority_transition_matrix

    _prep(spark)
    return priority_transition_matrix(load(spark, sf_dir, "orders"))


_MARKOV_ROUNDS = 8
# 8 unrolled power-iteration rounds; mcells/mrt MATERIALIZED — each round
# references them twice, and inlining would re-evaluate the lag window
# ~3^rounds times (the kcore CTE lesson, ROADMAP r5)
_MARKOV_ROUND_SQL = ",\n    ".join(
    f"""v{k + 1} AS (
      SELECT c.q AS state, sum((v.w * c.n) // rt.t)::BIGINT AS w
      FROM v{k} v JOIN mcells c ON v.state = c.p JOIN mrt rt ON rt.p = c.p
      GROUP BY 1)"""
    for k in range(_MARKOV_ROUNDS)
)


@_q(
    "relational_markov_steady",
    f"""
    WITH seq AS (
      SELECT lag(o_orderpriority) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS p,
             o_orderpriority AS q
      FROM orders),
    mcells AS MATERIALIZED (
      SELECT p, q, count(*)::BIGINT AS n FROM seq WHERE p IS NOT NULL GROUP BY 1, 2),
    mrt AS MATERIALIZED (SELECT p, sum(n)::BIGINT AS t FROM mcells GROUP BY 1),
    states AS MATERIALIZED (
      SELECT DISTINCT s AS state FROM (SELECT p AS s FROM mcells UNION SELECT q FROM mcells)),
    v0 AS (SELECT state, (1000000 // (SELECT count(*) FROM states))::BIGINT AS w FROM states),
    {_MARKOV_ROUND_SQL}
    SELECT state::VARCHAR AS state, w::BIGINT AS steady_ppm
    FROM v{_MARKOV_ROUNDS} ORDER BY state
    """,
)
def relational_markov_steady(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state of the order-priority Markov chain: 8 exact
    integer-ppm power-iteration rounds over the transition counts (floor
    division per term — both engines replay the identical fixed point).
    Corpus-scale work is ONE lag window + |S|² cell aggregate; the
    iteration itself runs on ≤25 integers (operators/relational.py)."""
    from .operators.relational import markov_steady_state

    _prep(spark)
    return markov_steady_state(load(spark, sf_dir, "orders"), rounds=_MARKOV_ROUNDS)


@_q(
    "graph_assortativity",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
    deg AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY 1),
    pr AS (SELECT da.deg::HUGEINT AS x, db.deg::HUGEINT AS y
           FROM und JOIN deg da ON und.src = da.node
                    JOIN deg db ON und.dst = db.node)
    SELECT (count(*) / 2)::BIGINT AS n_edges,
           CASE WHEN sqrt((count(*) * sum(x * x) - sum(x) * sum(x))::DOUBLE
                          * (count(*) * sum(y * y) - sum(y) * sum(y))::DOUBLE) > 0
                THEN round((count(*) * sum(x * y) - sum(x) * sum(y))::DOUBLE
                           / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))::DOUBLE
                                  * (count(*) * sum(y * y) - sum(y) * sum(y))::DOUBLE), 6)
                ELSE 0.0 END AS assortativity
    FROM pr
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson correlation
    of edge-endpoint degrees over both orientations, decimal-exact
    sufficient statistics."""
    from .operators.graph import copurchase_edges, degree_assortativity

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return degree_assortativity(edges)


@_q(
    "stats_grouped_trend",
    r"""
    WITH m AS (
      SELECT n_name, (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS x,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2),
    s AS (SELECT n_name, count(*)::BIGINT AS n_obs, count(*)::DOUBLE AS n,
                 sum(x)::DOUBLE AS sx, sum(y)::DOUBLE AS sy,
                 sum(x * x)::DOUBLE AS sxx, sum(x * y)::DOUBLE AS sxy
          FROM m GROUP BY 1)
    SELECT n_name, n_obs,
           CASE WHEN n * sxx - sx * sx != 0
                THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
           CASE WHEN n * sxx - sx * sx != 0
                THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n END
             AS intercept
    FROM s ORDER BY n_name
    """,
)
def stats_grouped_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: OLS of monthly cents against the month
    index from exact integer sufficient statistics (linreg_exact over the
    monthly rollup) — the grouped time-trend screen behind forecasting."""
    from .operators.stats import linreg_exact

    _prep(spark)
    monthly = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long").alias("x"),
        )
        .agg(F.sum(units("o_totalprice")).cast("long").alias("y"))
    )
    return linreg_exact(monthly, "n_name", F.col("x"), F.col("y")).orderBy("n_name")


@_q(
    "events_funnel_conversion",
    r"""
    WITH per_user AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS s,
             min(CASE WHEN event_type = 'view' THEN ts END) AS v,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      FROM events GROUP BY 1),
    agg AS (
      SELECT sum((s IS NOT NULL)::BIGINT)::BIGINT AS n1,
             sum((s IS NOT NULL AND v IS NOT NULL AND s <= v)::BIGINT)::BIGINT AS n2,
             sum((s IS NOT NULL AND v IS NOT NULL AND s <= v
                  AND p IS NOT NULL AND v <= p)::BIGINT)::BIGINT AS n3
      FROM per_user)
    SELECT '1_signup'::VARCHAR AS step, n1 AS n_users, NULL::BIGINT AS conv_from_prev_ppm
    FROM agg
    UNION ALL SELECT '2_view_after_signup', n2, (n2 * 1000000) // greatest(n1, 1) FROM agg
    UNION ALL SELECT '3_purchase_after_view', n3, (n3 * 1000000) // greatest(n2, 1) FROM agg
    ORDER BY step
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel dropoff report: per-step reached-user counts and
    step-to-step conversion as exact integer ppm; one conditional
    min-timestamp aggregation."""
    from .operators.events import funnel_conversion

    _prep(spark)
    return funnel_conversion(load(spark, sf_dir, "events"))


@_q(
    "text_source_tv_distance",
    r"""
    WITH toks AS (
      SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents),
    st AS (SELECT source, tok, count(*)::BIGINT AS c_st FROM toks GROUP BY 1, 2),
    g AS (SELECT tok, sum(c_st)::BIGINT AS c_t FROM st GROUP BY 1),
    ns AS (SELECT source, sum(c_st)::BIGINT AS n_s FROM st GROUP BY 1),
    nt AS (SELECT sum(n_s)::BIGINT AS n_total FROM ns),
    per AS (
      SELECT st.source, max(ns.n_s)::BIGINT AS n_tokens, max(nt.n_total) AS _n,
             sum(abs(st.c_st::HUGEINT * nt.n_total - g.c_t::HUGEINT * ns.n_s)) AS a_term,
             sum(g.c_t::HUGEINT) AS t_s
      FROM st JOIN g USING (tok) JOIN ns USING (source) CROSS JOIN nt
      GROUP BY 1)
    SELECT source, n_tokens,
           (((a_term + n_tokens::HUGEINT * (_n - t_s)) * 1000000)
            // (2 * n_tokens::HUGEINT * _n))::BIGINT AS tvd_ppm
    FROM per ORDER BY source
    """,
)
def text_source_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source total-variation distance from the corpus token
    distribution — the log-free drift metric (exact rational of counts,
    integer ppm); absent-token mass folds into one per-source scalar so
    no source×token grid ever materializes."""
    from .operators.text import source_tv_distance

    _prep(spark)
    return source_tv_distance(load(spark, sf_dir, "documents"))


@_q(
    "pipeline_bigram_lift",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
    uni AS (SELECT tok, count(*)::BIGINT AS n_tok FROM toks GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS n_total FROM toks),
    docpairs AS (
      SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
             i -> w[i] || ' ' || w[i + 1])) AS pair
      FROM (SELECT string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)),
    pairs AS (SELECT pair, count(*)::BIGINT AS n_ab FROM docpairs
              GROUP BY 1 HAVING count(*) >= 5),
    npt AS (
      SELECT sum(greatest(len(string_split_regex(lower(trim(text)), '\s+')) - 1,
                          0))::BIGINT AS np_total
      FROM documents),
    scored AS (
      SELECT pair, n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
             ((n_ab::HUGEINT * n_total * n_total * 1000000)
              // (ua.n_tok::HUGEINT * ub.n_tok * np_total))::BIGINT AS lift_ppm
      FROM pairs
      JOIN uni ua ON split_part(pair, ' ', 1) = ua.tok
      JOIN uni ub ON split_part(pair, ' ', 2) = ub.tok
      CROSS JOIN tot CROSS JOIN npt)
    SELECT rk, pair, n_ab, n_a, n_b, lift_ppm FROM (
      SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, n_ab DESC, pair)::BIGINT AS rk
      FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def pipeline_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by exact-integer lift (PMI without the log):
    lift_ppm = n_ab·N²·10⁶ div (n_a·n_b·N_pairs) — top-20 multi-word
    expressions a tokenizer should learn."""
    from .operators.pipeline import bigram_lift

    _prep(spark)
    return bigram_lift(load(spark, sf_dir, "documents"), min_count=5, k=20)


@_q(
    "dedup_threshold_sweep",
    f"""
    WITH planted AS (
      SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_concat([embedding[1]::DOUBLE * 1.25],
                         list_transform(embedding[2:], x -> x::DOUBLE)) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0),
    e AS (
      SELECT vec_id, embedding AS v, ({_EMB_BUCKET_SQL}) AS bucket
      FROM planted),
    pairs AS (
      SELECT round({_EMB_DOT_SQL} / ({_EMB_NORM_SQL.format(x='a')}
                                     * {_EMB_NORM_SQL.format(x='b')}), 4) AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT sum((cosine >= 0.5)::BIGINT)::BIGINT AS n_ge_50,
           sum((cosine >= 0.7)::BIGINT)::BIGINT AS n_ge_70,
           sum((cosine >= 0.9)::BIGINT)::BIGINT AS n_ge_90,
           sum((cosine >= 0.95)::BIGINT)::BIGINT AS n_ge_95,
           sum((cosine >= 0.99)::BIGINT)::BIGINT AS n_ge_99
    FROM pairs WHERE cosine >= 0.5
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold tuning sweep: cumulative candidate-pair counts
    at five cosine cutoffs from one pass over the LSH pair set."""
    from .operators.dedup import embedding_threshold_sweep, planted_near_dup_embeddings

    _prep(spark)
    corpus = planted_near_dup_embeddings(load(spark, sf_dir, "embeddings"))
    return embedding_threshold_sweep(corpus)


@_q(
    "relational_share_of_parent",
    r"""
    WITH nat AS (
      SELECT r_name, n_name,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))::HUGEINT AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY 1, 2),
    reg AS (SELECT r_name, sum(cents) AS r_cents FROM nat GROUP BY 1),
    tot AS (SELECT sum(r_cents) AS t_cents FROM reg)
    SELECT nat.r_name, n_name, CAST(cents AS DOUBLE) / 100.0 AS nation_revenue,
           ((cents * 1000000) // r_cents)::BIGINT AS share_of_region_ppm,
           ((r_cents * 1000000) // t_cents)::BIGINT AS region_share_ppm
    FROM nat JOIN reg ON nat.r_name = reg.r_name CROSS JOIN tot
    ORDER BY nat.r_name, n_name
    """,
)
def relational_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level percent-of-parent report (nation within region, region of
    total) with every share an exact integer ppm; one fact scan."""
    from .operators.relational import revenue_share_of_parent

    _prep(spark)
    return revenue_share_of_parent(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


@_q(
    "stats_spearman",
    r"""
    WITH rxv AS (
      SELECT v AS l_quantity, 2 * coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS rx
      FROM (SELECT l_quantity AS v, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1)),
    ryv AS (
      SELECT v AS l_extendedprice, 2 * coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cnt + 1 AS ry
      FROM (SELECT l_extendedprice AS v, count(*)::BIGINT AS cnt FROM lineitem GROUP BY 1)),
    ranked AS (
      SELECT rx::HUGEINT AS x, ry::HUGEINT AS y
      FROM lineitem JOIN rxv USING (l_quantity) JOIN ryv USING (l_extendedprice)),
    s AS (
      SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM ranked)
    SELECT n::BIGINT AS n,
           (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) AS rho
    FROM s
    """,
)
def stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (quantity vs extended price): exact
    doubled-average-tie ranks from bounded value-level prefix counts,
    decimal sufficient stats, the corr_exact IEEE chain."""
    from .operators.stats import spearman_corr

    _prep(spark)
    return spearman_corr(load(spark, sf_dir, "lineitem"))


@_q(
    "sink_encrypted_partitioned",
    """
    SELECT lang, count(*)::BIGINT AS n_docs, count(*)::BIGINT AS n_rt_ok
    FROM documents WHERE lang IN ('en', 'de') GROUP BY 1 ORDER BY 1
    """,
)
def sink_encrypted_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encrypted + partitioned sink composition: documents land as
    lang-partitioned parquet with the text column age-encrypted; the read
    path prunes to two partitions (the filter hits the partition column
    BEFORE any decryption work) and decrypts, and every row must
    round-trip to its original text.  The crypto column and the layout
    optimizations compose — neither disables the other."""
    from .sources.encrypted import read_encrypted, write_encrypted

    _prep(spark)
    path = _scratch("sink_enc_part", sf_dir)
    docs = load(spark, sf_dir, "documents")
    write_encrypted(docs, path, ["text"], KP1.public_key, partition_by=["lang"])
    back = read_encrypted(spark, path, ["text"], KP1.private_key).where(
        F.col("lang").isin("en", "de")
    )
    orig = docs.select("doc_id", F.col("text").alias("orig"))
    return (
        back.join(orig, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("text") == F.col("orig")).cast("long")).cast("bigint").alias("n_rt_ok"),
        )
        .orderBy("lang")
    )


@_q(
    "sink_encrypted_blobs",
    """
    SELECT count(*)::BIGINT AS n_docs, count(*)::BIGINT AS n_rt_ok,
           98304::BIGINT AS blob_bytes
    FROM documents WHERE doc_id < 256
    """,
)
def sink_encrypted_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-payload encrypted sink with SIZE-BASED crypto routing
    (VERDICT r8 item 7): 96 KiB blobs sit above the measured 64 KiB
    Python/JVM crossover (SCALING.md), so the sink picks the executor-JVM
    cipher whenever ``register()`` bound the session to it — any session
    built from the recipe with a JDK present — and the Arrow-batched
    Python route otherwise.  Either way every blob must round-trip
    bit-exact through parquet — the routing rule is a throughput decision,
    never a correctness one, because both routes emit the same age v1 wire
    format."""
    from .sources.encrypted import read_encrypted, write_encrypted

    _prep(spark)
    path = _scratch("sink_enc_blobs", sf_dir)
    blob = F.repeat(F.rpad(F.substring(F.col("text"), 1, 1024), 1024, "x"), 96)
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 256)
        .select("doc_id", blob.alias("blob"))
    )
    write_encrypted(docs, path, ["blob"], KP1.public_key)
    back = read_encrypted(spark, path, ["blob"], KP1.private_key)
    orig = docs.select("doc_id", F.col("blob").alias("orig"))
    return back.join(orig, "doc_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("blob") == F.col("orig")).cast("long")).cast("bigint").alias("n_rt_ok"),
        F.max(F.length("blob")).cast("bigint").alias("blob_bytes"),
    )


@_q(
    "stats_mann_whitney",
    r"""
    WITH vals AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, count(*)::BIGINT AS cnt,
             sum((o_orderpriority = '1-URGENT')::BIGINT)::BIGINT AS cnt_g1
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT *, coalesce(sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS cnt_lt
      FROM vals),
    agg AS (
      SELECT sum(cnt_g1)::BIGINT AS n1, sum(cnt - cnt_g1)::BIGINT AS n2,
             sum((cnt_g1 * (2 * cnt_lt + cnt + 1))::HUGEINT) AS r1_x2,
             sum((cnt * cnt * cnt - cnt)::HUGEINT) AS tie_term
      FROM ranked)
    SELECT n1, n2,
           CAST(2 * n1::HUGEINT * n2 + n1::HUGEINT * (n1 + 1) - r1_x2 AS DOUBLE)
             AS u1_x2,
           (CAST(2 * n1::HUGEINT * n2 + n1::HUGEINT * (n1 + 1) - r1_x2 AS DOUBLE) / 2.0
            - n1::DOUBLE * n2::DOUBLE / 2.0)
           / sqrt((n1::DOUBLE * n2::DOUBLE / 12.0)
                  * ((n1::DOUBLE + n2::DOUBLE + 1.0)
                     - tie_term::DOUBLE / ((n1::DOUBLE + n2::DOUBLE)
                                           * (n1::DOUBLE + n2::DOUBLE - 1.0)))) AS z
    FROM agg
    """,
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U on order totals split by priority: doubled-rank tie
    algebra keeps every rank sum an exact integer; normal-approx z with
    tie-corrected variance is one IEEE chain."""
    from .operators.stats import mann_whitney_u

    _prep(spark)
    return mann_whitney_u(load(spark, sf_dir, "orders"))


@_q(
    "rollup_acf_multi_lag",
    r"""
    WITH daily AS (
      SELECT date_trunc('day', ts)::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1),
    pairs AS (
      SELECT lg.lag, l.cents::HUGEINT AS x, r.cents::HUGEINT AS y
      FROM daily l
      CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) lg
      JOIN daily r ON r.day = l.day + lg.lag::INT),
    s AS (
      SELECT lag, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
      FROM pairs GROUP BY 1)
    SELECT lag::BIGINT AS lag, n::BIGINT AS n_pairs,
           (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * sqrt(n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)) AS acf
    FROM s ORDER BY lag
    """,
)
def rollup_acf_multi_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of global daily revenue at lags 1..7 (weekly-cycle fingerprint):
    lag self-join on the day spine, exact decimal sufficient stats, the
    corr_exact IEEE chain per lag."""
    from .operators.rollup import acf_multi_lag

    _prep(spark)
    return acf_multi_lag(load(spark, sf_dir, "events"), max_lag=7)


@_q(
    "events_burstiness",
    r"""
    WITH g AS (
      SELECT event_type,
             (epoch_us(ts) - lag(epoch_us(ts))
                OVER (PARTITION BY event_type ORDER BY ts, event_id))::HUGEINT AS g
      FROM events),
    s AS (
      SELECT event_type, count(*)::HUGEINT AS n, sum(g) AS sg, sum(g * g) AS sgg
      FROM g WHERE g IS NOT NULL GROUP BY 1)
    SELECT event_type, n::BIGINT AS n_gaps,
           (sqrt((sgg::DOUBLE - sg::DOUBLE * sg::DOUBLE / n::DOUBLE) / n::DOUBLE)
              - sg::DOUBLE / n::DOUBLE)
           / (sqrt((sgg::DOUBLE - sg::DOUBLE * sg::DOUBLE / n::DOUBLE) / n::DOUBLE)
              + sg::DOUBLE / n::DOUBLE) AS burstiness
    FROM s ORDER BY event_type
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness per type (Goh-Barabási B = (σ−μ)/(σ+μ)):
    exact-µs gaps, decimal sufficient stats, one IEEE chain."""
    from .operators.events import burstiness

    _prep(spark)
    return burstiness(load(spark, sf_dir, "events"))


@_q(
    "scd2_apply_changes",
    r"""
    WITH hist AS (
      SELECT o_custkey AS key, o_orderpriority AS attr, o_orderdate::DATE AS valid_from,
             NULL::DATE AS valid_to
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < '1997-01-01') WHERE rn = 1),
    chg AS (
      SELECT o_custkey AS key, o_orderpriority AS new_attr, o_orderdate::DATE AS change_date
      FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey) AS rn
            FROM orders WHERE o_orderdate >= '1997-01-01') WHERE rn = 1),
    updated AS (
      SELECT h.key, h.attr, h.valid_from,
             CASE WHEN c.new_attr IS NOT NULL AND h.valid_to IS NULL
                       AND c.new_attr != h.attr
                  THEN c.change_date ELSE h.valid_to END AS valid_to
      FROM hist h LEFT JOIN chg c USING (key)),
    opened AS (
      SELECT c.key, c.new_attr AS attr, c.change_date AS valid_from, NULL::DATE AS valid_to
      FROM chg c LEFT JOIN hist ON c.key = hist.key
      WHERE hist.attr IS NULL OR hist.attr != c.new_attr)
    SELECT key::BIGINT AS key, attr,
           strftime(valid_from, '%Y-%m-%d') AS valid_from,
           strftime(valid_to, '%Y-%m-%d') AS valid_to,
           (valid_to IS NULL) AS is_current
    FROM (SELECT * FROM updated UNION ALL SELECT * FROM opened)
    ORDER BY key, valid_from, attr
    """,
)
def scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply to a Type-2 dimension: the pre-1997 per-customer current
    priority is the dimension, each customer's first 1997+ order is the
    compacted change batch — differing changes close + open rows, equal
    ones no-op, unseen keys insert.  One broadcast join + a union."""
    from pyspark.sql import Window

    from .operators.relational import scd2_apply_changes as _apply

    _prep(spark)
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    w_h = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    hist = (
        orders.where(F.col("o_orderdate") < cutoff)
        .withColumn("rn", F.row_number().over(w_h))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_orderpriority").alias("attr"),
            F.to_date("o_orderdate").alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
        )
    )
    w_c = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    chg = (
        orders.where(F.col("o_orderdate") >= cutoff)
        .withColumn("rn", F.row_number().over(w_c))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("key"),
            F.col("o_orderpriority").alias("new_attr"),
            F.to_date("o_orderdate").alias("change_date"),
        )
    )
    out = _apply(hist, chg)
    return out.select(
        "key",
        "attr",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    ).orderBy("key", "valid_from", "attr")


@_q(
    "graph_link_prediction",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    und AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    pairs AS (
      SELECT w1.dst AS node_a, w2.dst AS node_b, count(*)::BIGINT AS common
      FROM und w1 JOIN und w2 ON w1.src = w2.src
      WHERE w1.dst < w2.dst GROUP BY 1, 2),
    cand AS (
      SELECT p.* FROM pairs p
      ANTI JOIN e ON p.node_a = e.src AND p.node_b = e.dst),
    deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM und GROUP BY 1),
    scored AS (
      SELECT node_a, node_b, common,
             ((common * 1000000) // (da.deg + db.deg - common))::BIGINT AS jaccard_ppm
      FROM cand JOIN deg da ON cand.node_a = da.node
      JOIN deg db ON cand.node_b = db.node)
    SELECT rk, node_a, node_b, common, jaccard_ppm FROM (
      SELECT *, row_number() OVER (ORDER BY common DESC, jaccard_ppm DESC,
                                   node_a, node_b)::BIGINT AS rk
      FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph: top-20
    non-adjacent pairs by shared neighbors, Jaccard as exact ppm."""
    from .operators.graph import copurchase_edges, link_prediction

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return link_prediction(edges, k=20)


@_q(
    "events_dow_seasonality",
    r"""
    WITH daily AS (
      SELECT isodow(ts)::BIGINT AS iso_dow, count(*)::BIGINT AS n_events,
             sum(CAST(round(value * 100) AS BIGINT))::HUGEINT AS cents
      FROM events GROUP BY 1),
    tot AS (SELECT sum(cents) AS total FROM daily)
    SELECT iso_dow, n_events, CAST(cents AS DOUBLE) / 100.0 AS revenue,
           ((cents * 1000000) // total)::BIGINT AS share_ppm
    FROM daily CROSS JOIN tot ORDER BY iso_dow
    """,
)
def events_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week revenue seasonality: exact-cent sums, revenue share as
    integer ppm (floor division — no float ratio, no cast-rounding
    divergence), ISO day numbering on both engines."""
    from .operators.events import dow_seasonality

    _prep(spark)
    return dow_seasonality(load(spark, sf_dir, "events"))


@_q(
    "sim_pq_codebook",
    r"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    jj AS (SELECT unnest(range(0, 4)) AS j),
    sub AS (
      SELECT vec_id, jj.j AS subspace, v[jj.j * 16 + 1 : jj.j * 16 + 16] AS sv
      FROM e CROSS JOIN jj),
    cents AS (
      SELECT vec_id AS code, jj.j AS subspace, v[jj.j * 16 + 1 : jj.j * 16 + 16] AS cs
      FROM e CROSS JOIN jj WHERE vec_id < 16),
    scored AS (
      SELECT s.vec_id, s.subspace, c.code,
             round(list_sum(list_transform(range(1, 17),
                   i -> (s.sv[i] - c.cs[i]) * (s.sv[i] - c.cs[i]))), 6) AS d6
      FROM sub s JOIN cents c USING (subspace)),
    assigned AS (
      SELECT vec_id, subspace, code, d6 FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                     ORDER BY d6, code) AS rn
        FROM scored) WHERE rn = 1)
    SELECT subspace::BIGINT AS subspace, code::BIGINT AS code,
           count(*)::BIGINT AS n_vecs,
           sum(CAST(round(d6 * 1000000) AS BIGINT))::BIGINT AS total_err_micro
    FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def sim_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization assignment census (FAISS-PQ structure): 4
    subspaces x 16 codes, nearest-centroid per sub-vector via min_by
    partial aggregate, reconstruction error in exact integer micro-units."""
    from .operators.similarity import pq_codebook_stats

    _prep(spark)
    return pq_codebook_stats(load(spark, sf_dir, "embeddings"), n_subspaces=4, n_codes=16)


@_q(
    "graph_modularity",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    {_lpa_sql(rounds=3)},
    lab AS (SELECT node, label FROM l3),
    m_row AS (SELECT count(*)::BIGINT AS m FROM e),
    ein AS (
      SELECT la.label, count(*)::BIGINT AS e_in
      FROM e JOIN lab la ON e.src = la.node JOIN lab lb ON e.dst = lb.node
      WHERE la.label = lb.label GROUP BY 1),
    deg AS (
      SELECT lab.label, count(*)::BIGINT AS deg_sum
      FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e) u
      JOIN lab ON u.node = lab.node GROUP BY 1),
    sizes AS (SELECT label, count(*)::BIGINT AS n_nodes FROM lab GROUP BY 1),
    per AS (
      SELECT s.label, s.n_nodes, coalesce(ein.e_in, 0)::BIGINT AS e_in,
             coalesce(deg.deg_sum, 0)::BIGINT AS deg_sum,
             (coalesce(ein.e_in, 0) * 4 * m_row.m
              - coalesce(deg.deg_sum, 0) * coalesce(deg.deg_sum, 0))::BIGINT
               AS q_contrib_num
      FROM sizes s
      LEFT JOIN ein USING (label) LEFT JOIN deg USING (label)
      CROSS JOIN m_row),
    total AS (
      SELECT CAST(sum(q_contrib_num) AS DOUBLE)
               / (4.0 * (SELECT m FROM m_row)::DOUBLE * (SELECT m FROM m_row)::DOUBLE)
               AS q_total
      FROM per)
    SELECT rk, label::BIGINT AS label, n_nodes, e_in, deg_sum, q_contrib_num, q_total
    FROM (SELECT *, row_number() OVER (ORDER BY n_nodes DESC, label)::BIGINT AS rk
          FROM per)
    CROSS JOIN total
    WHERE rk <= 10 ORDER BY rk
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities, exactly: per-community
    contribution e_c·4m − deg_c² in BIGINT, global Q = Σ / 4m² as the one
    terminal IEEE division; top-10 communities by size."""
    from .operators.graph import (
        community_modularity,
        copurchase_edges,
        label_propagation,
    )
    from .operators.iterate import truncate_lineage

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    edges = truncate_lineage(edges)  # feeds LPA + both modularity sides
    return community_modularity(edges, label_propagation(edges, rounds=3), k=10)


# Shared sketch constants (also used by the S. section below).
_HLL_B = 8
_HLL_M = 1 << _HLL_B
_HLL_SUFFIX = 1 << (60 - _HLL_B)  # 2^52
_HLL_RMAX = 60 - _HLL_B + 1  # 53
# alpha_m * m^2 * 2^rmax — ONE double literal shared by both engines
# (shortest-repr round-trips to the identical IEEE double in each parser)
from .operators.sketch import hll_alpha as _hll_alpha  # noqa: E402

_HLL_NUMER = _hll_alpha(_HLL_M) * _HLL_M * _HLL_M * float(1 << _HLL_RMAX)
# hll_est with the small-range (linear counting) correction — the exact CASE
# mirror of operators/sketch.py:_hll_est_cols.  Expects columns n_buckets and
# s_scaled in scope.  The fixtures sit far above the 2.5·m cut, so the ln()
# branch (libm, last-ulp caveat) never feeds an oracle hash.
_HLL_EST_SQL = (
    f"CASE WHEN {_HLL_NUMER!r} / s_scaled::DOUBLE <= {2.5 * _HLL_M!r} "
    f"AND n_buckets < {_HLL_M} "
    f"THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / ({_HLL_M} - n_buckets)::DOUBLE) "
    f"ELSE {_HLL_NUMER!r} / s_scaled::DOUBLE END"
)
_KMV_K = 64
_KMV_KCONST = float(_KMV_K - 1) * float(1 << 60)


@_q(
    "sketch_hll_merge",
    f"""
    WITH keyed AS (
      SELECT event_type,
             (('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT) AS key
      FROM events WHERE event_type IN ('purchase', 'view')),
    regs AS (
      SELECT event_type, key >> {60 - _HLL_B} AS bucket,
             max(CASE WHEN key % {_HLL_SUFFIX} = 0 THEN {_HLL_RMAX}
                      ELSE {_HLL_RMAX} - length(bin(key % {_HLL_SUFFIX})) END)::BIGINT
               AS register
      FROM keyed GROUP BY 1, 2),
    merged AS (SELECT bucket, max(register) AS register FROM regs GROUP BY 1),
    agg AS (
      SELECT count(*)::BIGINT AS n_buckets,
             sum((1::BIGINT << ({_HLL_RMAX} - register::INT)))::BIGINT AS s_present
      FROM merged),
    sc AS (
      SELECT n_buckets,
             (s_present + ({_HLL_M} - n_buckets) * (1::BIGINT << {_HLL_RMAX}))::BIGINT
               AS s_scaled
      FROM agg),
    ex AS (SELECT count(DISTINCT event_id)::BIGINT AS exact_n FROM events
           WHERE event_type IN ('purchase', 'view'))
    SELECT 'purchase+view'::VARCHAR AS union_of, {_HLL_M}::BIGINT AS m, n_buckets,
           s_scaled,
           {_HLL_EST_SQL} AS hll_est,
           exact_n,
           floor(abs(({_HLL_EST_SQL}) - exact_n) / exact_n * 10000)::BIGINT AS err_bp
    FROM sc, ex
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL mergeability: per-type register tables combined by per-bucket
    max alone estimate the distinct event_ids across view∪purchase — how
    1000 executors each keep a 256-cell sketch and combine them free."""
    from .operators.sketch import hll_merge_estimate

    _prep(spark)
    return hll_merge_estimate(
        load(spark, sf_dir, "events"), "event_type", "event_id", ["view", "purchase"], b=_HLL_B
    )


@_q(
    "multimodal_wav_resample",
    r"""
    WITH wav AS (
      SELECT doc_id AS media_id, doc_id % 1000 + 1 AS n
      FROM documents WHERE doc_id % 2 = 1),
    geo AS (SELECT media_id, n, (n + 3) // 4 AS out_n FROM wav)
    SELECT media_id, 8000::INT AS in_rate, n::INT AS in_samples,
           2000::INT AS out_rate, out_n::INT AS out_samples,
           (44 + 2 * out_n)::BIGINT AS out_len,
           list_sum(list_transform(range(0, out_n),
                    j -> ((media_id + 4 * j) * 257) % 4096 - 2048))::BIGINT AS sample_sum
    FROM geo ORDER BY media_id
    """,
)
def multimodal_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4x audio decimation on real WAV bytes (numpy stride slice), output
    re-encoded AND re-decoded; the exact int64 sum of the produced samples
    pins content — the oracle recomputes it from the synthesis formula."""
    from .operators.multimodal import resample_wav, synthesize_media

    _prep(spark)
    return resample_wav(synthesize_media(load(spark, sf_dir, "documents")), factor=4)


@_q(
    "multimodal_flip",
    r"""
    WITH geo AS (
      SELECT doc_id AS media_id,
             (doc_id % 64 + 1) AS w, ((doc_id * 7) % 64 + 1) AS h,
             ((3 * (doc_id % 64 + 1) + 3) // 4 * 4) AS rw
      FROM documents WHERE doc_id % 10 = 0)
    SELECT media_id, w::INTEGER AS width, h::INTEGER AS height,
           (54 + rw * h)::BIGINT AS byte_len,
           list_sum(list_transform(range(0, rw * h),
                    j -> (((media_id + (((h - 1 - j // rw) * rw + j % rw) % 12)) * 31) % 256)
                         * (j + 1)))::BIGINT AS checksum,
           'real' AS decode_ok
    FROM geo ORDER BY media_id
    """,
)
def multimodal_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL vertical image flip on raw BMP container bytes (row-order
    inversion of the padded pixel buffer), output RE-DECODED; the
    position-weighted checksum Σ out[j]·(j+1) of the flipped buffer is
    replayed symbolically by the oracle (pixel j = synthesis pattern at
    the pre-flip index), so the actual row inversion — not just the
    unchanged geometry — is pinned byte-for-byte."""
    from .operators.multimodal import flip_features, synthesize_media

    _prep(spark)
    media = synthesize_media(
        load(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    ).where(F.col("kind") == "image/bmp")
    return flip_features(media).select(
        "media_id", "width", "height", "byte_len", "checksum", "decode_ok"
    ).orderBy("media_id")


@_q(
    "sink_bucketed_join",
    f"""
    SELECT o_orderstatus,
           count(*)::BIGINT AS n_items,
           {sql_exact_sum(sql_units("l_extendedprice * (1 - l_discount)", 10000), 10000.0)}
             AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1 ORDER BY 1
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table round-trip: both fact tables land bucketed+sorted on
    the join key (8 buckets) and the revenue join runs SHUFFLE-FREE off
    that layout — the 100 TB fact⋈fact strategy, oracle-verified against
    the plain parquet join (identical exact-cent results prove layout
    changed the plan, not the answer; tests/test_bucketing.py pins the
    zero-exchange plan itself)."""
    import os

    _prep(spark)
    path = _scratch("bucketed_join", sf_dir)
    # reclaim table pairs abandoned by dead processes before adding ours
    # (the atexit hook can't fire once bench.py has stopped the session)
    _drop_stale_bucketed_tables(spark)
    # pid-keyed table names (the _scratch scheme): no collision when two
    # sessions share a metastore, and repeated in-process runs overwrite
    # one pair instead of leaking fixed-name catalog entries (ADVICE r6)
    tag = os.getpid()
    t_orders, t_lineitem = f"age_ctr_orders_b_{tag}", f"age_ctr_lineitem_b_{tag}"
    # the tables must outlive this call (the returned DataFrame reads them
    # lazily), so cleanup happens at process exit: drop our pid's entries
    # if a live session remains, bounding the metastore to entries of
    # still-running processes (code-review r7 finding)
    _register_bucketed_cleanup(t_orders, t_lineitem)
    prev_bucketing = spark.conf.get("spark.sql.sources.bucketing.enabled")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    try:
        # Pre-partition by the bucket key before the bucketed write (r15
        # optimization round, guide §6): repartition(8, key) is the same
        # murmur3-pmod placement bucketBy uses, so each of the 8 write
        # tasks holds exactly one bucket and writes exactly one file.
        # Without it the write inherits the scan's partitioning — at sf0.1
        # ONE task wrote all 8 bucket files serially (measured 2.6 s for
        # lineitem alone), and at scale N scan tasks × 8 buckets would
        # spray N×8 small files (the guide's small-files trap).  Same
        # rows, same buckets, same join — layout parallelism only.
        load(spark, sf_dir, "orders").repartition(8, "o_orderkey").write.mode(
            "overwrite"
        ).bucketBy(8, "o_orderkey").sortBy("o_orderkey").option(
            "path", f"{path}/orders_b"
        ).saveAsTable(t_orders)
        load(spark, sf_dir, "lineitem").repartition(8, "l_orderkey").write.mode(
            "overwrite"
        ).bucketBy(8, "l_orderkey").sortBy("l_orderkey").option(
            "path", f"{path}/lineitem_b"
        ).saveAsTable(t_lineitem)
        o = spark.table(t_orders)
        l = spark.table(t_lineitem)
    finally:
        # restore the session conf (the default is true, so a restored
        # session still plans the bucketed scan when the driver executes
        # the returned lazy DataFrame)
        spark.conf.set("spark.sql.sources.bucketing.enabled", prev_bucketing)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            exact_sum(
                units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10000),
                10000.0,
                "revenue",
            ),
        )
        .orderBy("o_orderstatus")
    )


@_q(
    "rollup_anomaly_z",
    r"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts)::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, day, cents,
             count(*) OVER w AS n,
             sum(cents) OVER w AS sx,
             sum(cents::HUGEINT * cents) OVER w AS sxx
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
    scored AS (
      SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
             cents::DOUBLE / 100.0 AS revenue,
             CASE WHEN (sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / n::DOUBLE > 0
                  THEN (cents::DOUBLE - sx::DOUBLE / n::DOUBLE)
                       / sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE) / n::DOUBLE)
                  ELSE 0.0 END AS z
      FROM stats WHERE n >= 7)
    SELECT event_type, day, revenue, z, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY abs(z) DESC, day)::BIGINT AS rk
      FROM scored)
    WHERE rk <= 3 ORDER BY event_type, rk
    """,
)
def rollup_anomaly_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day z-score anomaly screen on daily revenue per type:
    exact-integer sufficient stats in the window frame, one fixed IEEE
    chain for z, top-3 |z| days per type."""
    from .operators.rollup import rolling_anomaly_z

    _prep(spark)
    return rolling_anomaly_z(load(spark, sf_dir, "events"))


@_q(
    "text_boilerplate_screen",
    r"""
    WITH ws AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
    g AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct(list_transform(
               range(0, greatest(len(w) - 5, 0) + 1),
               i -> array_to_string(w[i + 1 : i + 5], ' ')))) AS gram
      FROM ws),
    dfc AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
    boiler AS (SELECT gram FROM dfc WHERE nd >= 3),
    scored AS (
      SELECT g.doc_id, count(*)::BIGINT AS n_grams,
             count(b.gram)::BIGINT AS n_boiler,
             (count(b.gram) * 1000000) // greatest(count(*), 1) AS boiler_ppm
      FROM g LEFT JOIN boiler b USING (gram) GROUP BY 1)
    SELECT rk, doc_id, n_grams, n_boiler, boiler_ppm::BIGINT AS boiler_ppm FROM (
      SELECT *, row_number() OVER (ORDER BY boiler_ppm DESC, doc_id)::BIGINT AS rk
      FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def text_boilerplate_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate screen at phrase level: 5-grams shared by ≥3
    docs flag each document's contamination fraction as exact ppm."""
    from .operators.text import boilerplate_phrase_screen

    _prep(spark)
    return boilerplate_phrase_screen(load(spark, sf_dir, "documents"))


@_q(
    "streaming_topk_users",
    r"""
    WITH c AS (
      SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 86400) AS window_sec,
             user_id, count(*)::BIGINT AS n_events
      FROM events GROUP BY 1, 2)
    SELECT window_sec, user_id, n_events, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY window_sec
                                   ORDER BY n_events DESC, user_id)::BIGINT AS rk
      FROM c)
    WHERE rk <= 3 ORDER BY window_sec, rk
    """,
)
def streaming_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: per-(day, user) counts aggregate IN the
    stream in UPDATE mode (state genuinely watermark-bounded — complete
    mode would pin every group forever to re-emit the full result); the
    top-3 rank runs per drain over the max-compacted update emissions —
    ranking is illegal inside a streaming agg, so aggregate-in-stream +
    rank-per-drain is the standard pattern (streaming/topk_users_update_drain)."""
    from .streaming import stream_events, topk_users_update_drain

    _prep(spark)
    top = topk_users_update_drain(stream_events(spark, sf_dir), window="1 day", k=3)
    return top.select(
        F.col("window_start").cast("long").alias("window_sec"),
        "user_id",
        "n_events",
        "rk",
    ).orderBy("window_sec", "rk")


@_q(
    "streaming_tvd_drift",
    r"""
    WITH c AS (
      SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 86400) AS window_sec,
             event_type, count(*)::BIGINT AS c
      FROM events GROUP BY 1, 2),
    g AS (SELECT event_type, sum(c)::BIGINT AS g FROM c GROUP BY 1),
    nw AS (SELECT window_sec, sum(c)::BIGINT AS n_w FROM c GROUP BY 1),
    tot AS (SELECT sum(c)::BIGINT AS n FROM c)
    SELECT window_sec, n_w AS n_events,
           ((a_term + n_w::HUGEINT * (n - g_s)) * 1000000
            // (2 * n_w::HUGEINT * n))::BIGINT AS tvd_ppm
    FROM (SELECT c.window_sec, max(n_w) AS n_w, max(n) AS n,
                 sum(abs(c.c::HUGEINT * n - g.g::HUGEINT * n_w)) AS a_term,
                 sum(g.g::HUGEINT) AS g_s
          FROM c JOIN g USING (event_type) JOIN nw USING (window_sec) CROSS JOIN tot
          GROUP BY 1)
    ORDER BY window_sec
    """,
)
def streaming_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift monitor: per-day TVD (exact integer ppm) between
    each window's event-type mix and the whole stream's — update-mode
    watermark-bounded counts, max-compacted per drain, sparse-identity
    TVD downstream (streaming/tvd_drift_update_drain).  The oracle
    replays the identical arithmetic from the batch table."""
    from .streaming import stream_events, tvd_drift_update_drain

    _prep(spark)
    return tvd_drift_update_drain(stream_events(spark, sf_dir), window="1 day")


@_q(
    "dedup_containment",
    f"""
    WITH {_MINHASH_SIG_SQL},
    cand AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(({_MINHASH_MATCHES_SQL}) / 8.0, 4) AS est_jaccard
        FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        WHERE {_MINHASH_BANDS_SQL})
      WHERE est_jaccard >= 0.5),
    gd AS (SELECT doc_id, list_distinct(grams) AS grams FROM g)
    SELECT doc_a, doc_b,
           len(list_intersect(ga.grams, gb.grams))::BIGINT AS n_common,
           (len(list_intersect(ga.grams, gb.grams))::BIGINT * 1000000)
             // greatest(len(ga.grams), 1) AS contain_ab_ppm,
           (len(list_intersect(ga.grams, gb.grams))::BIGINT * 1000000)
             // greatest(len(gb.grams), 1) AS contain_ba_ppm
    FROM cand
    JOIN gd ga ON cand.doc_a = ga.doc_id
    JOIN gd gb ON cand.doc_b = gb.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment over LSH candidates: the planted
    prefix-mutations show containment(A→B) = 10⁶ ppm (exact subset) where
    Jaccard alone reads ~0.3 — quote/excerpt detection, exact-integer."""
    from .operators.dedup import (
        minhash_lsh_pairs,
        ngram_containment_pairs,
        planted_near_dup_corpus,
    )

    _prep(spark)
    corpus = planted_near_dup_corpus(load(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs(corpus).select("doc_a", "doc_b")
    return ngram_containment_pairs(corpus, pairs)


@_q(
    "stats_bootstrap_ci",
    r"""
    WITH hashed AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             (('0x' || substr(md5(o_orderkey::VARCHAR), 1, 15))::BIGINT) AS h
      FROM orders),
    grid AS (
      SELECT cents, h, b.b FROM hashed CROSS JOIN (SELECT unnest(range(0, 40)) AS b) b),
    keyed AS (
      SELECT b, cents,
             xor(z, z >> 29) AS u
      FROM (SELECT b, cents,
                   (  (a0 * 1284865837) % 1152921504606846976
                    + (((a0 * 1481765933) % 268435456) << 32)
                    + (((a1 * 1284865837) % 1073741824) << 30)
                   ) % 1152921504606846976 AS z
            FROM (SELECT b, cents,
                         (h + b * 8315539447683195) % 1073741824 AS a0,
                         (h + b * 8315539447683195) >> 30 AS a1
                  FROM grid))),
    wtd AS (
      SELECT b, cents,
             CASE WHEN u <= 424136118829305344 THEN 0
                  WHEN u <= 848272237658610688 THEN 1
                  WHEN u <= 1060340297073263360 THEN 2
                  WHEN u <= 1131029650211480960 THEN 3
                  WHEN u <= 1148701988496035328 THEN 4
                  WHEN u <= 1152236456152946176 THEN 5
                  WHEN u <= 1152825534095764608 THEN 6
                  WHEN u <= 1152909688087595776 THEN 7
                  ELSE 8 END AS w
      FROM keyed),
    means AS (
      SELECT b, CAST(sum(cents * w) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 100.0 AS mean_b
      FROM wtd GROUP BY 1),
    ranked AS (SELECT b, mean_b, row_number() OVER (ORDER BY mean_b, b) AS rk FROM means),
    pick AS (
      SELECT CASE WHEN rk = 2 THEN 'ci_lo' WHEN rk = 20 THEN 'ci_mid'
                  ELSE 'ci_hi' END AS stat,
             mean_b AS value
      FROM ranked WHERE rk IN (2, 20, 38)),
    fullm AS (
      SELECT 'mean_full' AS stat,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) / 100.0 AS value
      FROM orders)
    SELECT stat::VARCHAR AS stat, value
    FROM (SELECT * FROM pick UNION ALL SELECT * FROM fullm) ORDER BY stat
    """,
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI (p05/p50/p95 of 40 resample
    means): replication weights drawn by cutting 60-bit md5 keys against
    integer Poisson(1)-CDF thresholds — both engines draw identical
    resamples; map-side only, no sampling shuffle (the BLB pattern)."""
    from .operators.stats import poisson_bootstrap_ci

    _prep(spark)
    return poisson_bootstrap_ci(load(spark, sf_dir, "orders"), n_resamples=40)


@_q(
    "graph_weighted_sssp",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    u AS MATERIALIZED (
      SELECT src, dst, 1000000 // shared AS w FROM e
      UNION ALL SELECT dst, src, 1000000 // shared FROM e),
    d0 AS MATERIALIZED (SELECT min(src) AS node, 0::BIGINT AS dist FROM e
                        HAVING min(src) IS NOT NULL),
    d1 AS MATERIALIZED (
      SELECT node, min(dist)::BIGINT AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL SELECT u.dst, d0.dist + u.w FROM d0 JOIN u ON d0.node = u.src)
      GROUP BY 1),
    d2 AS MATERIALIZED (
      SELECT node, min(dist)::BIGINT AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL SELECT u.dst, d1.dist + u.w FROM d1 JOIN u ON d1.node = u.src)
      GROUP BY 1),
    d3 AS MATERIALIZED (
      SELECT node, min(dist)::BIGINT AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL SELECT u.dst, d2.dist + u.w FROM d2 JOIN u ON d2.node = u.src)
      GROUP BY 1),
    d4 AS MATERIALIZED (
      SELECT node, min(dist)::BIGINT AS dist FROM (
        SELECT node, dist FROM d3
        UNION ALL SELECT u.dst, d3.dist + u.w FROM d3 JOIN u ON d3.node = u.src)
      GROUP BY 1)
    SELECT node::BIGINT AS node, dist FROM d4 ORDER BY node
    """,
)
def graph_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bellman-Ford shortest paths (4 rounds) over the co-purchase graph,
    edge cost 1000000 div shared_parts (stronger overlap = cheaper hop) —
    integer-exact path sums; oracle unrolls the relaxation as MATERIALIZED
    CTEs (inlining re-evaluates the chain exponentially, see kcore)."""
    from .operators.graph import copurchase_edges, weighted_sssp

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    edges = edges.withColumn("w", F.expr("1000000 div shared_parts"))
    return weighted_sssp(edges, rounds=4)


@_q(
    "sim_range_search",
    f"""
    WITH {_SIM_SCORED_SQL}
    SELECT query_id, vec_id, cosine FROM scored
    WHERE cosine >= 0.25 ORDER BY query_id, vec_id
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius similarity join: all (query, corpus) pairs with 4-dp cosine ≥
    0.25 — the threshold predicate runs inside the broadcast join stage, so
    only qualifying pairs materialize."""
    from .operators.similarity import queries_from_ids, range_search

    _prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    return range_search(emb, queries_from_ids(emb, [0, 1, 2, 3, 4]), tau=0.25)


@_q(
    "text_readability",
    r"""
    WITH c AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_words,
             greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT AS n_sentences,
             len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))::BIGINT AS n_syllables
      FROM documents)
    SELECT doc_id, lang, n_words, n_sentences, n_syllables,
           CAST(206835 * n_sentences * n_words - 1015 * n_words * n_words
                - 84600 * n_syllables * n_sentences AS DOUBLE)
             / CAST(1000 * n_sentences * n_words AS DOUBLE) AS flesch
    FROM c WHERE n_words > 0 ORDER BY doc_id
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: three integer counts cross-
    multiplied into one exact rational, one terminal IEEE division."""
    from .operators.text import readability_scores

    _prep(spark)
    return readability_scores(load(spark, sf_dir, "documents"))


@_q(
    "multimodal_image_histogram",
    r"""
    WITH img AS (
      SELECT doc_id AS media_id, doc_id % 64 + 1 AS w, (doc_id * 7) % 64 + 1 AS h
      FROM documents WHERE doc_id % 2 = 0),
    geo AS (SELECT media_id, ((3 * w + 3) // 4 * 4) * h AS pb FROM img),
    grid AS (SELECT media_id, pb, r.r
             FROM geo CROSS JOIN (SELECT unnest(range(0, 12)) AS r) r),
    vals AS (SELECT media_id, (((media_id + r) * 31) % 256) // 16 AS bin,
                    (pb - r + 11) // 12 AS cnt
             FROM grid)
    SELECT media_id, bin::BIGINT AS bin, sum(cnt)::BIGINT AS n_bytes
    FROM vals WHERE cnt > 0 GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin byte-value histogram over every BMP's decoded pixel buffer
    (numpy bincount per Arrow batch, shuffle-free).  The oracle replays the
    synthesis pattern symbolically — pixel byte p is ((id + p%12)*31)%256 —
    so the histogram is pinned against the REAL decoded bytes."""
    from .operators.multimodal import image_byte_histogram, synthesize_media

    _prep(spark)
    media = synthesize_media(load(spark, sf_dir, "documents"))
    return image_byte_histogram(media, bins=16)


@_q(
    "graph_clustering_coeff",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    w AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
          FROM e e1 JOIN e e2 ON e1.src = e2.src WHERE e1.dst < e2.dst),
    t AS (SELECT w.a, w.b, w.c FROM w JOIN e ON e.src = w.b AND e.dst = w.c),
    tv AS (SELECT node, count(*)::BIGINT AS n_tri FROM
           (SELECT unnest([a, b, c]) AS node FROM t) GROUP BY 1),
    und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM und GROUP BY 1),
    scored AS (
      SELECT d.node, d.deg, coalesce(tv.n_tri, 0)::BIGINT AS n_tri,
             (2 * coalesce(tv.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
               AS coeff_ppm
      FROM deg d LEFT JOIN tv USING (node) WHERE d.deg >= 2)
    SELECT rk, node, deg, n_tri, coeff_ppm::BIGINT AS coeff_ppm FROM (
      SELECT *, row_number() OVER (ORDER BY coeff_ppm DESC, node)::BIGINT AS rk
      FROM scored)
    WHERE rk <= 20 ORDER BY rk
    """,
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 local clustering coefficients of the co-purchase graph in
    exact parts-per-million integer arithmetic."""
    from .operators.graph import clustering_coefficient, copurchase_edges

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return clustering_coefficient(edges, k=20)


@_q(
    "stats_quantile_interp",
    r"""
    WITH ranked AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY CAST(round(value * 100) AS BIGINT)) AS rn
      FROM events),
    counts AS (SELECT event_type, count(*)::BIGINT AS n FROM events GROUP BY 1),
    grid AS (
      SELECT c.event_type, c.n, q.q::BIGINT AS q,
             1 + ((c.n - 1) * q.q) // 4 AS lo_rk,
             ((c.n - 1) * q.q) % 4 AS rem,
             least(1 + ((c.n - 1) * q.q) // 4 + 1, c.n) AS hi_rk
      FROM counts c CROSS JOIN (SELECT unnest([1, 2, 3]) AS q) q)
    SELECT g.event_type, g.q, g.n,
           CAST(lo.cents * 4 + g.rem * (hi.cents - lo.cents) AS DOUBLE) / 400.0
             AS quantile_val
    FROM grid g
    JOIN ranked lo ON lo.event_type = g.event_type AND lo.rn = g.lo_rk
    JOIN ranked hi ON hi.event_type = g.event_type AND hi.rn = g.hi_rk
    ORDER BY g.event_type, g.q
    """,
)
def stats_quantile_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile_cont-style quartiles per event type in integer
    quarter-cent arithmetic; the exact reference the GK-sketch gate
    (approx_percentile_check) validates against."""
    from .operators.stats import quantile_interp

    _prep(spark)
    return quantile_interp(load(spark, sf_dir, "events"))


@_q(
    "events_decayed_revenue",
    r"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts)::DATE AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    maxd AS (SELECT event_type, max(day) AS max_day FROM daily GROUP BY 1),
    expl AS (
      SELECT d.event_type, d.day + j.j::INT AS tday,
             d.cents::HUGEINT * (1::BIGINT << (19 - j.j))::HUGEINT AS wcents
      FROM daily d CROSS JOIN (SELECT unnest(range(0, 20)) AS j) j)
    SELECT e.event_type, strftime(e.tday, '%Y-%m-%d') AS day,
           CAST(sum(e.wcents) AS DOUBLE) / 52428800.0 AS decayed_rev
    FROM expl e JOIN maxd m USING (event_type)
    WHERE e.tday <= m.max_day
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_decayed_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed daily revenue (half-life 1 day, 20-day
    horizon): exact power-of-two integer weights, one terminal division —
    explode + partial-agg shuffle, no range join."""
    from .operators.events import decayed_revenue

    _prep(spark)
    return decayed_revenue(load(spark, sf_dir, "events"), half_lives=20)


@_q(
    "pipeline_doc_chunking",
    r"""
    WITH base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
      FROM documents),
    grid AS (
      SELECT doc_id, toks, n_tokens,
             unnest(range(0, 1 + (greatest(0, n_tokens - 64) + 47) // 48)) AS chunk_id
      FROM base)
    SELECT doc_id, chunk_id::BIGINT AS chunk_id,
           (chunk_id * 48)::BIGINT AS start_tok,
           least(64, n_tokens - chunk_id * 48)::BIGINT AS chunk_tokens,
           md5(array_to_string(list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64),
                               ' ')) AS chunk_md5
    FROM grid ORDER BY doc_id, chunk_id
    """,
)
def pipeline_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (size 64, overlap 16): integer chunk grid +
    per-chunk text digest — shuffle-free map-side posexplode."""
    from .operators.pipeline import chunk_documents

    _prep(spark)
    return chunk_documents(load(spark, sf_dir, "documents"), size=64, overlap=16)


@_q(
    "pipeline_kfold_split",
    r"""
    WITH keyed AS (
      SELECT (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT) % 5 AS fold, lang,
             len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_words
      FROM documents)
    SELECT fold::BIGINT AS fold, count(*)::BIGINT AS n_docs,
           count(DISTINCT lang)::BIGINT AS n_langs, sum(n_words)::BIGINT AS total_words
    FROM keyed GROUP BY 1 ORDER BY 1
    """,
)
def pipeline_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold split census: fold = md5-60-bit(doc_id) mod 5 —
    stateless per-row assignment, reproducible across engines/runs."""
    from .operators.pipeline import kfold_split

    _prep(spark)
    return kfold_split(load(spark, sf_dir, "documents"), k=5)


# ===========================================================================
# S. portable cardinality sketches (operators/sketch.py)
# ===========================================================================


@_q(
    "sketch_hll_distinct",
    f"""
    WITH keyed AS (
      SELECT (('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT) AS key
      FROM events),
    regs AS (
      SELECT key >> {60 - _HLL_B} AS bucket,
             max(CASE WHEN key % {_HLL_SUFFIX} = 0 THEN {_HLL_RMAX}
                      ELSE {_HLL_RMAX} - length(bin(key % {_HLL_SUFFIX})) END)::BIGINT
               AS register
      FROM keyed GROUP BY 1),
    agg AS (
      SELECT count(*)::BIGINT AS n_buckets,
             sum((1::BIGINT << ({_HLL_RMAX} - register::INT)))::BIGINT AS s_present
      FROM regs),
    sc AS (
      SELECT n_buckets,
             (s_present + ({_HLL_M} - n_buckets) * (1::BIGINT << {_HLL_RMAX}))::BIGINT
               AS s_scaled
      FROM agg),
    ex AS (SELECT count(DISTINCT event_id)::BIGINT AS exact_n FROM events)
    SELECT {_HLL_M}::BIGINT AS m, n_buckets,
           s_scaled,
           {_HLL_EST_SQL} AS hll_est,
           exact_n,
           floor(abs(({_HLL_EST_SQL}) - exact_n) / exact_n * 10000)::BIGINT AS err_bp
    FROM sc, ex
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog (m=256) over event_id: the oracle replays
    the identical register table from the same 60-bit md5 keys, so the
    sketch — not just the answer — is pinned cell-by-cell.  All register
    arithmetic integer-exact; one terminal IEEE division."""
    from .operators.sketch import hll_estimate

    _prep(spark)
    return hll_estimate(load(spark, sf_dir, "events"), "event_id", b=_HLL_B)


@_q(
    "sketch_kmv_distinct",
    f"""
    WITH keyed AS (
      SELECT DISTINCT event_type,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS key
      FROM events),
    ranked AS (
      SELECT event_type, key,
             row_number() OVER (PARTITION BY event_type ORDER BY key) AS rk
      FROM keyed),
    kth AS (
      SELECT event_type, max(rk)::BIGINT AS n_keys, max(key)::BIGINT AS kth_key
      FROM ranked WHERE rk <= {_KMV_K} GROUP BY 1),
    ex AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_n
           FROM events GROUP BY 1)
    SELECT event_type, n_keys, kth_key,
           CASE WHEN n_keys < {_KMV_K} THEN n_keys::DOUBLE
                ELSE {_KMV_KCONST!r} / kth_key::DOUBLE END AS kmv_est,
           exact_n,
           floor(abs(CASE WHEN n_keys < {_KMV_K} THEN n_keys::DOUBLE
                          ELSE {_KMV_KCONST!r} / kth_key::DOUBLE END
                     - exact_n) / exact_n * 10000)::BIGINT AS err_bp
    FROM kth JOIN ex USING (event_type) ORDER BY event_type
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KMV (k-minimum-values) distinct-user estimate, k=64;
    exact when a group holds < k distinct keys.  WindowGroupLimit pushes
    the per-group top-k into partial per-partition limits."""
    from .operators.sketch import kmv_estimate

    _prep(spark)
    return kmv_estimate(load(spark, sf_dir, "events"), "event_type", "user_id", k=_KMV_K)


@_q(
    "sketch_kmv_union",
    f"""
    WITH keyed AS (
      SELECT DISTINCT event_type,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS key
      FROM events WHERE event_type IN ('purchase', 'view')),
    ranked AS (
      SELECT event_type, key,
             row_number() OVER (PARTITION BY event_type ORDER BY key) AS rk
      FROM keyed),
    merged AS (SELECT DISTINCT key FROM ranked WHERE rk <= {_KMV_K}),
    mrk AS (SELECT key, row_number() OVER (ORDER BY key) AS rk FROM merged),
    kth AS (SELECT max(rk)::BIGINT AS n_keys, max(key)::BIGINT AS kth_key
            FROM mrk WHERE rk <= {_KMV_K}),
    ex AS (SELECT count(DISTINCT user_id)::BIGINT AS exact_n FROM events
           WHERE event_type IN ('purchase', 'view'))
    SELECT 'purchase+view'::VARCHAR AS union_of, n_keys, kth_key,
           CASE WHEN n_keys < {_KMV_K} THEN n_keys::DOUBLE
                ELSE {_KMV_KCONST!r} / kth_key::DOUBLE END AS kmv_est,
           exact_n,
           floor(abs(CASE WHEN n_keys < {_KMV_K} THEN n_keys::DOUBLE
                          ELSE {_KMV_KCONST!r} / kth_key::DOUBLE END
                     - exact_n) / exact_n * 10000)::BIGINT AS err_bp
    FROM kth, ex
    """,
)
def sketch_kmv_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch UNION: distinct users across view∪purchase estimated from
    the two per-type k-minima lists alone (merge = k smallest of the union
    of sketches) — the mergeability that makes KMV usable across 1000
    executors without re-touching raw data."""
    from .operators.sketch import kmv_union_estimate

    _prep(spark)
    return kmv_union_estimate(
        load(spark, sf_dir, "events"), "event_type", "user_id", ["view", "purchase"], k=_KMV_K
    )


_SPAN_ANCHORS_SQL = """p AS (
      SELECT doc_id, substr(md5(substr(text, CAST(i AS INT), 24)), 1, 16) AS h
      FROM documents, unnest(range(1, length(text) - 22)) AS t(i)
      WHERE length(text) >= 24),
    w AS (SELECT DISTINCT doc_id, h FROM p
          WHERE ('0x' || substr(h, 1, 4))::BIGINT % 8 = 0)"""

# Pair-forming span oracles must replay the Spark path's hot-bucket cap
# (dedup._drop_hot_buckets, DEFAULT_MAX_BUCKET=100000) exactly — otherwise
# a pathological corpus with a >100k-doc fingerprint bucket would make
# Spark silently drop pairs the oracle keeps (ADVICE r8).  w is distinct
# (doc_id, h), so count(*) per h == count(DISTINCT doc_id).  Same pattern
# as the ahash oracle's band_cap HAVING clause.
_SPAN_CAPPED_SQL = (
    _SPAN_ANCHORS_SQL
    + """,
    wcap AS (SELECT doc_id, h FROM w WHERE h IN (
      SELECT h FROM w GROUP BY h HAVING count(*) <= 100000))"""
)


@_q(
    "text_substring_dedup",
    f"""
    WITH {_SPAN_ANCHORS_SQL},
    hc AS (SELECT h, count(DISTINCT doc_id) AS nd FROM w GROUP BY 1)
    SELECT doc_id, count(*)::BIGINT AS n_anchors,
           sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_anchors,
           (sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1000000
            // count(*))::BIGINT AS dup_ppm
    FROM w JOIN hc USING (h) GROUP BY doc_id ORDER BY doc_id
    """,
)
def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span census (ExactSubstr-style): every 24-char
    window hashed, content-defined anchor selection (winnowing/CDC — the
    alignment-robust form), anchors shared by ≥2 docs are boilerplate.
    Banded/bucketed like MinHash — no all-pairs stage."""
    from .operators.dedup import duplicated_span_census

    _prep(spark)
    return duplicated_span_census(load(spark, sf_dir, "documents"), k=24, anchor_mod=8)


@_q(
    "dedup_span_pairs",
    f"""
    WITH {_SPAN_CAPPED_SQL}
    SELECT doc_a, doc_b, n_shared FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
      FROM wcap a JOIN wcap b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
    WHERE n_shared >= 2 ORDER BY doc_a, doc_b
    """,
)
def dedup_span_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-level ExactSubstr: doc pairs sharing ≥2 distinct span
    fingerprints, formed per anchor bucket (banded self-join with the
    LSH hot-bucket cap) — the edge list span-dedup clustering consumes."""
    from .operators.dedup import duplicated_span_pairs

    _prep(spark)
    return duplicated_span_pairs(load(spark, sf_dir, "documents"), k=24, anchor_mod=8)


@_q(
    "dedup_span_clusters",
    f"""
    WITH RECURSIVE {_SPAN_CAPPED_SQL},
    pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM wcap a JOIN wcap b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2)
      WHERE n_shared >= 2),
    edges AS (SELECT doc_a AS node, doc_b AS neigh FROM pairs
              UNION ALL
              SELECT doc_b AS node, doc_a AS neigh FROM pairs),
    uni AS (SELECT doc_id FROM documents WHERE length(text) >= 24),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM uni
      UNION
        SELECT e.node, r.lab FROM reach r JOIN edges e ON e.neigh = r.node)
    SELECT node::BIGINT AS doc_id, min(lab)::BIGINT AS cluster_id
    FROM reach GROUP BY node ORDER BY doc_id
    """,
)
def dedup_span_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup clustering: shared-span pair graph → distributed
    min-label connected components → (doc_id, cluster_id) over every
    span-eligible doc.  Oracle: recursive CTE min-reachable-id."""
    from .operators.dedup import span_dedup_clusters

    _prep(spark)
    out = span_dedup_clusters(load(spark, sf_dir, "documents"), k=24, anchor_mod=8)
    return out.select(F.col("doc_id").cast("bigint"), F.col("cluster_id").cast("bigint")).orderBy(
        "doc_id"
    )


@_q(
    "sim_topk_mips",
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT query_id, e.vec_id,
             round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * e.v[i])), 4) AS dot
      FROM e CROSS JOIN q WHERE e.vec_id != q.query_id)
    SELECT query_id, vec_id, dot, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, vec_id ASC) AS rank
      FROM scored)
    WHERE rank <= 5
    """,
)
def sim_topk_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximum-inner-product top-k (unnormalized dot — the
    recommender/two-tower retrieval objective cosine deliberately
    erases); broadcast queries, one WindowGroupLimit-pruned shuffle."""
    from .operators.similarity import mips_topk, queries_from_ids

    _prep(spark)
    emb = load(spark, sf_dir, "embeddings")
    out = mips_topk(emb, queries_from_ids(emb, [0, 1, 2, 3, 4]), k=5)
    return out.withColumn("rank", F.col("rank").cast("bigint"))


@_q(
    "events_rfm_segments",
    """
    WITH pu AS (
      SELECT user_id, max(floor(epoch(ts))::BIGINT) AS last_sec, count(*)::BIGINT AS freq,
             sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    gm AS (SELECT max(floor(epoch(ts))::BIGINT) AS max_sec FROM events),
    scored AS (SELECT user_id, max_sec - last_sec AS recency_sec, freq, cents
               FROM pu CROSS JOIN gm),
    tiles AS (
      SELECT user_id, cents,
             ntile(5) OVER (ORDER BY recency_sec ASC, user_id ASC) AS r_tile,
             ntile(5) OVER (ORDER BY freq DESC, user_id ASC) AS f_tile,
             ntile(5) OVER (ORDER BY cents DESC, user_id ASC) AS m_tile
      FROM scored)
    SELECT r_tile::BIGINT AS r_tile, f_tile::BIGINT AS f_tile, m_tile::BIGINT AS m_tile,
           count(*)::BIGINT AS n_users, sum(cents)::BIGINT AS revenue_cents
    FROM tiles GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation over purchasers — ntiles over TOTAL
    orders (metric, user_id), census of the ≤125-cell segment grid."""
    from .operators.events import rfm_segments

    _prep(spark)
    return rfm_segments(load(spark, sf_dir, "events"), n_tiles=5)


@_q(
    "events_cusum_shift",
    """
    WITH daily AS (
      SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 86400) AS day_sec,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    tot AS (SELECT sum(cents)::HUGEINT AS total, count(*)::HUGEINT AS n FROM daily),
    enr AS (
      SELECT day_sec, cents,
             row_number() OVER (ORDER BY day_sec) AS t,
             sum(cents::HUGEINT) OVER (ORDER BY day_sec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      FROM daily),
    c AS (SELECT day_sec, cents, pre * n - t * total AS c, total
          FROM enr CROSS JOIN tot),
    s AS (SELECT day_sec, cents, total,
                 c - least(min(c) OVER (ORDER BY day_sec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS s
          FROM c)
    SELECT day_sec, cents::BIGINT AS revenue_cents, s::BIGINT AS cusum_ncents,
           s > total * 4 AS alarm
    FROM s ORDER BY day_sec
    """,
)
def events_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift monitor over daily revenue via the prefix identity
    S_t = C_t − min prefix C (two window scans, no recursion), exact
    cross-multiplied n·cent integers through DECIMAL/HUGEINT."""
    from .operators.events import cusum_shift

    _prep(spark)
    return cusum_shift(load(spark, sf_dir, "events"), h_mult=4)


@_q(
    "multimodal_audio_blocks",
    """
    WITH wav AS (
      SELECT doc_id AS media_id, doc_id % 1000 + 1 AS n
      FROM documents WHERE doc_id % 2 = 1),
    blocks AS (
      SELECT media_id, n, b FROM wav, unnest(range(0, (n + 255) // 256)) AS t(b))
    SELECT media_id, b::BIGINT AS block,
           (least(n, (b + 1) * 256) - b * 256)::BIGINT AS n_samples,
           list_sum(list_transform(range(b * 256, least(n, (b + 1) * 256)),
                    i -> ((media_id + i) * 257 % 4096 - 2048)
                         * ((media_id + i) * 257 % 4096 - 2048)))::BIGINT AS sum_sq,
           list_max(list_transform(range(b * 256, least(n, (b + 1) * 256)),
                    i -> abs((media_id + i) * 257 % 4096 - 2048)))::BIGINT AS peak,
           'real' AS decode_ok
    FROM blocks ORDER BY media_id, block
    """,
)
def multimodal_audio_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed block energy (exact Σs², peak) over REAL WAV bytes —
    the VAD/loudness profile; numpy over Arrow batches, shuffle-free,
    oracle replays the synthesis formula per block."""
    from .operators.multimodal import audio_block_features, synthesize_media

    _prep(spark)
    media = synthesize_media(load(spark, sf_dir, "documents"))
    return audio_block_features(media, block=256).orderBy("media_id", "block")


@_q(
    "text_zipf_slope",
    r"""
    WITH toks AS (
      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
    ranked AS (
      SELECT CAST(round(ln(rk) * 1e9) AS BIGINT) AS x,
             CAST(round(ln(c) * 1e9) AS BIGINT) AS y
      FROM (SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rk FROM vocab)
      WHERE rk <= 100),
    s AS (SELECT count(*)::HUGEINT AS n, sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
                 sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_terms,
           (-(((sx * sy - n * sxy) * 1000000) // (n * sxx - sx * sx)))::BIGINT AS slope_ppm,
           ((sy * 1000000 + ((sx * sy - n * sxy) * 1000000 // (n * sxx - sx * sx)) * sx)
            // (n * 1000000))::BIGINT AS intercept_nano
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law OLS fit (ln freq on ln rank, top-100 vocab) in exact
    nano-int/DECIMAL arithmetic — one-number corpus-health gate."""
    from .operators.text import zipf_slope

    _prep(spark)
    return zipf_slope(load(spark, sf_dir, "documents"), top_n=100)


@_q(
    "streaming_hll_users",
    f"""
    WITH keyed AS (
      SELECT (floor(epoch(ts))::BIGINT - floor(epoch(ts))::BIGINT % 86400) AS window_sec,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS key
      FROM events),
    regs AS (
      SELECT window_sec, key >> {60 - _HLL_B} AS bucket,
             max(CASE WHEN key % {_HLL_SUFFIX} = 0 THEN {_HLL_RMAX}
                      ELSE {_HLL_RMAX} - length(bin(key % {_HLL_SUFFIX})) END)::BIGINT
               AS register
      FROM keyed GROUP BY 1, 2),
    agg AS (
      SELECT window_sec, count(*)::BIGINT AS n_buckets,
             sum((1::BIGINT << ({_HLL_RMAX} - register::INT)))::BIGINT AS s_present
      FROM regs GROUP BY 1),
    sc AS (
      SELECT window_sec, n_buckets,
             (s_present + ({_HLL_M} - n_buckets) * (1::BIGINT << {_HLL_RMAX}))::BIGINT
               AS s_scaled
      FROM agg)
    SELECT window_sec, n_buckets, s_scaled, {_HLL_EST_SQL} AS hll_est
    FROM sc ORDER BY window_sec
    """,
)
def streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user estimator with FIXED-SIZE state: per-window
    HLL registers live as applyInPandasWithState arbitrary state (2^8
    longs per open window regardless of user volume — the bounded-memory
    counterpart to the exact streaming distinct); the oracle rebuilds the
    identical registers from the batch table."""
    from .streaming import hll_distinct_users_stream_drain, stream_events

    _prep(spark)
    return hll_distinct_users_stream_drain(
        stream_events(spark, sf_dir), window_sec_size=86400, b=_HLL_B
    )


@_q(
    "streaming_backfill_dedup",
    """
    SELECT event_type, count(*)::BIGINT AS n_events,
           count(DISTINCT user_id)::BIGINT AS n_users,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def streaming_backfill_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backfill-safe streaming dedup (round 11): the whole events history,
    delivered at-least-once (every row twice), replayed through
    streaming.backfill_dedup_sliced — event-time-ordered 7-day slices over
    ONE checkpoint, so the watermark advances between drains and dedup
    state stays at keys-per-(slice + horizon) instead of the whole corpus
    (the r10-measured 28 GB degenerate case).  The per-type aggregate of
    the deduped output must equal the batch aggregate of the single-copy
    oracle: a dedup miss double-counts, a slice lost in the replay
    under-counts, and both fail the hash."""
    from .streaming import backfill_dedup_sliced

    _prep(spark)
    ev = load(spark, sf_dir, "events")
    wd = _scratch("backfill_dedup", sf_dir)
    res = backfill_dedup_sliced(
        ev.unionByName(ev), wd, slice_interval="7 days", watermark="2 hours"
    )
    out = spark.read.parquet(res["out_path"])
    return (
        out.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            exact_sum(units("value"), 100.0, "total_value"),
        )
        .orderBy("event_type")
    )


@_q(
    "pipeline_ngram_novelty",
    f"""
    WITH dg AS (
      SELECT doc_id, unnest(list_distinct(list_transform({_GRAMS5_SQL}, g -> md5(g)))) AS g
      FROM documents),
    f AS (SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY 1)
    SELECT doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
           (sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1000000
            // count(*))::BIGINT AS novel_ppm
    FROM dg JOIN f USING (g) GROUP BY doc_id ORDER BY doc_id
    """,
)
def pipeline_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 5-gram novelty vs the corpus ingested before it (min-doc_id
    first-occurrence) — the curriculum/memorization screen next to
    decontamination.  One explode + MIN shuffle + join back, all-integer."""
    from .operators.pipeline import ngram_novelty

    _prep(spark)
    return ngram_novelty(load(spark, sf_dir, "documents"), n=5)


def _hits_oracle(n_iter: int = 2) -> str:
    ctes = [
        f"edges AS MATERIALIZED ({_PR_EDGES_SQL})",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "h0 AS MATERIALIZED (SELECT node, 1000000::BIGINT AS hub FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"a{i}r AS MATERIALIZED (SELECT dst, sum(hub) AS s "
            f"FROM edges JOIN h{i-1} ON src = node GROUP BY 1)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT dst AS node, (s::HUGEINT * 1000000 "
            f"// (SELECT sum(s::HUGEINT) FROM a{i}r))::BIGINT AS auth FROM a{i}r)"
        )
        ctes.append(
            f"h{i}r AS MATERIALIZED (SELECT src, sum(auth) AS s "
            f"FROM edges JOIN a{i} ON dst = node GROUP BY 1)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT src AS node, (s::HUGEINT * 1000000 "
            f"// (SELECT sum(s::HUGEINT) FROM h{i}r))::BIGINT AS hub FROM h{i}r)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT node, coalesce(h.hub, 0)::BIGINT AS hub, coalesce(a.auth, 0)::BIGINT AS auth
    FROM nodes LEFT JOIN h{n_iter} h USING (node) LEFT JOIN a{n_iter} a USING (node)
    """
    )


@_q("graph_hits", _hits_oracle())
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (2 unrolled rounds, L1-normalized fixed point
    in integer millionths) over the supplier→customer graph — the link-
    analysis twin to graph_pagerank, bit-exact vs the unrolled CTE chain."""
    from .operators.graph import hits_scores

    _prep(spark)
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select((F.col("l_suppkey") + 1_000_000).alias("src"), F.col("o_custkey").alias("dst"))
        .distinct()
    )
    return hits_scores(edges, n_iter=2)


@_q(
    "streaming_ewma_hourly",
    """
    WITH c AS (
      SELECT (floor(epoch(ts))::BIGINT // 3600) AS w, count(*)::BIGINT AS n
      FROM events GROUP BY 1),
    contrib AS (
      SELECT w + d AS t, n * (1::BIGINT << (7 - d)) AS num, (1::BIGINT << (7 - d)) AS den
      FROM c, unnest(range(0, 8)) AS u(d)),
    a AS (SELECT t, sum(num)::BIGINT AS num, sum(den)::BIGINT AS den FROM contrib GROUP BY 1)
    SELECT (c.w * 3600)::BIGINT AS window_sec, c.n AS n_events,
           (a.num * 100 // a.den)::BIGINT AS ewma_x100
    FROM c JOIN a ON c.w = a.t ORDER BY window_sec
    """,
)
def streaming_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming volume EWMA: hourly counts aggregate in UPDATE mode
    (watermark-bounded state), each drain scatters power-of-two weighted
    contributions forward over the last 8 windows and gathers with one
    partial-agg sum — exact-integer EWMA, renormalized over gaps."""
    from .streaming import ewma_volume_drain, stream_events

    _prep(spark)
    return ewma_volume_drain(stream_events(spark, sf_dir), window="1 hour", span=8)


@_q(
    "events_attribution",
    """
    WITH attr AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS channel
      FROM events)
    SELECT coalesce(channel, 'direct') AS channel, count(*)::BIGINT AS n_purchases,
           sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS revenue_cents
    FROM attr WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: one IGNORE-NULLS window carry per
    user (no self-join), purchases credit their latest preceding
    non-purchase touch; integer-cent revenue by channel."""
    from .operators.events import last_touch_attribution

    _prep(spark)
    return last_touch_attribution(load(spark, sf_dir, "events"))


@_q(
    "multimodal_ahash_pairs",
    """
    WITH imgs AS (
      SELECT doc_id AS media_id, doc_id % 64 + 1 AS w, (doc_id * 7) % 64 + 1 AS h,
             ((3 * (doc_id % 64 + 1) + 3) // 4) * 4 AS rowb
      FROM documents WHERE doc_id % 2 = 0),
    px AS (
      SELECT media_id, w, h, rowb, p % w AS x, p // w AS y
      FROM imgs, unnest(range(0, w * h)) AS t(p)),
    g AS (
      SELECT media_id,
             (y * 8) // h * 8 + (x * 8) // w AS k,
             (((media_id + ((rowb * (h - 1 - y) + 3 * x) % 12)) * 31) % 256
              + ((media_id + ((rowb * (h - 1 - y) + 3 * x + 1) % 12)) * 31) % 256
              + ((media_id + ((rowb * (h - 1 - y) + 3 * x + 2) % 12)) * 31) % 256) // 3
               AS gray
      FROM px),
    cells AS (SELECT media_id, k, sum(gray)::BIGINT AS cs, count(*)::BIGINT AS cc
              FROM g GROUP BY 1, 2),
    tot AS (SELECT media_id, sum(cs) AS ts, sum(cc) AS n FROM cells GROUP BY 1),
    words AS (
      SELECT cells.media_id,
             sum(CASE WHEN cs * n > ts * cc AND k >= 32
                      THEN 1::BIGINT << (k - 32) ELSE 0 END)::BIGINT AS hi,
             sum(CASE WHEN cs * n > ts * cc AND k < 32
                      THEN 1::BIGINT << k ELSE 0 END)::BIGINT AS lo
      FROM cells JOIN tot USING (media_id) GROUP BY 1),
    bands AS (
      SELECT media_id, b,
             CASE b WHEN 0 THEN lo & 65535 WHEN 1 THEN (lo >> 16) & 65535
                    WHEN 2 THEN hi & 65535 ELSE (hi >> 16) & 65535 END AS v
      FROM words, unnest(range(0, 4)) AS t(b)),
    ok AS (SELECT b, v FROM bands GROUP BY 1, 2 HAVING count(*) <= 200),
    cand AS (
      SELECT DISTINCT l.media_id AS a, r.media_id AS b
      FROM bands l JOIN ok USING (b, v)
      JOIN bands r ON l.b = r.b AND l.v = r.v AND l.media_id < r.media_id)
    SELECT a, b,
           (bit_count(xor(wa.hi, wb.hi)) + bit_count(xor(wa.lo, wb.lo)))::BIGINT AS hamming
    FROM cand JOIN words wa ON wa.media_id = a JOIN words wb ON wb.media_id = b
    WHERE bit_count(xor(wa.hi, wb.hi)) + bit_count(xor(wa.lo, wb.lo)) <= 4
    ORDER BY a, b
    """,
)
def multimodal_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual average-hash over real
    decoded BMP pixels (8×8 integer gray grid vs image mean), banded
    16-bit LSH candidate join with the hot-bucket cap, exact Hamming ≤ 4
    verify — the image twin of the MinHash text pipeline.  Oracle
    replays the pixel synthesis formula symbolically."""
    from .operators.multimodal import ahash_dup_pairs, synthesize_media

    _prep(spark)
    media = synthesize_media(load(spark, sf_dir, "documents"))
    return ahash_dup_pairs(media, max_hamming=4, band_cap=200)


@_q(
    "graph_harmonic_closeness",
    f"""
    WITH {_COPURCHASE_CP_SQL}, {_COPURCHASE_E_SQL},
    adj AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
    seeds AS (SELECT DISTINCT a AS seed FROM adj ORDER BY 1 LIMIT 4),
    walk AS (
      WITH RECURSIVE w(seed, node, hops) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION
        SELECT w.seed, adj.b, hops + 1 FROM w JOIN adj ON adj.a = w.node
        WHERE hops < 3)
      SELECT seed, node, min(hops) AS hops FROM w GROUP BY 1, 2)
    SELECT node::BIGINT AS node, count(*)::BIGINT AS n_seeds_reaching,
           sum(1000000 // hops)::BIGINT AS harmonic_micro
    FROM walk WHERE hops > 0 GROUP BY 1 ORDER BY 1
    """,
)
def graph_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark harmonic closeness over the co-purchase graph: one
    multi-source BFS from the 4 smallest nodes, score = Σ 1e6 DIV d —
    the scalable stand-in for O(V·E) exact closeness; frontier-only
    rounds, in-plan seed selection, exact-integer micro-units."""
    from .operators.graph import copurchase_edges, harmonic_closeness

    _prep(spark)
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") % 10 == 0)
    edges = copurchase_edges(orders, load(spark, sf_dir, "lineitem"), min_shared_parts=2)
    return harmonic_closeness(edges, n_seeds=4, max_hops=3)


@_q(
    "pipeline_importance_weights",
    r"""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
      FROM documents),
    vocab AS (
      SELECT tok, count(*)::BIGINT AS cg,
             sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::BIGINT AS ct
      FROM toks GROUP BY 1),
    tot AS (SELECT sum(cg)::BIGINT AS tg, sum(ct)::BIGINT AS tt,
                   count(*)::BIGINT AS v FROM vocab),
    lw AS (
      SELECT doc_id,
             CAST(round((ln((ct + 1) / (tt + v)) - ln((cg + 1) / (tg + v))) * 1e9)
                  AS BIGINT) AS lw
      FROM toks JOIN vocab USING (tok) CROSS JOIN tot),
    agg AS (
      SELECT doc_id, sum(lw) + count(*) * 32000000000 AS s_shift,
             count(*)::BIGINT AS cnt
      FROM lw GROUP BY 1)
    SELECT doc_id,
           ((2 * s_shift * 1000 + cnt * 1000000000) // (2 * cnt * 1000000000)) / 1000.0
             - 32.0 AS mean_lw
    FROM agg ORDER BY doc_id
    """,
)
def pipeline_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data-selection weights: per-doc mean ln-likelihood
    ratio between the target domain's smoothed unigram LM and the corpus
    LM — nano-int per-token rounding + positive-dividend shifted mean,
    so both engines hash-match to the last millinat."""
    from .operators.pipeline import importance_weights

    _prep(spark)
    return importance_weights(load(spark, sf_dir, "documents"), target_source="src1")


@_q(
    "sketch_kmv_intersection",
    f"""
    WITH keyed AS (
      SELECT DISTINCT event_type,
             (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT) AS key
      FROM events WHERE event_type IN ('purchase', 'view')),
    ranked AS (
      SELECT event_type, key,
             row_number() OVER (PARTITION BY event_type ORDER BY key) AS rk
      FROM keyed),
    mins AS (SELECT event_type, key FROM ranked WHERE rk <= {_KMV_K}),
    merged AS (SELECT DISTINCT key FROM mins),
    mtop AS (SELECT key, rk FROM
               (SELECT key, row_number() OVER (ORDER BY key) AS rk FROM merged)
             WHERE rk <= {_KMV_K}),
    kth AS (SELECT max(rk)::BIGINT AS n_keys, max(key)::BIGINT AS kth_key FROM mtop),
    b AS (SELECT key FROM mins GROUP BY key HAVING count(*) = 2),
    nc AS (SELECT count(*)::BIGINT AS n_common FROM b JOIN mtop USING (key)),
    ex AS (SELECT count(*)::BIGINT AS exact_n FROM (
             SELECT user_id FROM events WHERE event_type IN ('purchase', 'view')
             GROUP BY user_id HAVING count(DISTINCT event_type) = 2))
    SELECT 'purchase&view'::VARCHAR AS pair, n_common,
           ({_KMV_KCONST!r} / kth_key::DOUBLE) AS union_est,
           CASE WHEN n_keys < {_KMV_K} THEN n_common::DOUBLE
                ELSE (n_common::DOUBLE * ({_KMV_KCONST!r} / kth_key::DOUBLE))
                     / {float(_KMV_K)!r} END AS inter_est,
           (n_common * 10000 // {_KMV_K})::BIGINT AS jaccard_bp,
           exact_n,
           floor(abs(CASE WHEN n_keys < {_KMV_K} THEN n_common::DOUBLE
                          ELSE (n_common::DOUBLE * ({_KMV_KCONST!r} / kth_key::DOUBLE))
                               / {float(_KMV_K)!r} END - exact_n)
                 / exact_n * 10000)::BIGINT AS err_bp
    FROM kth, nc, ex
    """,
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch INTERSECTION (closes the sketch algebra): Jaccard ρ̂ =
    common-keys-in-union-sketch / k, |A∩B| ≈ ρ̂·|A∪B|̂ — overlap of the
    purchase/view user sets from two 64-key sketches, exact count
    alongside for the error column."""
    from .operators.sketch import kmv_intersection_estimate

    _prep(spark)
    return kmv_intersection_estimate(
        load(spark, sf_dir, "events"), "event_type", "user_id", ["view", "purchase"], k=_KMV_K
    )


@_q(
    "stats_theil_sen",
    """
    WITH daily AS (
      SELECT floor(epoch(ts))::BIGINT // 86400 AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    t AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS t FROM daily),
    pairs AS (
      SELECT a.t AS t1, b.t AS t2,
             ((b.cents - a.cents) * 1000000 // (b.day - a.day))::BIGINT AS slope_micro
      FROM t a JOIN t b ON a.t < b.t),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY slope_micro, t1, t2) AS rk FROM pairs),
    c AS (SELECT count(*)::BIGINT AS n_days,
                 (count(*) * (count(*) - 1) // 2)::BIGINT AS n_pairs FROM daily)
    SELECT n_days, n_pairs, slope_micro AS slope_microcents_per_day
    FROM ranked CROSS JOIN c WHERE rk = (n_pairs + 1) // 2
    """,
)
def stats_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust daily-revenue trend: lower median of all pairwise
    Δcents·1e6 DIV Δdays slopes — outlier-proof where OLS is not; pair
    work is calendar-bounded (|days|²), corpus work is one daily agg."""
    from .operators.stats import theil_sen_trend

    _prep(spark)
    return theil_sen_trend(load(spark, sf_dir, "events"))


@_q(
    "relational_cube_revenue",
    """
    WITH enr AS (
      SELECT r_name, year(o_orderdate)::BIGINT AS o_year,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey)
    SELECT r_name, o_year, GROUPING(r_name, o_year)::BIGINT AS gid,
           sum(cents)::BIGINT AS revenue_cents, count(*)::BIGINT AS n_orders
    FROM enr GROUP BY CUBE (r_name, o_year)
    ORDER BY gid, r_name, o_year
    """,
)
def relational_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level CUBE aggregation (region × order-year revenue at every
    grouping level, grouping_id-tagged) — Spark's Expand does the level
    fan-out map-side with partial aggs, so ONE shuffle of ≤4·|cells|."""
    from .operators.relational import revenue_cube

    _prep(spark)
    return revenue_cube(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


@_q(
    "relational_pivot_priority",
    """
    WITH o AS (
      SELECT year(o_orderdate)::BIGINT AS o_year, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
    SELECT o_year,
           sum(CASE WHEN o_orderpriority = '1-URGENT' THEN cents END)::BIGINT AS urgent_cents,
           sum(CASE WHEN o_orderpriority = '2-HIGH' THEN cents END)::BIGINT AS high_cents,
           sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN cents END)::BIGINT AS medium_cents,
           sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN cents END)::BIGINT
             AS notspec_cents,
           sum(CASE WHEN o_orderpriority = '5-LOW' THEN cents END)::BIGINT AS low_cents
    FROM o GROUP BY 1 ORDER BY 1
    """,
)
def relational_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with explicit values: per-year revenue cents spread across
    the five order priorities as columns — compiles to ONE conditional
    aggregate (no discovery job), shuffle carries ≤|years| rows."""
    from .operators.relational import priority_pivot

    _prep(spark)
    return priority_pivot(load(spark, sf_dir, "orders"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: encrypted-document pipeline at sf0.001 — round-trip an
    age-encrypted documents table and join quality stats (SURVEY.md §7.3)."""
    from .operators.text import doc_stats

    _prep(spark)
    sf_dir = "/root/testdata/sf0.001"
    docs = load(spark, sf_dir, "documents")
    ct = F.call_function("age_encrypt", F.col("text").cast("binary"), F.lit(KP1.public_key))
    crypto = (
        docs.withColumn("ct", ct)
        .select(
            "doc_id",
            (
                F.call_function("age_decrypt", F.col("ct"), F.lit(KP1.private_key))
                == F.col("text").cast("binary")
            ).alias("rt_ok"),
            F.octet_length("ct").cast("bigint").alias("ct_len"),
        )
    )
    stats = doc_stats(docs).select("doc_id", "lang", "n_words", "quality_score")
    return crypto.join(stats, "doc_id").orderBy("doc_id")


# ===========================================================================
# Driver priority order
# ===========================================================================
# The round-1 driver recorded CORRECTNESS rows for only the FIRST 50 entries
# of queries() (CORRECTNESS_r01.json stops at entry 50).  We cannot change
# the driver, so the dict is re-ordered here: the first 50 slots carry the
# full crypto core plus at least one query from EVERY operator family
# (VERDICT.md r1, next-round item 1b; rationale documented in PARITY.md).
# Everything after slot 50 is still verified by scripts/check_oracle.py.
#
# Round-5 rotation (VERDICT.md r4, next-round item 1): 63 queries had never
# appeared in a CORRECTNESS_r* file because this list was static since r2.
# The 8-query crypto core stays; every other slot now prefers a
# never-before-attested query, choosing family representatives from the
# never-attested set wherever the family has one (upsert_cdc_merge covers
# upsert, sink_schema_evolution covers sinks, ...).  Families whose every
# member is already driver-attested (crypto, dq, grouped-map, extension
# points, multimodal) keep one attested representative so each family still
# has a CORRECTNESS_r05 row.  Veterans rotated out (tpch_q1/q3/q6/q13,
# sink_csv_roundtrip, order_gaps, events_tumbling, ...) remain gated by the
# local 130/130 oracle sweep and their CORRECTNESS_r01–r04 history.

_PRIORITY_50 = [
    "age_roundtrip",  # last attested r14
    "age_multi_roundtrip",  # last attested r14
    "age_keygen_check",  # last attested r14
    "age_seeded_keygen",  # last attested r14
    "age_error_dispatch",  # last attested r14
    "age_secret_roundtrip",  # last attested r14
    "age_secrets_listing",  # last attested r14
    "age_version",  # last attested r14
    "age_secret_files",  # last attested r14
    "graph_harmonic_closeness",  # last attested r14
    "stats_mad_outliers",  # last attested r11
    "stats_winsorized",  # last attested r8
    "stats_quantile_binning",  # last attested r8
    "stats_quantile_interp",  # last attested r8
    "stats_ks_test",  # last attested r12
    "stats_gini",  # last attested r14
    "stats_psi_drift",  # last attested r12
    "pipeline_weighted_sample",  # last attested r12
    "pipeline_vocab_topk",  # last attested r11
    "pipeline_bpe_pairs",  # last attested r14
    "pipeline_bigram_lift",  # last attested r8
    "pipeline_mixture_sample",  # last attested r11
    "text_bm25_topk",  # last attested r10
    "text_boilerplate_screen",  # last attested r14
    "sketch_cms_heavy_hitters",  # last attested r8
    "streaming_cms_topusers",  # last attested r11
    "graph_clustering_coeff",  # last attested r14
    "graph_modularity",  # last attested r14
    "graph_link_prediction",  # last attested r14
    "events_pareto_share",  # last attested r13
    "events_time_to_convert",  # last attested r14
    "pipeline_pack_efficiency",  # last attested r7
    "rollup_order_concurrency",  # last attested r7
    "stats_corr_exact",  # last attested r7
    "stats_price_histogram",  # last attested r7
    "text_repetition",  # last attested r7
    "text_sentence_stats",  # last attested r7
    "multimodal_flip",  # last attested r8
    "relational_share_of_parent",  # last attested r8
    "sim_pq_codebook",  # last attested r8
    "dedup_ngram_jaccard",  # last attested r9
    "sink_orc_roundtrip",  # last attested r9
    "sketch_hll_distinct",  # last attested r10
    "skew_bloom_prefilter",  # last attested r12
    "upsert_incremental_agg",  # last attested r12
    "window_balance_analytics",  # last attested r12
    "dq_report",  # last attested r13
    "setops_full_outer_reconcile",  # last attested r13
    "udaf_geomean",  # last attested r13
    "grouped_map_zscore",  # last attested r14
]


def _reorder_queries() -> None:
    global QUERIES, ORACLE_SQL
    missing = [n for n in _PRIORITY_50 if n not in QUERIES]
    assert not missing, f"_PRIORITY_50 names unknown queries: {missing}"
    assert len(_PRIORITY_50) == len(set(_PRIORITY_50)) == 50
    ordered = {n: QUERIES[n] for n in _PRIORITY_50}
    ordered.update({n: f for n, f in QUERIES.items() if n not in ordered})
    QUERIES = ordered
    ORACLE_SQL = {n: ORACLE_SQL[n] for n in QUERIES if n in ORACLE_SQL}


_reorder_queries()

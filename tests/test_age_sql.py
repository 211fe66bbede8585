"""Ported reference function tests (reference: test/sql/age.test), executed
through the registered Spark SQL surface — the parity bar for M5."""

from __future__ import annotations

import pytest

from tests.conftest import PRIV1, PUB1


def _err(excinfo) -> str:
    return str(excinfo.value)


@pytest.fixture(autouse=True)
def _registered(manager):
    """Each test gets a freshly-registered empty SecretManager."""
    yield


# reference: test/sql/age.test:8-17
def test_keygen_formats(spark):
    row = spark.sql(
        "SELECT (age_keygen()).public_key LIKE 'age1%' AS valid_public_key, "
        "(age_keygen()).private_key LIKE 'AGE-SECRET-KEY-1%' AS valid_private_key"
    ).first()
    assert row.valid_public_key and row.valid_private_key


def test_keygen_per_row_distinct(spark):
    """SURVEY.md §2a decision: per-row generation (documented reference
    behavior), requires .asNondeterministic() to survive Catalyst."""
    rows = spark.sql(
        "SELECT (age_keygen()).public_key AS pk FROM range(5)"
    ).collect()
    assert len({r.pk for r in rows}) == 5


# reference: test/sql/age.test:19-22
def test_encrypt_with_generated_key(spark):
    row = spark.sql(
        "WITH keys AS (SELECT (age_keygen()).public_key AS pubkey) "
        "SELECT age_encrypt(CAST('hello world' AS BINARY), pubkey) IS NOT NULL AS encrypted FROM keys"
    ).first()
    assert row.encrypted


# reference: test/sql/age.test:24-40
def test_encrypt_error_messages(spark):
    from pyspark.errors import PythonException

    with pytest.raises(PythonException) as e:
        spark.sql("SELECT age_encrypt(CAST('hello world' AS BINARY), 'invalid_key')").collect()
    assert "Invalid age recipient key: invalid_key (not a valid age key or secret name)" in _err(e)

    with pytest.raises(PythonException) as e:
        spark.sql("SELECT age_encrypt(CAST('hello world' AS BINARY), 'age1invalid')").collect()
    assert "Invalid age recipient key: age1invalid" in _err(e)

    with pytest.raises(PythonException) as e:
        spark.sql("SELECT age_encrypt(CAST('hello world' AS BINARY), '')").collect()
    assert "Invalid age recipient key:  (not a valid age key or secret name)" in _err(e)


# reference: test/sql/age.test:42-47
def test_encrypt_with_secret_name(spark, manager):
    manager.create_secret("test_secret", public_key=PUB1, private_key=PRIV1)
    row = spark.sql(
        "SELECT age_encrypt(CAST('hello world' AS BINARY), 'test_secret') IS NOT NULL AS encrypted"
    ).first()
    assert row.encrypted


# reference: test/sql/age.test:49-57
def test_roundtrip_with_generated_keys(spark):
    spark.sql("SELECT age_keygen() AS kp").createOrReplaceTempView("test_keypair")
    row = spark.sql(
        "WITH keys AS (SELECT kp.public_key AS pubkey, kp.private_key AS privkey FROM test_keypair) "
        "SELECT age_decrypt(age_encrypt(CAST('test message' AS BINARY), pubkey), privkey) "
        "= CAST('test message' AS BINARY) AS decrypted_correctly FROM keys"
    ).first()
    assert row.decrypted_correctly


# reference: test/sql/age.test:59-75
def test_roundtrip_with_secrets(spark, manager):
    manager.create_secret("test_secret", public_key=PUB1, private_key=PRIV1)
    row = spark.sql(
        f"SELECT age_decrypt(age_encrypt(CAST('secret test' AS BINARY), '{PUB1}'), 'test_secret') "
        "= CAST('secret test' AS BINARY) AS decrypted_with_secret"
    ).first()
    assert row.decrypted_with_secret
    row = spark.sql(
        "SELECT age_decrypt(age_encrypt(CAST('both secrets' AS BINARY), 'test_secret'), 'test_secret') "
        "= CAST('both secrets' AS BINARY) AS both_with_secrets"
    ).first()
    assert row.both_with_secrets


# reference: test/sql/age.test:77-96
def test_decrypt_error_messages(spark):
    from pyspark.errors import PythonException

    enc = f"age_encrypt(CAST('test' AS BINARY), '{PUB1}')"
    with pytest.raises(PythonException) as e:
        spark.sql(f"SELECT age_decrypt({enc}, 'invalid_key')").collect()
    assert "Invalid age identity key: invalid_key (not a valid age key or secret name)" in _err(e)

    wrong = "AGE-SECRET-KEY-1" + "A" * 58
    with pytest.raises(PythonException) as e:
        spark.sql(f"SELECT age_decrypt({enc}, '{wrong}')").collect()
    assert "Decryption failed" in _err(e)

    with pytest.raises(PythonException) as e:
        spark.sql(f"SELECT age_decrypt({enc}, '')").collect()
    assert "Invalid age identity key:  (not a valid age key or secret name)" in _err(e)


# reference dispatch rule: src/age_extension.cpp:228-256 (encrypt) and
# :292-320 (decrypt) — the prefix check runs BEFORE any secret lookup, so a
# secret literally NAMED with a key prefix is unreachable by name: raw-key
# interpretation wins unconditionally (VERDICT r14 item 6).
def test_dispatch_prefix_wins_over_adversarial_secret_names(spark, manager):
    from pyspark.errors import PythonException

    # a registered secret whose NAME starts with the recipient prefix
    manager.create_secret("age1sneaky", public_key=PUB1, private_key=PRIV1)
    with pytest.raises(PythonException) as e:
        spark.sql("SELECT age_encrypt(CAST('x' AS BINARY), 'age1sneaky')").collect()
    # raw-key parse error — and NOT the "(not a valid age key or secret
    # name)" form, which would prove the secret catalog was consulted
    assert "Invalid age recipient key: age1sneaky" in _err(e)
    assert "not a valid age key or secret name" not in _err(e)

    # and one whose NAME starts with the identity prefix: decrypt must try
    # to PARSE it as a raw secret key (Decryption failed), never resolve
    # the valid private_key stored under that name
    manager.create_secret("AGE-SECRET-KEY-1SNEAKY", public_key=PUB1, private_key=PRIV1)
    enc = f"age_encrypt(CAST('x' AS BINARY), '{PUB1}')"
    with pytest.raises(PythonException) as e:
        spark.sql(f"SELECT age_decrypt({enc}, 'AGE-SECRET-KEY-1SNEAKY')").collect()
    assert "Decryption failed" in _err(e)
    assert "Invalid age identity key" not in _err(e)


# reference: test/sql/age.test:98-111
def test_multi_recipient_sql(spark):
    spark.sql(
        "SELECT age_keygen() AS k1, age_keygen() AS k2"
    ).createOrReplaceTempView("multi_keys")
    row = spark.sql(
        "WITH k AS (SELECT k1.public_key AS pk1, k2.public_key AS pk2, "
        "                 k1.private_key AS sk1, k2.private_key AS sk2 FROM multi_keys), "
        "     encrypted AS (SELECT age_encrypt_multi(CAST('multi test' AS BINARY), array(pk1, pk2)) AS data FROM k) "
        "SELECT age_decrypt(data, sk1) = CAST('multi test' AS BINARY) AS decrypt_with_key1, "
        "       age_decrypt(data, sk2) = CAST('multi test' AS BINARY) AS decrypt_with_key2 "
        "FROM k CROSS JOIN encrypted"
    ).first()
    assert row.decrypt_with_key1 and row.decrypt_with_key2


# reference: test/sql/age.test:113-123
def test_multi_error_messages(spark):
    from pyspark.errors import PythonException

    with pytest.raises(PythonException) as e:
        spark.sql("SELECT age_encrypt_multi(CAST('test' AS BINARY), array())").collect()
    assert "Recipients list cannot be empty" in _err(e)

    with pytest.raises(PythonException) as e:
        spark.sql("SELECT age_encrypt_multi(CAST('test' AS BINARY), array('invalid_key'))").collect()
    assert "Invalid recipient: invalid_key" in _err(e)


# reference: test/sql/age.test:125-133
def test_multi_mixed_keys_and_secrets_sql(spark, manager):
    manager.create_secret("multi_test_secret", public_key=PUB1, private_key=PRIV1)
    row = spark.sql(
        "WITH k AS (SELECT (age_keygen()).public_key AS pk1) "
        "SELECT age_encrypt_multi(CAST('mixed' AS BINARY), array(pk1, 'multi_test_secret')) IS NOT NULL "
        "AS encrypted FROM k"
    ).first()
    assert row.encrypted


# reference: test/sql/age_secret.test:9-12
def test_version_not_null(spark):
    assert spark.sql("SELECT age_version() IS NOT NULL AS ok").first().ok


def test_secret_mutation_propagates(spark, manager):
    """Secrets created/dropped AFTER registration must be visible to UDFs —
    the re-registration listener at work (SURVEY.md §7.5-5)."""
    from pyspark.errors import PythonException

    with pytest.raises(PythonException):
        spark.sql("SELECT age_encrypt(CAST('x' AS BINARY), 'late_secret')").collect()
    manager.create_secret("late_secret", public_key=PUB1, private_key=PRIV1)
    assert spark.sql("SELECT age_encrypt(CAST('x' AS BINARY), 'late_secret') IS NOT NULL AS ok").first().ok
    manager.drop_secret("late_secret")
    with pytest.raises(PythonException):
        spark.sql("SELECT age_encrypt(CAST('x' AS BINARY), 'late_secret')").collect()


def test_column_api(spark, manager):
    """The DataFrame column API mirrors the SQL surface."""
    import duckdb_age_spark as age
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id"),
        age.age_keygen_from_seed(F.concat(F.lit(b"seed-"), F.col("id").cast("string").cast("binary"))).alias("kp"),
        F.col("id").cast("string").cast("binary").alias("payload"),
    )
    out = df.select(
        "id",
        age.age_decrypt(age.age_encrypt(F.col("payload"), F.col("kp.public_key")), F.col("kp.private_key")).alias("rt"),
        "payload",
    ).withColumn("ok", F.col("rt") == F.col("payload"))
    rows = out.collect()
    assert len(rows) == 3 and all(r.ok for r in rows)


def test_null_propagation(spark):
    row = spark.sql(
        f"SELECT age_encrypt(CAST(NULL AS BINARY), '{PUB1}') AS e1, "
        f"age_encrypt(CAST('x' AS BINARY), CAST(NULL AS STRING)) AS e2, "
        f"age_decrypt(CAST(NULL AS BINARY), '{PRIV1}') AS d1, "
        "age_keygen_from_seed(CAST(NULL AS BINARY)) AS k1, "
        f"age_encrypt_multi(CAST(NULL AS BINARY), array('{PUB1}')) AS m1"
    ).first()
    assert row.e1 is None and row.e2 is None and row.d1 is None and row.k1 is None and row.m1 is None


def test_keygen_from_seed_is_arrow_batched(spark):
    """VERDICT r7 item 4: the deterministic seeded keygen must ride the
    Arrow-batched UDF path (ArrowEvalPython), not row-pickled
    BatchEvalPython — while still top-level-NULL-propagating, which is why
    it is an Arrow-optimized row UDF rather than a pandas_udf (a struct
    pandas_udf cannot emit a NULL struct)."""
    df = spark.sql(
        "SELECT age_keygen_from_seed(CAST('s' AS BINARY)) AS kp FROM range(2)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_keygen_from_seed_sql_deterministic(spark):
    rows = spark.sql(
        "SELECT age_keygen_from_seed(CAST('fixture-seed' AS BINARY)) AS kp FROM range(3)"
    ).collect()
    assert len({r.kp.public_key for r in rows}) == 1
    assert rows[0].kp.public_key.startswith("age1")


def test_register_tunes_arrow_batch_size(spark):
    """register() sets the measured-fast Arrow batch size (2.4-4.1x encrypt
    throughput at >=10k rows/partition — ROADMAP item 1)."""
    from duckdb_age_spark.register import register
    from duckdb_age_spark.secrets import SecretManager

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(key, "10000")
    register(spark, SecretManager())
    assert spark.conf.get(key) == "1000"

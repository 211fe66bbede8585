from __future__ import annotations

import importlib
import os
import sys
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    """The session users get (``conf.apply_recommended_conf``: AQE, the
    join baseline, UTC and the fork-free ``file://``) on four cores."""
    from pyspark.sql import SparkSession

    from duckdb_age_spark.conf import apply_recommended_conf

    spark = (
        apply_recommended_conf(SparkSession.builder.master("local[4]"), shuffle_partitions=8)
        .appName("duckdb-age-spark-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    yield spark


def count_jobs(spark, name: str, fn):
    """``fn()`` run under the job group ``name`` (unique per call site):
    returns its result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


class StubSession:
    """A stand-in SparkSession for ``register()``: conf writes are dropped,
    each Python UDF registration is recorded as ``(name, udf)``, and it has
    no ``_jvm``, so the class probe finds no ``agespark`` classes."""

    def __init__(self):
        self.registered = []
        self.conf = SimpleNamespace(set=lambda key, value: None, get=lambda key, default=None: default)
        self.udf = SimpleNamespace(register=lambda name, udf: self.registered.append((name, udf)))


@pytest.fixture()
def snapshot_udfs(monkeypatch):
    """``register()`` builds one stand-in UDF per registration, the secret
    snapshot it closes over, so a ``StubSession`` records whose secrets each
    registration served.  Returns the register module."""
    register_mod = importlib.import_module("duckdb_age_spark.register")
    monkeypatch.setattr(register_mod, "build_udfs", lambda snapshot: {"age_encrypt": snapshot})
    return register_mod


@pytest.fixture()
def broadcast_threshold(spark):
    """A setter for ``spark.sql.autoBroadcastJoinThreshold`` whose value is
    restored when the test ends.  -1 turns off broadcast joins and every
    driver regime (operators/iterate.collect_small), so the distributed
    plans run."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        yield lambda value: spark.conf.set("spark.sql.autoBroadcastJoinThreshold", value)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@pytest.fixture()
def broadcast_off(broadcast_threshold):
    """``spark.sql.autoBroadcastJoinThreshold=-1`` for one test."""
    broadcast_threshold("-1")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def context_checkpoint_dir(spark, tmp_path):
    """A setter that gives the SparkContext a checkpoint dir under
    ``tmp_path`` and returns that path; the context is reset to no dir when
    the test ends.  Spark keeps one dir per context, and with one set every
    lineage cut becomes a reliable checkpoint
    (operators/iterate.truncate_lineage)."""
    sc = spark.sparkContext
    path = tmp_path / "ckpt"

    def use_dir():
        sc.setCheckpointDir(str(path))
        return path

    try:
        yield use_dir
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


@pytest.fixture()
def manager(spark):
    """Fresh SecretManager registered into spark for each test."""
    from duckdb_age_spark.register import register
    from duckdb_age_spark.secrets import SecretManager

    m = SecretManager()
    register(spark, m)
    return m


# Reference fixture keypair-1 (reference: test/sql/age.test:44) — a real,
# valid pair: our crypto derives exactly this public key from the private key.
PUB1 = "age1j2tqev8spvn9s9ktkr750ntl03sy20f7dck0mdyetway3cj2naasngwz3u"
PRIV1 = "AGE-SECRET-KEY-1DMYUTPVUSD3M7HMU4K5KXNZ65JZVC9J04MSVV2J8Y4NE8GZCVU6ST7DRT2"
# Reference fixture keypair-2 (reference: test/sql/age_secret.test:18-19).
# NOTE: its private key has an invalid bech32 checksum — the reference only
# ever passes it through secret storage (prefix validation, never parsed), so
# tests may store it but must not decrypt with it.
PUB2 = "age1ql3z7hjy54pw3hyww5ayyfg7zqgvc7w3j2elw8zmrj2kg5sfn9aqmcac8p"
PRIV2 = "AGE-SECRET-KEY-1QTAYQ69LA4P3QQN0VQPSJMG2WHVSQPQ3SG2F55M0XWDE9VQN0SZQCGUGJ8"

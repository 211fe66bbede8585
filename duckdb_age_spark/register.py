"""``register(spark)`` — the PySpark analog of ``LOAD 'age'``.

Mirrors the reference's LoadInternal (reference: src/age_extension.cpp:439-476):
one call registers the secret machinery and the age functions into the Spark
SQL function registry, after which both the SQL surface
(``spark.sql("SELECT age_encrypt(...)")``) and the column API
(:mod:`duckdb_age_spark.functions`) work.

Two crypto routes, one binding.  The six Python UDFs are always registered.
When the driver JVM loads the jar's ``agespark`` classes (the session recipe,
``conf.apply_recommended_conf``, puts the jar on the driver classpath), the
same manager is also staged into ``agespark.AgeSecretRegistry`` and the three
``age_*_jvm`` UDFs are registered (:mod:`duckdb_age_spark.jvm`).  Which route
a column takes is decided by its payload size alone
(:mod:`duckdb_age_spark.sources.encrypted`).

Re-registration on secret mutation: UDF closures are serialized to executors
at registration time, so the secret map they see is a snapshot.  One listener
per session on the bound SecretManager re-registers both routes (cheap,
driver-side) after every create/drop.  Rebinding the session to another
manager moves that listener, so a manager the session no longer binds
re-registers nothing.
"""

from __future__ import annotations

import warnings
from typing import Callable, NamedTuple

from pyspark.sql import SparkSession

from .functions import build_udfs
from .secrets import SecretManager, default_manager

# The binding lives as an attribute of the SparkSession object itself
# (ADVICE r15): the previous id(spark)-keyed module dict was never pruned,
# so a garbage-collected session whose CPython address was reused by a NEW
# session aliased the stale entry and register(new_spark) returned without
# registering anything.  An attribute lives and dies with the session —
# aliasing is impossible by construction.
_BINDING_ATTR = "_duckdb_age_binding"

# spark.sql.execution.arrow.maxRecordsPerBatch.  Measured round 3
# (scripts/bench_crypto_shapes.py): at realistic partition sizes (>=10k
# rows/partition — the shape a 100 TB table feeds each task) the default
# 10000-row batch serializes 20 MB chunks through the JVM->Arrow->Python pipe
# with poor overlap; 1000-row batches pipeline the transfer against the
# Python crypto kernel for 2.4-4.1x encrypt throughput (2 KiB rows: 64->262
# MB/s aggregate; 64 KiB rows: 363->1030 MB/s on local[32]).  At small
# partitions everything fits one batch either way and the setting is a no-op.
ARROW_BATCH_ROWS = 1000


class _Binding(NamedTuple):
    manager: SecretManager
    jvm: bool  # the JVM route is bound too
    listener: Callable[[], None]


def registered_manager(spark: SparkSession | None) -> SecretManager | None:
    """The SecretManager ``register()`` bound to this session, or None."""
    binding = getattr(spark, _BINDING_ATTR, None)
    return None if binding is None else binding.manager


def jvm_route_bound(spark: SparkSession | None) -> bool:
    """True iff ``register()`` also bound this session's JVM route."""
    binding = getattr(spark, _BINDING_ATTR, None)
    return binding is not None and binding.jvm


# Matches any bech32 age identity literal.  Plan-text redaction is
# defense-in-depth for every path that puts an identity into a plan
# LITERAL: raw keys users pass explicitly (Python or JVM route), and the JVM
# col helpers' literal fallback when the active session has no JVM route.
IDENTITY_REDACTION_REGEX = "AGE-SECRET-KEY-1[0-9A-Z]+"


def install_identity_redaction(spark: SparkSession) -> None:
    """Install ``spark.sql.redaction.string.regex`` covering
    ``AGE-SECRET-KEY-1...`` literals: QueryExecution wraps every explain
    string (and the UI SQL tab's plan description) in ``withRedaction``, so
    an embedded identity literal renders as ``*********(redacted)`` instead
    of the raw key.  An existing user regex is preserved by alternation.
    Event-log plan nodes go through the same explainString path;
    executor-side values are of course still the real key (that is the
    point), so treat cluster logs accordingly."""
    conf_key = "spark.sql.redaction.string.regex"
    try:
        existing = spark.conf.get(conf_key, None)
        if not existing:
            spark.conf.set(conf_key, IDENTITY_REDACTION_REGEX)
        elif IDENTITY_REDACTION_REGEX not in existing:
            spark.conf.set(conf_key, f"{existing}|{IDENTITY_REDACTION_REGEX}")
    except Exception:
        # redaction is defense-in-depth for DISPLAY only; never fail
        # registration over a conf the deployment may have locked down
        pass


def _register_routes(spark: SparkSession, manager: SecretManager, jvm_route: bool) -> None:
    for name, udf in build_udfs(manager.snapshot()).items():
        spark.udf.register(name, udf)
    if jvm_route:
        from . import jvm

        jvm.stage_and_register(spark, manager)


def register(spark: SparkSession, manager: SecretManager | None = None) -> SecretManager:
    """Register all age functions + secret wiring into ``spark`` and bind it
    to ``manager`` (default: the process default).  Idempotent; calling it
    with another manager rebinds the session (module docstring)."""
    manager = manager or default_manager
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))

    # True idempotence (r15 optimization round): when this session is
    # already bound to this manager, both routes are current by
    # construction — registration installed them and the listener
    # re-registers on every secret create/drop — so repeat calls skip the
    # UDF builds and registry round-trips (~140 ms/call; the driver
    # contract calls register() once per query invocation).
    old = getattr(spark, _BINDING_ATTR, None)
    if old is not None and old.manager is manager:
        return manager

    from . import jvm

    jvm_route = jvm.classes_load(spark)
    _register_routes(spark, manager, jvm_route)
    install_identity_redaction(spark)

    def _resync() -> None:
        # never raise out of SecretManager._notify: a stopped session would
        # otherwise break create/drop for the listeners queued after this one
        try:
            _register_routes(spark, manager, jvm_route)
        except Exception as exc:
            warnings.warn(f"age re-registration skipped (session unusable?): {exc}", stacklevel=2)

    # a rebind moves the session's one listener: the old manager's mutations
    # must neither re-register its stale snapshot nor pin this session
    if old is not None:
        old.manager.remove_listener(old.listener)
    manager.add_listener(_resync)
    setattr(spark, _BINDING_ATTR, _Binding(manager, jvm_route, _resync))
    return manager

"""Encrypted-column parquet sink/source.

The reference's flagship pipeline pattern is "encrypt a column, store, read,
decrypt" (reference: FUNCTIONS.md usage examples over tables).  Here that
composes the §2a UDFs with Spark's native parquet IO:

    write_encrypted(df, path, ["ssn", "email"], recipient="age1..." or secret)
    df = read_encrypted(spark, path, ["ssn", "email"], identity="AGE-..." or secret)

Encrypted columns are stored as ``binary`` with a ``.age`` suffix marker in
the column metadata-free world of parquet: original name is kept, the column
is simply BinaryType ciphertext.  Non-listed columns pass through untouched,
so partition pruning / predicate pushdown on plaintext key columns still
works at scale — only the sensitive payload pays the crypto cost.

Payload-size routing (VERDICT r8 item 7): SCALING.md records a measured
crossover between the Arrow-batched Python path (wins at small rows — JDK
X25519 per-row cost dominates) and the executor-JVM path (2.1× at ≥64 KiB,
where JVM→Arrow→Python transfer is the Python path's structural ceiling;
``PAYLOAD_SWEEP.json``).  ``crypto_path="auto"`` (the default) applies that
rule PER COLUMN instead of leaving it to the caller: a bounded 1024-row
probe medians each column's octet_length, and a column routes to the JVM
functions iff they are registered in this session AND its median payload is
at or above the 64 KiB crossover.  Explicit ``"python"`` / ``"jvm"``
override the probe; secret names work on both paths (the JVM path resolves
them driver-side via jvm.encrypt_col / decrypt_col).  Both paths emit the
same age v1 wire format, so routing never affects readability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# measured crossover (SCALING.md "Payload-size routing"): Python path wins
# below, JVM path wins at/above.  Deployments re-sweep and tune.
JVM_CROSSOVER_BYTES = 64 * 1024

_PROBE_ROWS = 1024


def _jvm_registered(spark: SparkSession, fn: str) -> bool:
    try:
        return bool(spark.catalog.functionExists(fn))
    except Exception:
        return False


def _median_payload_bytes(df: DataFrame, columns: list[str]) -> dict[str, int]:
    """Bounded probe: the lower median octet_length per column over the
    first ``_PROBE_ROWS`` rows, NULLs dropped (0 when none is left), which
    is what ``percentile_approx(_, 0.5)`` returns on so few values.
    ``take`` keeps the probe to a prefix scan of one input split — O(probe),
    not O(table) — which is the whole point: the routing decision must cost
    ~nothing next to the write itself.  The median is taken on the driver
    because a ``limit(...).agg`` plan compiles new classes on every call:
    its generated code names the limit counter after a global plan id, so
    Spark's codegen cache never hits."""
    rows = df.select(*[F.octet_length(F.col(c).cast("binary")) for c in columns]).take(_PROBE_ROWS)
    medians = {}
    for i, c in enumerate(columns):
        sizes = sorted(r[i] for r in rows if r[i] is not None)
        medians[c] = sizes[(len(sizes) - 1) // 2] if sizes else 0
    return medians


def choose_crypto_path(
    requested: str, jvm_available: bool, median_bytes: int, crossover: int = JVM_CROSSOVER_BYTES
) -> str:
    """Pure routing rule (unit-tested without a session): explicit request
    wins; ``auto`` takes the JVM path iff it is registered AND the probed
    median payload is at/above the measured crossover."""
    if requested == "python":
        return "python"
    if requested == "jvm":
        if not jvm_available:
            raise RuntimeError(
                "crypto_path='jvm' but the JVM crypto functions are not registered "
                "in this session — launch the JVM with the jar on the classpath and "
                "call duckdb_age_spark.jvm.register_jvm_crypto(spark) first"
            )
        return "jvm"
    if requested != "auto":
        raise ValueError(f"crypto_path must be 'auto', 'python' or 'jvm', got {requested!r}")
    return "jvm" if (jvm_available and median_bytes >= crossover) else "python"


def _effective_manager(spark: SparkSession, manager):
    """The SecretManager the routed paths must resolve names against.

    The Python path's registered UDFs resolve names against whatever
    manager was passed to ``register(spark, manager)`` — so the JVM route
    has to use the SAME one, or a named-secret write that works below the
    size crossover silently changes meaning above it (ADVICE r9: with a
    custom manager it would raise AgeError, or worse encrypt to a
    different recipient if the name collides in default_manager).
    Explicit ``manager`` wins; otherwise the session's registered manager;
    otherwise ``None`` (downstream helpers fall back to default_manager,
    matching an unregistered session's only sensible interpretation)."""
    if manager is not None:
        return manager
    from ..register import registered_manager

    return registered_manager(spark)


def _python_crypto_expr(fn: str, data, key: str, manager):
    """Python-path expression for one column.  With no explicit manager the
    registered UDF resolves the name itself (keeps identities out of plan
    text); with an explicit manager, resolve driver-side so the caller's
    manager — not the session's — defines the name (same eager-vs-lazy
    error-timing note as jvm.py's dispatch helpers)."""
    if manager is None:
        return F.call_function(fn, data, F.lit(key))
    from ..functions import resolve_identity, resolve_recipient

    resolve = resolve_recipient if fn == "age_encrypt" else resolve_identity
    return F.call_function(fn, data, F.lit(resolve(key, manager.snapshot())))


def _route(
    df: DataFrame, columns: list[str], crypto_path: str, fn: str
) -> dict[str, str]:
    spark = df.sparkSession
    available = _jvm_registered(spark, fn)
    if crypto_path == "python" or (crypto_path == "auto" and not available):
        # skip the probe entirely when its answer cannot matter
        return {c: "python" for c in columns}
    medians = (
        _median_payload_bytes(df, columns)
        if crypto_path == "auto"
        else {c: 0 for c in columns}
    )
    return {c: choose_crypto_path(crypto_path, available, medians[c]) for c in columns}


def write_encrypted(
    df: DataFrame,
    path: str,
    columns: list[str],
    recipient: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    crypto_path: str = "auto",
    manager=None,
) -> dict[str, str]:
    """Write ``df`` to parquet with ``columns`` age-encrypted for
    ``recipient`` (raw ``age1...`` key or secret name).  ``crypto_path``
    routes per column (module docstring); returns the chosen path per
    column so callers/benches can assert the routing.  ``manager``
    overrides which SecretManager resolves a secret-name ``recipient``
    (default: the one registered for this session — see
    :func:`_effective_manager`)."""
    mgr = _effective_manager(df.sparkSession, manager)
    routes = _route(df, columns, crypto_path, "age_encrypt_jvm")
    out = df
    for c in columns:
        data = F.col(c).cast("binary")
        if routes[c] == "jvm":
            from ..jvm import encrypt_col

            out = out.withColumn(c, encrypt_col(data, recipient, manager=mgr))
        else:
            out = out.withColumn(c, _python_crypto_expr("age_encrypt", data, recipient, manager))
    writer = out.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return routes


def read_encrypted(
    spark: SparkSession,
    path: str,
    columns: list[str],
    identity: str,
    as_string: bool = True,
    crypto_path: str = "auto",
    manager=None,
) -> DataFrame:
    """Read an encrypted parquet written by :func:`write_encrypted`,
    decrypting ``columns`` with ``identity`` (raw key or secret name).
    ``crypto_path='auto'`` probes the CIPHERTEXT sizes (header overhead is
    a few hundred bytes — irrelevant at the 64 KiB crossover).  ``manager``
    as in :func:`write_encrypted`."""
    mgr = _effective_manager(spark, manager)
    df = spark.read.parquet(path)
    routes = _route(df, columns, crypto_path, "age_decrypt_jvm")
    for c in columns:
        if routes[c] == "jvm":
            from ..jvm import decrypt_col

            dec = decrypt_col(F.col(c), identity, manager=mgr)
        else:
            dec = _python_crypto_expr("age_decrypt", F.col(c), identity, manager)
        df = df.withColumn(c, dec.cast("string") if as_string else dec)
    return df

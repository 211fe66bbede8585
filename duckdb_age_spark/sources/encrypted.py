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
crossover between the Arrow-batched Python route (wins at small rows — JDK
X25519 per-row cost dominates) and the executor-JVM route (2.1× at ≥64 KiB,
where JVM→Arrow→Python transfer is the Python route's structural ceiling;
``PAYLOAD_SWEEP.json``).  One rule picks the route PER COLUMN, and the
caller has no say in it: a bounded 1024-row probe medians each column's
octet_length, and a column takes the JVM route iff ``register()`` bound the
session to it and its median payload is at or above the 64 KiB crossover.
Secret names resolve against the manager bound to the DataFrame's session
on both routes.  Both routes emit the same age v1 wire format, so routing never
affects readability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import resolve_identity, resolve_recipient
from ..jvm import _plan_key
from ..register import jvm_route_bound

# measured crossover (SCALING.md "Payload-size routing"): Python path wins
# below, JVM path wins at/above.  Deployments re-sweep and tune.
JVM_CROSSOVER_BYTES = 64 * 1024

_PROBE_ROWS = 1024


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


def choose_crypto_path(jvm_bound: bool, median_bytes: int) -> str:
    """The routing rule (unit-tested without a session): the JVM route iff
    the session is bound to it and the probed median payload is at or
    above the measured crossover."""
    return "jvm" if jvm_bound and median_bytes >= JVM_CROSSOVER_BYTES else "python"


def _route(df: DataFrame, columns: list[str]) -> dict[str, str]:
    bound = jvm_route_bound(df.sparkSession)
    # the probe runs only when its answer can matter
    medians = _median_payload_bytes(df, columns) if bound else dict.fromkeys(columns, 0)
    return {c: choose_crypto_path(bound, medians[c]) for c in columns}


def write_encrypted(
    df: DataFrame,
    path: str,
    columns: list[str],
    recipient: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> dict[str, str]:
    """Write ``df`` to parquet with ``columns`` age-encrypted for
    ``recipient`` (raw ``age1...`` key or secret name).  Routes per column
    (module docstring); returns the chosen route per column so callers and
    benches can assert it."""
    routes = _route(df, columns)
    out = df
    for c in columns:
        data = F.col(c).cast("binary")
        if routes[c] == "jvm":
            key = _plan_key(recipient, resolve_recipient, df.sparkSession)
            enc = F.call_udf("age_encrypt_jvm", data, F.lit(key))
        else:
            enc = F.call_function("age_encrypt", data, F.lit(recipient))
        out = out.withColumn(c, enc)
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
) -> DataFrame:
    """Read an encrypted parquet written by :func:`write_encrypted`,
    decrypting ``columns`` with ``identity`` (raw key or secret name).  The
    route probe reads the CIPHERTEXT sizes (header overhead is a few hundred
    bytes — irrelevant at the 64 KiB crossover)."""
    df = spark.read.parquet(path)
    routes = _route(df, columns)
    for c in columns:
        if routes[c] == "jvm":
            key = _plan_key(identity, resolve_identity, spark)
            dec = F.call_udf("age_decrypt_jvm", F.col(c), F.lit(key))
        else:
            dec = F.call_function("age_decrypt", F.col(c), F.lit(identity))
        df = df.withColumn(c, dec.cast("string") if as_string else dec)
    return df

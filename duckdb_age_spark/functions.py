"""The six age scalar functions as Spark UDFs + the kernels behind them.

Parity surface (reference: src/age_extension.cpp:439-476):

    age_keygen()                      -> struct<public_key,private_key>
    age_keygen_from_seed(blob)        -> struct<public_key,private_key>
    age_encrypt(blob, varchar)        -> blob
    age_decrypt(blob, varchar)        -> blob
    age_encrypt_multi(blob, array<varchar>) -> blob
    age_version()                     -> varchar

Execution model mapping (SURVEY.md §3.2): DuckDB's chunk-at-a-time
``BinaryExecutor`` lambda becomes an Arrow-batched ``pandas_udf`` for the
encrypt/decrypt hot paths — the Spark analog of vectorized dispatch — with
per-batch memoization of key parsing (beats the reference's per-row parse +
per-row secret-catalog transaction, reference: src/age_extension.cpp:230-236).

Per-task fixed cost: unlike DuckDB's in-process executor, each Spark task
on these UDFs crosses into a Python worker, and PySpark's worker set-up
around the task cost about 0.19 s of CPU before the first row (Python
3.11, local[4]): the zip directory re-reads of ``importlib.invalidate_caches``
and a full ``gc.collect`` per task.  ``_worker.py``, imported with the
package and so by every worker that unpickles one of its closures, takes
both off reused workers; about 4 ms per task is left.

Secret-name dispatch (reference semantics, test-asserted):

* encrypt: 2nd arg is a raw public key iff it starts ``age1``; otherwise it
  is resolved as a secret name.  ANY resolution failure → the observable
  ``Invalid age recipient key: <key> (not a valid age key or secret name)``
  (see errors.py for why the inner messages never escape).
* decrypt: same with prefix ``AGE-SECRET-KEY-1``.
* encrypt_multi: the ``age1`` rule per element; resolution failure →
  ``Invalid recipient: <key>``; parse failure of a resolved key →
  ``Encryption failed: Invalid recipient at position <i>: <key>``.

NULL in → NULL out, matching DuckDB's executor NULL propagation.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from . import errors
from .crypto import format as age_format
from .crypto import keys as age_keys

SecretsSnapshot = dict[str, dict[str, str | None]]

ENGINE_VERSION = "duckdb-age-spark 0.1.0"


# ---------------------------------------------------------------------------
# scalar kernels (pure Python, no Spark) — unit-testable in isolation
# ---------------------------------------------------------------------------


def resolve_recipient(key: str, secrets: SecretsSnapshot) -> str:
    """Secret-name fallback dispatch for encrypt (reference:
    src/age_extension.cpp:228-256)."""
    if age_keys.is_recipient_format(key):
        return key
    entry = secrets.get(key)
    if entry is None or entry.get("public_key") is None:
        raise errors.AgeError(errors.invalid_recipient_key_or_secret(key))
    return entry["public_key"]


def resolve_identity(key: str, secrets: SecretsSnapshot) -> str:
    """Dispatch for decrypt (reference: src/age_extension.cpp:292-320)."""
    if age_keys.is_identity_format(key):
        return key
    entry = secrets.get(key)
    if entry is None or entry.get("private_key") is None:
        raise errors.AgeError(errors.invalid_identity_key_or_secret(key))
    return entry["private_key"]


def encrypt_kernel(data: bytes, key: str, secrets: SecretsSnapshot) -> bytes:
    resolved = resolve_recipient(key, secrets)
    try:
        raw = age_keys.parse_recipient(resolved)
    except ValueError:
        raise errors.AgeError(errors.invalid_recipient_key(resolved)) from None
    return age_format.encrypt(data, [raw])


def decrypt_kernel(data: bytes, key: str, secrets: SecretsSnapshot) -> bytes:
    resolved = resolve_identity(key, secrets)
    try:
        raw = age_keys.parse_identity(resolved)
    except ValueError as e:
        # Rust: identity.parse()? error → "Decryption failed: <cause>"
        # (reference: rust/src/lib.rs:187-193,201)
        raise errors.AgeError(errors.decryption_failed(str(e))) from None
    try:
        return age_format.decrypt(data, raw)
    except age_format.DecryptError as e:
        raise errors.AgeError(errors.decryption_failed(str(e))) from None


def encrypt_multi_kernel(data: bytes, recipients: list[str], secrets: SecretsSnapshot) -> bytes:
    if len(recipients) == 0:
        raise errors.AgeError(errors.RECIPIENTS_EMPTY)
    resolved: list[str] = []
    for r in recipients:
        if age_keys.is_recipient_format(r):
            resolved.append(r)
            continue
        entry = secrets.get(r)
        if entry is None or entry.get("public_key") is None:
            raise errors.AgeError(errors.invalid_recipient(r))
        resolved.append(entry["public_key"])
    raws: list[bytes] = []
    for i, r in enumerate(resolved):
        try:
            raws.append(age_keys.parse_recipient(r))
        except ValueError:
            raise errors.AgeError(errors.encryption_failed_invalid_recipient_at(i, r)) from None
    return age_format.encrypt(data, raws)


# ---------------------------------------------------------------------------
# batched (pandas) kernels — the Arrow hot path
# ---------------------------------------------------------------------------


class _KeyCache:
    """Per-batch memoization of recipient/identity parsing — the Spark analog
    of hoisting the reference's per-row parse out of the row loop."""

    def __init__(self, secrets: SecretsSnapshot, kind: str) -> None:
        self.secrets = secrets
        self.kind = kind
        self._cache: dict[str, bytes] = {}

    def raw(self, key: str) -> bytes:
        hit = self._cache.get(key)
        if hit is not None:
            return hit
        if self.kind == "recipient":
            resolved = resolve_recipient(key, self.secrets)
            try:
                raw = age_keys.parse_recipient(resolved)
            except ValueError:
                raise errors.AgeError(errors.invalid_recipient_key(resolved)) from None
        else:
            resolved = resolve_identity(key, self.secrets)
            try:
                raw = age_keys.parse_identity(resolved)
            except ValueError as e:
                raise errors.AgeError(errors.decryption_failed(str(e))) from None
        self._cache[key] = raw
        return raw


def encrypt_batch(data: pd.Series, key: pd.Series, secrets: SecretsSnapshot) -> pd.Series:
    cache = _KeyCache(secrets, "recipient")
    out = [
        None if (d is None or k is None) else age_format.encrypt(d, [cache.raw(k)])
        for d, k in zip(data, key)
    ]
    return pd.Series(out, dtype=object)


def decrypt_batch(data: pd.Series, key: pd.Series, secrets: SecretsSnapshot) -> pd.Series:
    cache = _KeyCache(secrets, "identity")
    out = []
    for d, k in zip(data, key):
        if d is None or k is None:
            out.append(None)
            continue
        try:
            out.append(age_format.decrypt(bytes(d), cache.raw(k)))
        except age_format.DecryptError as e:
            raise errors.AgeError(errors.decryption_failed(str(e))) from None
    return pd.Series(out, dtype=object)


def encrypt_multi_batch(data: pd.Series, recipients: pd.Series, secrets: SecretsSnapshot) -> pd.Series:
    out = []
    for d, rs in zip(data, recipients):
        if d is None or rs is None:
            out.append(None)
        else:
            out.append(encrypt_multi_kernel(bytes(d), list(rs), secrets))
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# UDF construction
# ---------------------------------------------------------------------------

KEYPAIR_SCHEMA = "public_key string, private_key string"


def build_udfs(secrets: SecretsSnapshot) -> dict:
    """Build the six UDF objects over an immutable secrets snapshot.

    Called (and re-called) by ``register()`` whenever secrets change, so the
    serialized closures shipped to executors always hold the current map.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    keypair_type = StructType(
        [StructField("public_key", StringType()), StructField("private_key", StringType())]
    )

    def _keygen() -> tuple[str, str]:
        kp = age_keys.keygen()
        return (kp.public_key, kp.private_key)

    def _keygen_from_seed(seed) -> tuple[str, str] | None:
        if seed is None:
            return None
        kp = age_keys.keygen_from_seed(bytes(seed))
        return (kp.public_key, kp.private_key)

    # Per-row keygen (documented reference behavior; the reference's actual
    # per-chunk constant vector is an acknowledged quirk — SURVEY.md §2a).
    # Nondeterministic: prevents Catalyst CSE from collapsing distinct calls.
    # useArrow only batches the TRANSFER — the function still runs (and
    # draws fresh randomness) once per row; verified per-row-distinct in
    # tests/test_age_sql.py.
    keygen_udf = F.udf(_keygen, keypair_type, useArrow=True).asNondeterministic()
    # Deterministic, so Arrow-batchable (VERDICT r7 item 4).  useArrow keeps
    # row semantics — NULL seed still yields a top-level NULL struct, which
    # a pandas_udf struct return cannot express — while the plan becomes
    # ArrowEvalPython (batched transfer) instead of row-pickled BatchEval.
    keygen_from_seed_udf = F.udf(_keygen_from_seed, keypair_type, useArrow=True)

    @F.pandas_udf(BinaryType())
    def encrypt_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for data, key in it:
            yield encrypt_batch(data, key, secrets)

    @F.pandas_udf(BinaryType())
    def decrypt_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for data, key in it:
            yield decrypt_batch(data, key, secrets)

    @F.pandas_udf(BinaryType())
    def encrypt_multi_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.Series]:
        for data, rs in it:
            yield encrypt_multi_batch(data, rs, secrets)

    # fresh ephemeral file key per call ⇒ nondeterministic (SURVEY.md §2a)
    encrypt_udf = encrypt_udf.asNondeterministic()
    encrypt_multi_udf = encrypt_multi_udf.asNondeterministic()

    version_udf = F.udf(lambda: ENGINE_VERSION, StringType())

    return {
        "age_keygen": keygen_udf,
        "age_keygen_from_seed": keygen_from_seed_udf,
        "age_encrypt": encrypt_udf,
        "age_decrypt": decrypt_udf,
        "age_encrypt_multi": encrypt_multi_udf,
        "age_version": version_udf,
    }


# ---------------------------------------------------------------------------
# Column API (works after register(); resolves through the SQL registry so
# secret mutations — which re-register the UDFs — propagate automatically)
# ---------------------------------------------------------------------------


def _call(name: str, *cols):
    from pyspark.sql import functions as F

    return F.call_function(name, *[F.lit(c) if isinstance(c, (str, bytes, list)) else c for c in cols])


def age_keygen():
    return _call("age_keygen")


def age_keygen_from_seed(seed):
    return _call("age_keygen_from_seed", seed)


def age_encrypt(data, recipient):
    return _call("age_encrypt", data, recipient)


def age_decrypt(data, identity):
    return _call("age_decrypt", data, identity)


def age_encrypt_multi(data, recipients):
    from pyspark.sql import functions as F

    if isinstance(recipients, list):
        recipients = F.array(*[F.lit(r) for r in recipients])
    return _call("age_encrypt_multi", data, recipients)


def age_version():
    return _call("age_version")

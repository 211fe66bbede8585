"""JVM-side age crypto path: build + registration helpers.

The pure-Python crypto path tops out at ~30-64 MB/s/core for >=1 MiB
payloads because every byte crosses JVM -> Arrow -> Python and back
(measured in BENCH_extra.json's payload sweep; the kernel itself does
~1 GB/s/core).  The escape hatch is running the cipher inside the executor
JVM: ``jvm/src/agespark/*.java`` implements the same public
age-encryption.org/v1 format on JDK 17 primitives (X25519 KeyAgreement,
ChaCha20-Poly1305, HmacSHA256 — no external deps), wire-compatible with
``crypto/format.py`` in both directions (pinned by tests/test_jvm_crypto.py).

Usage::

    # the recipe puts ensure_jar()'s jar (javac+jar once, mtime-cached) on
    # spark.jars and the driver and executor classpaths
    spark = apply_recommended_conf(SparkSession.builder).getOrCreate()
    register_jvm_crypto(spark)               # age_encrypt_jvm / age_decrypt_jvm

The jar must be on the DRIVER classpath at JVM launch for
``registerJavaFunction`` to resolve the class, so registration cannot be
retrofitted onto a running session — which is why this is a separate opt-in
seam rather than part of ``register()``.

Scope: the registered SQL functions take bech32 key literals OR secret
NAMES (same dispatch prefixes as the Python path).  Names resolve inside
the UDF against an instance snapshot of ``agespark.AgeSecretRegistry``
taken driver-side at registration time: ``registerJavaFunction``
constructs the UDF object via its no-arg constructor and Spark serializes
that object into the task closure, so the {name: key} map reaches
executors through the binary closure channel — never through plan text
(VERDICT r10 item 3; before this, ``decrypt_col`` embedded the resolved
``AGE-SECRET-KEY-1...`` literal in the plan and relied on display
redaction).  Mutating the SecretManager re-stages the registry and
re-registers the three UDFs via a listener, mirroring register.py's
Python-path protocol — and with the same already-analyzed-DataFrame
semantics: a plan built before the mutation keeps the snapshot it was
built with.  The Column helpers below — ``encrypt_col`` / ``decrypt_col``
/ ``encrypt_multi_col`` — validate names eagerly against the driver-side
snapshot (same error strings, surfaced at plan-build instead of
execution) and pass the NAME through when it is current in the JVM
registry, falling back to the resolved literal only when the helper is
given a manager other than the JVM-registered one (VERDICT r8 item 4).

Caveat vs the Python path: ``registerJavaFunction`` offers no
nondeterminism flag, so Catalyst MAY collapse two syntactically identical
``age_encrypt_jvm`` calls into one (same ciphertext where the Python path —
marked ``asNondeterministic()`` — would produce two).  Decryption treats
both as valid.  Pipelines relying on distinct ciphertexts per call pass
``fresh=True`` to ``encrypt_col`` / ``encrypt_multi_col``, which splices a
zero-length slice of ``uuid()`` into the key expression — value-identical,
but nondeterministic, so Catalyst cannot deduplicate the call.
"""

from __future__ import annotations

import os
import subprocess
import sys

_JVM_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jvm")
JAR_PATH = os.path.join(_JVM_DIR, "age-spark-udf.jar")


def ensure_jar() -> str:
    """Compile jvm/src into the UDF jar if missing or stale (source newer
    than jar).  Requires javac (JDK 17); raises RuntimeError if absent so
    callers can gate cleanly.

    Concurrency-safe: parallel callers (pytest-xdist workers, a sweep next
    to the suite) serialize on an flock'd build lock, and build.sh renames
    a temp jar into place atomically — a concurrent reader never sees a
    half-written jar (code-review r8 finding)."""
    src_dir = os.path.join(_JVM_DIR, "src", "agespark")

    def _fresh() -> bool:
        srcs = [
            os.path.join(src_dir, f) for f in sorted(os.listdir(src_dir)) if f.endswith(".java")
        ]
        if not srcs:
            raise RuntimeError(f"no Java sources under {src_dir}")
        return os.path.exists(JAR_PATH) and all(
            os.path.getmtime(s) <= os.path.getmtime(JAR_PATH) for s in srcs
        )

    if _fresh():
        return JAR_PATH
    import fcntl

    with open(os.path.join(_JVM_DIR, ".build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if _fresh():  # another process built it while we waited
            return JAR_PATH
        # hand build.sh THIS interpreter for the pyspark-jars classpath
        # fallback — `python` may be absent or a different env (code-review r8)
        env = dict(os.environ, PYTHON=sys.executable)
        proc = subprocess.run(
            ["sh", os.path.join(_JVM_DIR, "build.sh")],
            capture_output=True,
            text=True,
            env=env,
        )
        if proc.returncode != 0:
            raise RuntimeError(f"jvm build failed:\n{proc.stdout}\n{proc.stderr}")
    return JAR_PATH


# The SecretManager staged into the JVM registry, and the listener that
# keeps it staged, live as attributes on the SparkSession object itself (as
# register.py's marker does), so they die with the session: no module
# dict pins stopped sessions, and a new session can never alias a stale
# entry through a reused id().  The col helpers pass NAMES through only
# when resolving against this exact manager (any other manager falls back
# to literal resolution, else the executor snapshot would answer for the
# wrong manager).
_JVM_MANAGER_ATTR = "_duckdb_age_jvm_manager"
_JVM_LISTENER_ATTR = "_duckdb_age_jvm_listener"


def _staged_manager(spark):
    """The SecretManager whose snapshot is staged for ``spark``, or None."""
    return getattr(spark, _JVM_MANAGER_ATTR, None)


def _manager_fingerprint(manager) -> str:
    """Stable random fingerprint per SecretManager instance, assigned
    lazily.  Staged into the JVM registry alongside the snapshot and
    embedded in passthrough-name envelopes so a plan built against one
    manager FAILS at execution on a session staged from another, instead of
    silently resolving the name with the wrong manager's key (ADVICE r11:
    the passthrough decision keys off the thread-ACTIVE session, which need
    not own the DataFrame the column is applied to)."""
    import uuid

    fp = getattr(manager, "_age_jvm_fingerprint", None)
    if fp is None:
        fp = uuid.uuid4().hex
        manager._age_jvm_fingerprint = fp
    return fp


# Must match agespark.AgeSecretRegistry.NAME_MARKER: NUL-delimited so no
# legal bech32 key (and no sane secret name) collides with the envelope.
_NAME_MARKER = "\x00age\x00"


def _wrap_name(name: str, manager) -> str:
    return f"{_NAME_MARKER}{_manager_fingerprint(manager)}\x00{name}"


def _stage_and_register(spark, manager) -> None:
    """Stage ``manager``'s snapshot into agespark.AgeSecretRegistry, then
    (re-)register the three UDFs.  Order matters: the UDF constructors
    snapshot the registry (map AND staging fingerprint), so staging must
    precede registration."""
    from pyspark.sql.types import BinaryType

    reg = spark._jvm.agespark.AgeSecretRegistry
    reg.clear()
    reg.setToken(_manager_fingerprint(manager))
    for name, entry in manager.snapshot().items():
        reg.put(name, entry.get("public_key"), entry.get("private_key"))
    spark.udf.registerJavaFunction("age_encrypt_jvm", "agespark.AgeEncryptUDF", BinaryType())
    spark.udf.registerJavaFunction("age_decrypt_jvm", "agespark.AgeDecryptUDF", BinaryType())
    spark.udf.registerJavaFunction(
        "age_encrypt_multi_jvm", "agespark.AgeEncryptMultiUDF", BinaryType()
    )


def register_jvm_crypto(spark, manager=None) -> None:
    """Register age_encrypt_jvm / age_decrypt_jvm / age_encrypt_multi_jvm
    SQL functions.  The jar must already be on the driver classpath (see
    module docstring).

    ``manager`` selects whose named secrets the JVM path serves (default:
    the manager ``register(spark, ...)`` used for this session, else the
    process default).  The snapshot is staged into the JVM registry before
    registration and re-staged + re-registered on every secret mutation via
    a manager listener — the exact protocol register.py uses for the Python
    UDFs, so both paths track CREATE/DROP SECRET identically.

    Also installs ``spark.sql.redaction.string.regex`` covering
    ``AGE-SECRET-KEY-1...`` literals (shared helper with ``register()``) as
    defense-in-depth for RAW identity literals users pass explicitly; named
    secrets no longer need it — their plans carry only the name."""
    from .register import install_identity_redaction, registered_manager
    from .secrets import default_manager

    manager = manager or registered_manager(spark) or default_manager
    _stage_and_register(spark, manager)
    if _staged_manager(spark) is not manager:
        # Drop the previous binding's listener first (ADVICE r11): without
        # this, re-binding a session A->B->A would leave a dead guarded
        # listener on each manager per re-bind — duplicated re-stage work
        # per mutation and stopped sessions pinned through the listener
        # list of a long-lived (e.g. process-default) manager.
        stale = getattr(spark, _JVM_LISTENER_ATTR, None)
        if stale is not None:
            old_mgr, old_fn = stale
            old_mgr.remove_listener(old_fn)
        setattr(spark, _JVM_MANAGER_ATTR, manager)

        def _resync(mgr=manager):
            # Guarded listener (code-review r11): (a) if the session has
            # since been re-bound to a DIFFERENT manager, this manager's
            # mutations must not clobber the registry — no-op instead of
            # re-staging a stale snapshot; (b) never raise out of
            # SecretManager._notify (a stopped session would otherwise
            # break create/drop for listeners queued after this one).
            if _staged_manager(spark) is not mgr:
                return
            try:
                _stage_and_register(spark, mgr)
            except Exception as exc:  # stopped/broken session
                import warnings

                warnings.warn(
                    f"JVM crypto re-registration skipped (session unusable?): {exc}",
                    stacklevel=2,
                )

        manager.add_listener(_resync)
        setattr(spark, _JVM_LISTENER_ATTR, (manager, _resync))
    install_identity_redaction(spark)


# ---------------------------------------------------------------------------
# named-secret dispatch for the JVM path
# ---------------------------------------------------------------------------
#
# Dispatch rule and error strings are byte-identical to the Python path
# (functions.py:52-70): a key is a literal iff it carries the age1 /
# AGE-SECRET-KEY-1 prefix, anything else is a secret name.  Names are
# VALIDATED eagerly here (plan-build error parity — any resolution failure
# raises the reference taxonomy's message immediately) but, when the
# effective manager is the one whose snapshot is staged in the JVM registry
# for the active session, the NAME itself is what goes into the plan; the
# executor-side UDF snapshot resolves it, so plan text never carries key
# material (VERDICT r10 item 3).  Only when a caller supplies a different
# manager do we fall back to embedding the resolved literal (the executor
# snapshot would answer for the wrong manager) — that fallback is what the
# shared redaction regex still covers.


def _effective_manager(manager=None):
    """The manager a col-helper call resolves against: an explicit one
    wins; otherwise the manager the ACTIVE session's JVM registry was
    staged from (so the helpers agree with the SQL surface —
    ``age_encrypt_jvm(col, 'name')`` resolves executor-side against that
    same staging; code-review r11); otherwise the process default.
    Thread caveat: PySpark's active session is thread-local — a plan built
    from a thread with no active session falls back to default_manager."""
    if manager is not None:
        return manager
    from pyspark.sql import SparkSession

    from .secrets import default_manager

    staged = _staged_manager(SparkSession.getActiveSession())
    return default_manager if staged is None else staged


def _snapshot(manager=None):
    return _effective_manager(manager).snapshot()


def _named_passthrough_ok(manager=None) -> bool:
    """True iff a secret NAME can be sent through the plan as-is: the
    active session's JVM registry was staged from exactly the manager this
    call resolves against (the listener keeps that staging current).
    When this returns False for a NAME, the caller embeds the resolved
    literal instead — a documented, redaction-covered degradation that
    :func:`_warn_literal_fallback` makes loud."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    return _staged_manager(spark) is _effective_manager(manager)


def _warn_literal_fallback(name: str) -> None:
    import warnings

    warnings.warn(
        f"secret name {name!r} resolved driver-side into a plan literal "
        "(the active session's JVM registry is not staged from this "
        "manager — call register_jvm_crypto(spark, manager) to keep key "
        "material out of plan text); display redaction still applies",
        stacklevel=3,
    )


def _cse_salt(key_col):
    """Make a key expression CSE-proof without changing its value.

    ``registerJavaFunction`` can't mark a UDF nondeterministic, so Catalyst
    collapses two syntactically identical ``age_encrypt_jvm`` calls into one
    ciphertext (pinned: tests/test_jvm_crypto.py CSE-JVM-COLLAPSED).  To
    restore the Python path's per-call-fresh-file-key semantics, append a
    zero-length slice of ``uuid()`` to the key string: ``uuid()`` is
    nondeterministic, so the whole call is ineligible for both common
    subexpression elimination and constant folding, yet
    ``substring(uuid(), 1, 0)`` is always the empty string — the key bytes
    the JVM parses are unchanged (VERDICT r9 item 5)."""
    from pyspark.sql import functions as F

    return F.concat(key_col, F.expr("substring(uuid(), 1, 0)"))


def encrypt_col(data, key: str, manager=None, fresh: bool = False):
    """Column: JVM-side encrypt with secret-name dispatch.
    ``encrypt_col(F.col("payload"), "prod_key")`` validates ``prod_key``
    against the driver-side snapshot (eager error parity) and passes the
    NAME to ``age_encrypt_jvm``, which resolves it executor-side from its
    registration-time snapshot — key material never enters the plan.
    ``fresh=True`` guarantees a fresh file key per call even when two calls
    are syntactically identical (see :func:`_cse_salt`); leave it off when
    one ciphertext per input row is acceptable and you want Catalyst free
    to deduplicate work.  Position restriction (ADVICE r10): ``fresh=True``
    makes the whole expression NONDETERMINISTIC (the ``uuid()`` salt), and
    Spark only allows nondeterministic expressions in Project/Filter — in a
    join condition, aggregate, or sort it raises AnalysisException; compute
    the fresh ciphertext in a ``select`` first, then join/group on it."""
    from pyspark.sql import functions as F

    from .functions import resolve_recipient

    mgr = _effective_manager(manager)
    resolved = resolve_recipient(key, mgr.snapshot())
    if resolved != key:  # a NAME (literals resolve to themselves)
        if _named_passthrough_ok(manager):
            # fingerprint envelope: executes only against a session staged
            # from THIS manager; any other staging fails loudly instead of
            # resolving the name with the wrong key (ADVICE r11)
            key = _wrap_name(key, mgr)
        else:
            _warn_literal_fallback(key)
            key = resolved
    key_col = F.lit(key)
    if fresh:
        key_col = _cse_salt(key_col)
    return F.call_udf("age_encrypt_jvm", data, key_col)


def decrypt_col(data, key: str, manager=None):
    """Column: JVM-side decrypt with secret-name dispatch.

    A secret NAME is validated driver-side (same eager error strings) and
    passed through as the plan literal; the executor-side UDF resolves it
    from the registration-time registry snapshot shipped in its closure, so
    plan text (explain, UI SQL tab, event logs) contains no
    ``AGE-SECRET-KEY-1...`` material even with the redaction conf disabled
    (VERDICT r10 item 3).  Raw identity LITERALS the caller passes
    explicitly do appear in the plan — exactly like the Python path — and
    remain covered by the shared redaction regex; the same applies to the
    fallback when ``manager`` differs from the JVM-registered one
    (PARITY.md "JVM path: identity literals")."""
    from pyspark.sql import functions as F

    from .functions import resolve_identity

    mgr = _effective_manager(manager)
    resolved = resolve_identity(key, mgr.snapshot())
    if resolved != key:  # a NAME (literals resolve to themselves)
        if _named_passthrough_ok(manager):
            key = _wrap_name(key, mgr)  # see encrypt_col (ADVICE r11)
        else:
            _warn_literal_fallback(key)
            key = resolved
    return F.call_udf("age_decrypt_jvm", data, F.lit(key))


def encrypt_multi_col(data, keys: list[str], manager=None, fresh: bool = False):
    """Column: JVM-side multi-recipient encrypt (one file key, N stanzas).
    Per-element dispatch matches functions.py::encrypt_multi_kernel —
    ``age1``-prefixed elements are literals, the rest are secret names
    (validated eagerly, passed through by NAME when the JVM registry is
    staged from this manager), with the same error strings.  The empty-list
    and parse-failure checks run JVM-side so their taxonomy also matches.
    ``fresh=True`` carries the same Project/Filter-only position
    restriction as :func:`encrypt_col`."""
    from pyspark.sql import functions as F

    from . import errors
    from .crypto import keys as age_keys

    if len(keys) == 0:
        # eager twin of the JVM-side check: F.array() of zero columns has
        # no element type, so the empty case cannot be deferred to the UDF
        raise errors.AgeError(errors.RECIPIENTS_EMPTY)
    mgr = _effective_manager(manager)
    snapshot = mgr.snapshot()
    passthrough = _named_passthrough_ok(manager)
    resolved: list[str] = []
    for r in keys:
        if age_keys.is_recipient_format(r):
            resolved.append(r)
            continue
        entry = snapshot.get(r)
        if entry is None or entry.get("public_key") is None:
            raise errors.AgeError(errors.invalid_recipient(r))
        if not passthrough:
            _warn_literal_fallback(r)
        resolved.append(_wrap_name(r, mgr) if passthrough else entry["public_key"])
    key_cols = [F.lit(k) for k in resolved]
    if fresh:
        # salting one element is enough to defeat CSE for the whole call
        key_cols[0] = _cse_salt(key_cols[0])
    return F.call_udf("age_encrypt_multi_jvm", data, F.array(*key_cols))

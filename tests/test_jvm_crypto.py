"""JVM-side age crypto path (jvm/src/agespark) — wire-format interop with
the Python path, and the Spark registerJavaFunction seam.

The Java implementation must be byte-compatible with crypto/format.py in
BOTH directions: Java-encrypted files decrypt under the Python path and
vice versa, including multi-chunk (>64 KiB) payloads.  The Spark-session
test runs in a subprocess because the jar must be on the driver classpath
at JVM launch (registerJavaFunction resolves the class on the driver), and
the suite's shared session was started without it.
"""

from __future__ import annotations

import base64
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PUB = "age1j2tqev8spvn9s9ktkr750ntl03sy20f7dck0mdyetway3cj2naasngwz3u"
PRIV = "AGE-SECRET-KEY-1DMYUTPVUSD3M7HMU4K5KXNZ65JZVC9J04MSVV2J8Y4NE8GZCVU6ST7DRT2"
# second keypair for multi-recipient tests (keygen_from_seed of a fixed seed)
PUB2 = "age1egzm9f262exff3k0vwxjkvcd389y5r9n606zuxhelpqh5x9etgwqkvdpkw"
PRIV2 = "AGE-SECRET-KEY-1SS2SH4L00GC52NGL0Q49QR408JVWTAW2E07FFQUFRWYXFV6KEE6S75XZ05"


@pytest.fixture(scope="module")
def jar():
    import shutil

    if shutil.which("javac") is None or shutil.which("java") is None:
        pytest.skip("JDK not available — JVM crypto path is opt-in")
    from duckdb_age_spark.jvm import ensure_jar

    try:
        return ensure_jar()
    except RuntimeError as e:
        pytest.skip(f"jvm jar build unavailable: {e}")


def _java(jar, *args: str) -> str:
    proc = subprocess.run(
        ["java", "-cp", jar, "agespark.SelfTest", *args],
        capture_output=True,
        text=True,
        check=True,
    )
    return proc.stdout.strip()


def test_java_encrypt_python_decrypt(jar):
    from duckdb_age_spark.crypto import format as agefmt, keys

    ct = base64.b64decode(_java(jar, "enc", PUB, "wire interop"))
    assert agefmt.decrypt(ct, keys.parse_identity(PRIV)) == b"wire interop"
    # ciphertext length matches the closed form the oracle uses
    assert len(ct) == agefmt.ciphertext_length(len(b"wire interop"), 1)


def test_python_encrypt_java_decrypt(jar):
    from duckdb_age_spark.crypto import format as agefmt, keys

    ct = agefmt.encrypt(b"python made this", [keys.parse_recipient(PUB)])
    out = _java(jar, "dec", PRIV, base64.b64encode(ct).decode())
    assert out == "python made this"


def test_multichunk_interop_both_directions(jar):
    """>64 KiB payloads span chunk boundaries — the chunked nonce counter
    and final-flag must agree between the two implementations."""
    from duckdb_age_spark.crypto import format as agefmt, keys

    pt = ("x" * (64 * 1024) + "TAIL" + "y" * 100)  # 2 chunks, odd tail
    ct = base64.b64decode(_java(jar, "enc", PUB, pt))
    assert agefmt.decrypt(ct, keys.parse_identity(PRIV)) == pt.encode()
    ct2 = agefmt.encrypt(pt.encode(), [keys.parse_recipient(PUB)])
    assert _java(jar, "dec", PRIV, base64.b64encode(ct2).decode()) == pt


def test_multi_recipient_interop_both_directions(jar):
    """Java encryptMulti: ONE file key under N stanzas — EITHER identity
    decrypts under the Python path, and a Python multi ciphertext decrypts
    under Java with either identity (any-of-N contract, both engines)."""
    from duckdb_age_spark.crypto import format as agefmt, keys

    ct = base64.b64decode(_java(jar, "encmulti", f"{PUB},{PUB2}", "multi wire"))
    assert agefmt.decrypt(ct, keys.parse_identity(PRIV)) == b"multi wire"
    assert agefmt.decrypt(ct, keys.parse_identity(PRIV2)) == b"multi wire"
    assert len(ct) == agefmt.ciphertext_length(len(b"multi wire"), 2)

    ct2 = agefmt.encrypt(
        b"python multi", [keys.parse_recipient(PUB), keys.parse_recipient(PUB2)]
    )
    assert _java(jar, "dec", PRIV, base64.b64encode(ct2).decode()) == "python multi"
    assert _java(jar, "dec", PRIV2, base64.b64encode(ct2).decode()) == "python multi"


def test_java_rejects_tampered_ciphertext(jar):
    ct = bytearray(base64.b64decode(_java(jar, "enc", PUB, "payload")))
    ct[-1] ^= 0x01  # flip a payload tag bit
    proc = subprocess.run(
        ["java", "-cp", jar, "agespark.SelfTest", "dec", PRIV,
         base64.b64encode(bytes(ct)).decode()],
        capture_output=True,
        text=True,
    )
    assert proc.returncode != 0
    assert "payload authentication failed" in proc.stderr


def test_java_header_parser_rejects_malformed(jar):
    """Adversarial parity with the Python parser's fuzz hardening: every
    malformed variant must fail cleanly (non-zero exit, no wrong-plaintext
    success, no hang).  Cases mirror the classes tests/test_crypto.py pins
    for the Python path."""
    from duckdb_age_spark.crypto import format as agefmt, keys

    ct = agefmt.encrypt(b"victim", [keys.parse_recipient(PUB)])
    nl1 = ct.index(b"\n")
    mac_at = ct.index(b"--- ")
    cases = {
        "empty": b"",
        "bad_version": b"age-encryption.org/v2" + ct[nl1:],
        "truncated_header": ct[: nl1 + 5],
        "truncated_after_stanza": ct[:mac_at],
        "no_arrow_stanza": ct[: nl1 + 1] + b"X25519 junk\n" + ct[nl1 + 1 :],
        "padded_b64_share": ct.replace(b"-> X25519 ", b"-> X25519 AAA= ", 1),
        "flipped_mac": ct[: mac_at + 6]
        + bytes([ct[mac_at + 6] ^ 1])
        + ct[mac_at + 7 :],
        "truncated_payload_nonce": ct[: mac_at + 48 + 4],
        "garbage": b"\x00\xff" * 40,
    }
    for name, bad in cases.items():
        proc = subprocess.run(
            ["java", "-cp", jar, "agespark.SelfTest", "dec", PRIV,
             base64.b64encode(bad).decode()],
            capture_output=True,
            text=True,
            timeout=60,
        )
        assert proc.returncode != 0, f"{name}: malformed input decrypted successfully"
        assert "victim" not in proc.stdout, f"{name}: leaked plaintext"


_SPARK_SCRIPT = r"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
import duckdb_age_spark as age
from duckdb_age_spark.jvm import register_jvm_crypto

jar = {jar!r}
spark = (SparkSession.builder.master("local[2]")
         .config("spark.jars", jar)
         .config("spark.driver.extraClassPath", jar)
         .config("spark.executor.extraClassPath", jar)
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
age.register(spark)
register_jvm_crypto(spark)
PUB, PRIV = {pub!r}, {priv!r}

# cross-path inside ONE query: JVM encrypt -> Python decrypt, and the reverse
row = spark.sql(
    "SELECT age_decrypt(age_encrypt_jvm(CAST('a2p' AS BINARY), '" + PUB + "'), '" + PRIV + "') AS jp, "
    "age_decrypt_jvm(age_encrypt(CAST('p2a' AS BINARY), '" + PUB + "'), '" + PRIV + "') AS pj, "
    "age_encrypt_jvm(CAST(NULL AS BINARY), '" + PUB + "') AS nn"
).first()
assert bytes(row.jp) == b"a2p", row.jp
assert bytes(row.pj) == b"p2a", row.pj
assert row.nn is None
print("CROSS-PATH-OK")

# error taxonomy at the SQL surface
try:
    spark.sql("SELECT age_encrypt_jvm(CAST('x' AS BINARY), 'invalid_key')").collect()
    print("NO-ERROR")
except Exception as e:
    assert "Invalid age recipient key: invalid_key (not a valid age key or secret name)" in str(e)
    print("ERRMSG-OK")

# --- multi-recipient + named-secret dispatch via the Column helpers -------
from duckdb_age_spark import default_manager
from duckdb_age_spark.jvm import encrypt_col, decrypt_col, encrypt_multi_col
PUB2, PRIV2 = {pub2!r}, {priv2!r}
default_manager.create_secret("jvmkey", public_key=PUB, private_key=PRIV)

df = spark.range(1).select(F.encode(F.lit("named"), "UTF-8").alias("pt"))
out = df.select(
    age.age_decrypt(encrypt_col(F.col("pt"), "jvmkey"), F.lit(PRIV)).alias("n2p"),
    decrypt_col(age.age_encrypt(F.col("pt"), F.lit(PUB)), "jvmkey").alias("p2n"),
).first()
assert bytes(out.n2p) == b"named", out.n2p
assert bytes(out.p2n) == b"named", out.p2n
print("NAMED-SECRET-OK")

# multi: one name + one literal; both identities decrypt (any-of-N)
m = df.select(encrypt_multi_col(F.col("pt"), ["jvmkey", PUB2]).alias("ct"))
mrow = m.select(
    age.age_decrypt(F.col("ct"), F.lit(PRIV)).alias("a"),
    age.age_decrypt(F.col("ct"), F.lit(PRIV2)).alias("b"),
).first()
assert bytes(mrow.a) == b"named" and bytes(mrow.b) == b"named"
print("MULTI-OK")

# multi error taxonomy: empty list (eager) and bad resolved key (JVM-side)
try:
    encrypt_multi_col(F.col("pt"), [])
    print("NO-EMPTY-ERROR")
except Exception as e:
    assert "Recipients list cannot be empty" in str(e)
    print("MULTI-EMPTY-OK")
try:
    df.select(F.call_udf("age_encrypt_multi_jvm", F.col("pt"),
                         F.array(F.lit("age1notakey")))).collect()
    print("NO-MULTI-ERROR")
except Exception as e:
    assert "Encryption failed: Invalid recipient at position 0: age1notakey" in str(e)
    print("MULTI-ERRMSG-OK")
# error PRECEDENCE parity (code-review r11): the Python kernel resolves
# every NAME before parsing any element, so an unknown name at position 1
# must win over an unparseable literal at position 0 — on both paths
try:
    df.select(F.call_udf("age_encrypt_multi_jvm", F.col("pt"),
                         F.array(F.lit("age1notakey"), F.lit("no_such_name")))).collect()
    print("NO-PRECEDENCE-ERROR")
except Exception as e:
    assert "Invalid recipient: no_such_name" in str(e), str(e)[-500:]
try:
    df.select(age.age_encrypt_multi(F.col("pt"),
                                    F.array(F.lit("age1notakey"), F.lit("no_such_name")))).collect()
    print("NO-PY-PRECEDENCE-ERROR")
except Exception as e:
    assert "Invalid recipient: no_such_name" in str(e), str(e)[-500:]
    print("MULTI-PRECEDENCE-OK")

# --- CSE caveat pin (VERDICT r8 item 3) -----------------------------------
# registerJavaFunction offers no nondeterminism flag, so Catalyst is FREE to
# collapse two syntactically identical encrypt calls into one ciphertext —
# unlike the Python path, whose asNondeterministic() guarantees two distinct
# file keys.  Pin both behaviors so a Spark version changing CSE semantics
# is caught.  Workaround for pipelines needing distinct ciphertexts per
# call: use the Python path, or make the calls syntactically distinct
# (e.g. concat a per-row salt column into the plaintext).
pair = df.select(
    F.call_udf("age_encrypt_jvm", F.col("pt"), F.lit(PUB)).alias("a"),
    F.call_udf("age_encrypt_jvm", F.col("pt"), F.lit(PUB)).alias("b"),
).first()
jvm_collapsed = bytes(pair.a) == bytes(pair.b)
ppair = df.select(
    age.age_encrypt(F.col("pt"), F.lit(PUB)).alias("a"),
    age.age_encrypt(F.col("pt"), F.lit(PUB)).alias("b"),
).first()
assert bytes(ppair.a) != bytes(ppair.b), "Python path must stay per-call-fresh"
print("CSE-JVM-COLLAPSED" if jvm_collapsed else "CSE-JVM-DISTINCT")
print("CSE-PYTHON-OK")

# --- fresh=True restores per-call freshness on the JVM path (VERDICT r9
# item 5): two syntactically identical fresh calls must yield DISTINCT
# ciphertexts, and both must still decrypt (the uuid() salt is a
# zero-length slice — key bytes unchanged).
fr = df.select(
    encrypt_col(F.col("pt"), PUB, fresh=True).alias("a"),
    encrypt_col(F.col("pt"), PUB, fresh=True).alias("b"),
).first()
assert bytes(fr.a) != bytes(fr.b), "fresh=True must defeat CSE"
dfr = df.select(
    age.age_decrypt(encrypt_col(F.col("pt"), "jvmkey", fresh=True), F.lit(PRIV)).alias("d"),
).first()
assert bytes(dfr.d) == b"named", dfr.d
mfr = df.select(
    encrypt_multi_col(F.col("pt"), ["jvmkey", PUB2], fresh=True).alias("a"),
    encrypt_multi_col(F.col("pt"), ["jvmkey", PUB2], fresh=True).alias("b"),
).first()
assert bytes(mfr.a) != bytes(mfr.b), "multi fresh=True must defeat CSE"
assert bytes(df.select(age.age_decrypt(encrypt_multi_col(
    F.col("pt"), ["jvmkey", PUB2], fresh=True), F.lit(PRIV2)).alias("d")).first().d) == b"named"
print("FRESH-OK")

# --- named-secret plans carry NO key material (VERDICT r10 item 3): a
# named decrypt must keep the identity out of plan text even with the
# redaction conf DISABLED — the name resolves executor-side from the
# registry snapshot shipped in the UDF closure, not from a plan literal.
import io, contextlib

def _explain_text(q, mode):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(mode=mode)
    return buf.getvalue()

redaction_key = "spark.sql.redaction.string.regex"
saved_regex = spark.conf.get(redaction_key, None)
spark.conf.unset(redaction_key)
try:
    dfq = df.select(decrypt_col(age.age_encrypt(F.col("pt"), F.lit(PUB)), "jvmkey").alias("d"))
    for mode in ("simple", "extended", "formatted"):
        text = _explain_text(dfq, mode)
        assert "AGE-SECRET-KEY-1" not in text, f"identity leaked in explain({{mode}})"
        assert "jvmkey" in text, f"expected the NAME in explain({{mode}})"
    # and the named plan actually executes (executor-side resolution)
    assert bytes(dfq.first().d) == b"named"
    # multi + encrypt names too (explain the ciphertext plan alone — the
    # decrypt check below passes a RAW literal, which belongs in its plan)
    dfm = df.select(encrypt_multi_col(F.col("pt"), ["jvmkey", PUB2]).alias("ct"))
    assert "AGE-SECRET-KEY-1" not in _explain_text(dfm, "extended")
    assert bytes(df.select(age.age_decrypt(encrypt_multi_col(
        F.col("pt"), ["jvmkey", PUB2]), F.lit(PRIV2)).alias("d")).first().d) == b"named"
finally:
    if saved_regex is not None:
        spark.conf.set(redaction_key, saved_regex)
print("NAMED-NO-LEAK-OK")

# a RAW identity literal the caller passes explicitly still lands in the
# plan (same as the Python path) — the shared redaction regex must cover it
dfl = df.select(decrypt_col(age.age_encrypt(F.col("pt"), F.lit(PUB)), PRIV).alias("d"))
for mode in ("simple", "extended", "formatted"):
    text = _explain_text(dfl, mode)
    assert "AGE-SECRET-KEY-1" not in text, f"identity leaked in explain({{mode}})"
    assert "redacted" in text, f"expected redaction marker in explain({{mode}})"
print("REDACTION-OK")

# SQL surface takes names directly now (dispatch parity with the Python
# path's registered UDFs), and an unknown name reports the same taxonomy
row = spark.sql(
    "SELECT age_decrypt_jvm(age_encrypt_jvm(CAST('sqlname' AS BINARY), 'jvmkey'), 'jvmkey') AS d"
).first()
assert bytes(row.d) == b"sqlname", row.d
try:
    spark.sql("SELECT age_decrypt_jvm(CAST('x' AS BINARY), 'no_such_name')").collect()
    print("NO-NAME-ERROR")
except Exception as e:
    assert "Invalid age identity key: no_such_name (not a valid age key or secret name)" in str(e)
print("SQL-NAMED-OK")

# secret MUTATION repoints the name: the listener re-stages the registry
# and re-registers, so a plan built AFTER the change sees the new key
from duckdb_age_spark.secrets import default_manager as _dm
_dm.create_secret("rotkey", public_key=PUB, private_key=PRIV)
ct1 = df.select(encrypt_col(F.col("pt"), "rotkey").alias("ct")).first().ct
_dm.drop_secret("rotkey")
_dm.create_secret("rotkey", public_key=PUB2, private_key=PRIV2)
out = df.select(
    age.age_decrypt(encrypt_col(F.col("pt"), "rotkey"), F.lit(PRIV2)).alias("n"),
    decrypt_col(F.lit(bytes(ct1)), PRIV).alias("o"),
).first()
assert bytes(out.n) == b"named"
assert bytes(out.o) == b"named"
print("ROTATION-OK")

# --- multi-session passthrough guard (ADVICE r11 medium): a Column built
# while session 1 (staged from default_manager) is active carries a
# fingerprint-enveloped name; executing it on a SECOND session staged from
# a DIFFERENT manager that binds the SAME name to another key must fail
# loudly — before the guard it silently encrypted with the other manager's
# key.  Build the column FIRST (active session = session 1), then register
# the second session.
from duckdb_age_spark.secrets import SecretManager
col_s1 = encrypt_col(F.col("pt"), "jvmkey")
s2 = spark.newSession()
m2 = SecretManager()
m2.create_secret("jvmkey", public_key=PUB2, private_key=PRIV2)
register_jvm_crypto(s2, m2)
df2 = s2.range(1).select(F.encode(F.lit("named"), "UTF-8").alias("pt"))
try:
    df2.select(col_s1.alias("ct")).collect()
    print("NO-MISMATCH-ERROR")
except Exception as e:
    assert "was resolved against a different SecretManager" in str(e), str(e)[-500:]
    assert "jvmkey" in str(e)
    print("MISMATCH-GUARD-OK")
# same name through s2's OWN helpers still works (envelope — or literal
# fallback, depending on which session is thread-active — matches s2's
# staging either way; only the Python-path UDFs are unregistered on s2)
out2 = df2.select(decrypt_col(encrypt_col(F.col("pt"), "jvmkey", manager=m2),
                              "jvmkey", manager=m2).alias("d")).first()
assert bytes(out2.d) == b"named", out2.d
print("MISMATCH-OWN-SESSION-OK")

# --- listener hygiene (ADVICE r11): re-registering the same binding adds
# no listener; re-binding a session removes the old manager's listener
from duckdb_age_spark.secrets import default_manager as _dm2
n0 = len(_dm2._listeners)
register_jvm_crypto(spark)           # same (session, manager): no-op add
assert len(_dm2._listeners) == n0, (n0, len(_dm2._listeners))
m3 = SecretManager()
register_jvm_crypto(spark, m3)       # rebind: default loses its listener...
assert len(_dm2._listeners) == n0 - 1
assert len(m3._listeners) == 1       # ...m3 gains exactly one
register_jvm_crypto(spark)           # rebind back
assert len(_dm2._listeners) == n0
assert len(m3._listeners) == 0
print("LISTENER-DEDUP-OK")
spark.stop()
"""


_ROUTING_SCRIPT = r"""
import sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
import duckdb_age_spark as age
from duckdb_age_spark.jvm import register_jvm_crypto
from duckdb_age_spark.sources.encrypted import read_encrypted, write_encrypted

jar = {jar!r}
spark = (SparkSession.builder.master("local[2]")
         .config("spark.jars", jar)
         .config("spark.driver.extraClassPath", jar)
         .config("spark.executor.extraClassPath", jar)
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
age.register(spark)
register_jvm_crypto(spark)
PUB, PRIV = {pub!r}, {priv!r}

base = tempfile.mkdtemp(prefix="age_route_test_")
big = spark.range(6).select("id", F.concat(F.lit("B"), F.expr("repeat('x', 70000)"),
                                           F.col("id").cast("string")).alias("payload"))
small = spark.range(6).select("id", F.concat(F.lit("S"), F.col("id").cast("string")).alias("payload"))

r_big = write_encrypted(big, base + "/big", ["payload"], PUB)
r_small = write_encrypted(small, base + "/small", ["payload"], PUB)
assert r_big == {{"payload": "jvm"}}, r_big
assert r_small == {{"payload": "python"}}, r_small
print("ROUTE-BIG-JVM-OK"); print("ROUTE-SMALL-PY-OK")

# cross-path readability: the JVM-encrypted file decrypts on the forced
# Python path and vice versa — routing is throughput-only, never format
exp_big = {{r.id: r.payload for r in big.collect()}}
back_py = read_encrypted(spark, base + "/big", ["payload"], PRIV, crypto_path="python")
assert {{r.id: r.payload for r in back_py.collect()}} == exp_big
back_jvm = read_encrypted(spark, base + "/small", ["payload"], PRIV, crypto_path="jvm")
assert {{r.id: r.payload for r in back_jvm.collect()}} == {{r.id: r.payload for r in small.collect()}}
print("ROUTE-CROSS-READ-OK")

# --- named-secret routing under a NON-DEFAULT manager (ADVICE r9): the
# JVM route must resolve names against the manager registered for this
# session, not default_manager.  Poison default_manager with the SAME
# name bound to a DIFFERENT keypair — before the fix the big (JVM-routed)
# write would silently encrypt to the wrong recipient.
from duckdb_age_spark.secrets import SecretManager, default_manager
custom = SecretManager()
custom.create_secret("routekey", public_key=PUB, private_key=PRIV)
wrong_pub = "age1egzm9f262exff3k0vwxjkvcd389y5r9n606zuxhelpqh5x9etgwqkvdpkw"
default_manager.create_secret("routekey", public_key=wrong_pub)
age.register(spark, custom)
r_named = write_encrypted(big, base + "/named", ["payload"], "routekey")
assert r_named == {{"payload": "jvm"}}, r_named
back_named = read_encrypted(spark, base + "/named", ["payload"], "routekey")
assert {{r.id: r.payload for r in back_named.collect()}} == exp_big
# explicit manager= wins over the registered one, on the python route too
r_exp = write_encrypted(small, base + "/explicit", ["payload"], "routekey", manager=custom)
assert r_exp == {{"payload": "python"}}, r_exp
back_exp = read_encrypted(spark, base + "/explicit", ["payload"], "routekey",
                          manager=custom, crypto_path="python")
assert {{r.id: r.payload for r in back_exp.collect()}} == {{r.id: r.payload for r in small.collect()}}
print("ROUTE-MANAGER-OK")
spark.stop()
"""


def test_encrypted_sink_size_based_routing(jar):
    """End-to-end auto-routing with the jar present: 70 KB payloads route
    to the JVM cipher, tiny ones stay on Python, and either file decrypts
    under the OTHER path (same wire format)."""
    script = _ROUTING_SCRIPT.format(repo=REPO, jar=jar, pub=PUB, priv=PRIV)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=REPO, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    for marker in (
        "ROUTE-BIG-JVM-OK",
        "ROUTE-SMALL-PY-OK",
        "ROUTE-CROSS-READ-OK",
        "ROUTE-MANAGER-OK",
    ):
        assert marker in proc.stdout


def test_spark_registered_jvm_udfs_cross_path(jar):
    script = _SPARK_SCRIPT.format(
        repo=REPO, jar=jar, pub=PUB, priv=PRIV, pub2=PUB2, priv2=PRIV2
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=REPO, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "CROSS-PATH-OK" in proc.stdout
    assert "ERRMSG-OK" in proc.stdout
    assert "NAMED-SECRET-OK" in proc.stdout
    assert "MULTI-OK" in proc.stdout
    assert "MULTI-EMPTY-OK" in proc.stdout
    assert "MULTI-ERRMSG-OK" in proc.stdout
    assert "MULTI-PRECEDENCE-OK" in proc.stdout
    # the CSE caveat pin: Python per-call freshness must hold, and on the
    # pinned Spark version Catalyst DOES collapse the unsalted JVM calls —
    # assert the SPECIFIC marker, so a Spark upgrade changing CSE behavior
    # fails this test loudly instead of recording the flip silently
    # (ADVICE r9 low: an either-or assertion is a recorder, not a pin).
    # If a future Spark stops collapsing, the documented caveat in jvm.py /
    # PARITY.md is obsolete — update both alongside this marker.
    assert "CSE-PYTHON-OK" in proc.stdout
    assert "CSE-JVM-COLLAPSED" in proc.stdout, (
        "Catalyst no longer CSE-collapses registerJavaFunction calls — "
        "update the caveat in jvm.py and PARITY.md, then re-pin this marker:\n"
        + proc.stdout[-2000:]
    )
    # fresh=True restores per-call freshness; named plans carry NO key
    # material even with redaction disabled (VERDICT r10 item 3); raw
    # literals stay covered by the shared redaction regex; SQL-surface
    # named dispatch + taxonomy; listener-driven secret rotation
    assert "FRESH-OK" in proc.stdout
    assert "NAMED-NO-LEAK-OK" in proc.stdout
    assert "REDACTION-OK" in proc.stdout
    assert "SQL-NAMED-OK" in proc.stdout
    assert "ROTATION-OK" in proc.stdout
    # the multi-session fingerprint guard and listener hygiene (ADVICE r11)
    assert "MISMATCH-GUARD-OK" in proc.stdout
    assert "MISMATCH-OWN-SESSION-OK" in proc.stdout
    assert "LISTENER-DEDUP-OK" in proc.stdout
    # no-raise regressions must FAIL, not silently print-and-continue
    # (ADVICE r11 low: each expected-error probe prints a NO-* marker on
    # the no-raise path, and only the positive markers were asserted)
    for bad in (
        "NO-ERROR",  # also matches NO-*-ERROR variants below, kept explicit:
        "NO-EMPTY-ERROR",
        "NO-MULTI-ERROR",
        "NO-PRECEDENCE-ERROR",
        "NO-PY-PRECEDENCE-ERROR",
        "NO-NAME-ERROR",
        "NO-MISMATCH-ERROR",
    ):
        assert bad not in proc.stdout, f"expected-error probe did not raise: {bad}"


def test_jvm_registration_lives_on_the_session(monkeypatch):
    """The staged manager and its listener are attributes of the session
    object: two sessions never share an entry, and a dropped session is
    not pinned by module state (no JVM needed — staging is stubbed)."""
    import gc
    import importlib
    import weakref

    from duckdb_age_spark import jvm
    from duckdb_age_spark.secrets import SecretManager

    register_mod = importlib.import_module("duckdb_age_spark.register")
    monkeypatch.setattr(jvm, "_stage_and_register", lambda spark, manager: None)
    monkeypatch.setattr(register_mod, "install_identity_redaction", lambda spark: None)

    class _FakeSpark:
        pass

    a, b, m1, m2 = _FakeSpark(), _FakeSpark(), SecretManager(), SecretManager()
    jvm.register_jvm_crypto(a, m1)
    assert jvm._staged_manager(a) is m1
    assert jvm._staged_manager(b) is None
    jvm.register_jvm_crypto(b, m2)
    assert (jvm._staged_manager(a), jvm._staged_manager(b)) == (m1, m2)
    # re-binding a session moves its one listener to the new manager
    jvm.register_jvm_crypto(a, m2)
    assert jvm._staged_manager(a) is m2 and jvm._staged_manager(b) is m2

    # once the caller drops sessions and managers, nothing keeps them alive
    gone = weakref.ref(a)
    del a, b, m1, m2
    gc.collect()
    assert gone() is None
    assert jvm._staged_manager(_FakeSpark()) is None

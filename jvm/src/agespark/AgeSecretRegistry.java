package agespark;

/**
 * Driver-side staging area for named age secrets on the JVM path.
 *
 * <p>Secret NAMES must never appear resolved in plan text (explain, UI SQL
 * tab, event logs) — VERDICT r10 item 3.  The mechanism that keeps them out:
 * duckdb_age_spark.register.register pushes the Python SecretManager
 * snapshot into this static registry over py4j, then registers the UDF
 * classes.  {@code registerJavaFunction} constructs each UDF instance
 * DRIVER-SIDE via its no-arg constructor — the constructors here snapshot
 * this registry into a plain serializable instance field — and Spark ships
 * that instance to executors inside the serialized task closure.  So the
 * name→key map travels in the binary closure payload, the same channel the
 * Python path's UDF closures use (register.py docstring), and the SQL plan
 * only ever contains the secret NAME literal.
 *
 * <p>Mutation protocol (register.py's one listener per session): any
 * change to the manager re-pushes the snapshot and RE-REGISTERS the three
 * UDFs, because an already-registered UDF instance holds an immutable
 * snapshot.  That makes
 * the statics here pure staging — executors never read them (their copy is
 * the instance field), so this class being per-JVM is correct on a real
 * multi-JVM cluster, not just on local[*].
 */
public final class AgeSecretRegistry {
    private AgeSecretRegistry() {}

    private static final java.util.concurrent.ConcurrentHashMap<String, String> RECIPIENTS =
            new java.util.concurrent.ConcurrentHashMap<>();
    private static final java.util.concurrent.ConcurrentHashMap<String, String> IDENTITIES =
            new java.util.concurrent.ConcurrentHashMap<>();

    /**
     * Fingerprint of the SecretManager this staging came from (ADVICE r11,
     * multi-session hazard): the Python col helpers decide name-passthrough
     * against the ACTIVE session's manager, but a Column can be applied to a
     * DataFrame owned by a DIFFERENT session whose registry was staged from
     * another manager — without a check the name would silently resolve
     * against the wrong manager's key.  The helpers therefore wrap
     * passthrough names as NAME_MARKER + fingerprint + NUL + name, and
     * {@link #unwrapName} fails loudly at execution when the fingerprint
     * does not match the snapshot the executing UDF instance carries.
     * Bare names (users calling age_*_jvm(col, 'name') in SQL directly)
     * skip the check — they bind to the executing session's own staging by
     * construction.
     */
    private static volatile String TOKEN = "";

    /** Leading NUL keeps the marker disjoint from every legal key/name. */
    public static final String NAME_MARKER = "\0age\0";

    public static void setToken(String t) {
        TOKEN = (t == null) ? "" : t;
    }

    static String tokenSnapshot() {
        return TOKEN;
    }

    /**
     * Strip the fingerprint envelope from a passthrough name, verifying it
     * against {@code token} (the registration-time snapshot of the staging
     * fingerprint).  Non-enveloped inputs pass through unchanged.
     */
    static String unwrapName(String keyOrName, String token) {
        if (keyOrName == null || !keyOrName.startsWith(NAME_MARKER)) {
            return keyOrName;
        }
        int sep = keyOrName.indexOf('\0', NAME_MARKER.length());
        if (sep < 0) {
            return keyOrName; // malformed envelope: fall through to dispatch
        }
        String fp = keyOrName.substring(NAME_MARKER.length(), sep);
        String name = keyOrName.substring(sep + 1);
        if (!fp.equals(token)) {
            // mirrors duckdb_age_spark.errors.secret_manager_mismatch
            throw new IllegalArgumentException(
                    "Secret name '" + name + "' was resolved against a different "
                            + "SecretManager than the one this session's JVM crypto "
                            + "is registered with; call register(spark, manager) "
                            + "on the session that executes this plan");
        }
        return name;
    }

    /** Replace-all staging: called over py4j before (re-)registration. */
    public static void clear() {
        RECIPIENTS.clear();
        IDENTITIES.clear();
    }

    /** Stage one secret; either key half may be null (half-defined secrets
     *  are legal in the reference's CREATE SECRET surface). */
    public static void put(String name, String recipient, String identity) {
        if (recipient != null) {
            RECIPIENTS.put(name, recipient);
        } else {
            RECIPIENTS.remove(name);
        }
        if (identity != null) {
            IDENTITIES.put(name, identity);
        } else {
            IDENTITIES.remove(name);
        }
    }

    static java.util.HashMap<String, String> recipientsSnapshot() {
        return new java.util.HashMap<>(RECIPIENTS);
    }

    static java.util.HashMap<String, String> identitiesSnapshot() {
        return new java.util.HashMap<>(IDENTITIES);
    }
}

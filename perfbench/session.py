"""Spark session lifecycle for the benchmark: environment hygiene, the
timed set-up (session start, ``register()``, JVM crypto registration, a warm
Python worker pool), teardown and the peak-memory probe.

Everything the session writes (Spark local dirs, JVM temp files, streaming
checkpoints, the event log) lands under the run's work directory.
"""

from __future__ import annotations

import os
import time

CORES = min(os.cpu_count() or 1, 4)


def scrub_environment(work: str) -> None:
    """Measure library defaults: drop every ``SPARK_GRAFT_*`` override and
    point every temp directory (Python's and the JVM's) into ``work``."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the spark-submit launcher JVM: no /tmp/hsperfdata_* files, temp files in work
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    root = os.getcwd()
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)  # Python workers import the package


def _builder(work: str, jar: str, event_log: str | None):
    from pyspark.sql import SparkSession

    from duckdb_age_spark.conf import apply_recommended_conf

    tmp = os.path.join(work, "tmp")
    b = apply_recommended_conf(
        SparkSession.builder.master(f"local[{CORES}]").appName("perfbench"),
        shuffle_partitions=CORES,
    )
    b = (
        b.config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .config("spark.jars", jar)
        .config("spark.driver.extraClassPath", jar)
        .config("spark.executor.extraClassPath", jar)
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + os.path.abspath(event_log))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    return b


class Session:
    """One timed set-up of the benchmark session and its teardown."""

    def __init__(self, work: str, manager, recipient: str, event_log: str | None = None):
        from pyspark.sql import functions as F

        import duckdb_age_spark as age
        from duckdb_age_spark.jvm import ensure_jar, register_jvm_crypto

        t0 = time.perf_counter()
        self.spark = _builder(work, ensure_jar(), event_log).getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        age.register(self.spark, manager)
        register_jvm_crypto(self.spark, manager)
        # warm the Python worker pool: one pandas-UDF task per core
        (
            self.spark.range(CORES * 4)
            .repartition(CORES)
            .select(F.call_function("age_encrypt", F.lit(b"warm"), F.lit(recipient)))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        self.setup_s = time.perf_counter() - t0

    def cache_empty(self) -> bool:
        """True when Spark's CacheManager holds nothing.  A leaked entry is
        cleared, so it cannot skew the calls that follow."""
        if self.spark._jsparkSession.sharedState().cacheManager().isEmpty():
            return True
        self.spark.catalog.clearCache()
        return False

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def cpu_times() -> list[int]:
    """The machine's aggregate CPU counters from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took (steal) between two samples:
    box weather that slows every timing of the run."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, stack = [], list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every descendant
    (the driver JVM, the Python daemon and its workers), reaped children
    included.  Unlike wall time it does not grow with time the hypervisor
    steals, so it tracks the work a pass does on a shared box."""
    ticks = 0
    for pid in [os.getpid()] + _descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of VmHWM over every descendant of this process (the driver JVM,
    the Python daemon and its workers)."""
    kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0

"""Recommended Spark session configuration for this engine — ONE source of
truth shared by users, bench.py, and the measurement scripts.

Why this module exists (VERDICT r15 item 3): the measured join-planning
baseline (``spark.sql.join.preferSortMergeJoin=false``) lived only in the
bench harness, so the bench measured a session a library user never got.
Publishing the recipe engine-side makes the bench measure what users run,
and keeps bench.py / scripts/qtime.py / scripts/capture_plans.py from
drifting apart (a pinned test asserts they all consume this dict).

Every entry is scale-neutral — the planner/AQE still decides per query from
runtime sizes — or explicitly parameterised:

* ``spark.sql.adaptive.enabled`` + ``coalescePartitions``: the guide's §2.2
  baseline; AQE right-sizes reduce partitions from observed bytes, which is
  what makes a fixed ``shuffle.partitions`` safe across scales.
* ``spark.sql.join.preferSortMergeJoin=false``: the guide §9 baseline.  The
  planner may pick shuffled-hash ONLY when its own per-join size conditions
  hold (build side fits); sort-merge remains the fallback and AQE can still
  rewrite.  Measured r15 at sf0.1: tpch_q9 0.90→0.64 s, tpch_q21
  1.29→0.80 s, join-heavy others neutral.
* ``spark.sql.session.timeZone=UTC``: determinism for timestamp-bucketing
  operators (the oracle pins UTC); not a performance knob.

:func:`apply_recommended_conf` also makes ``file://`` fork-free.  Without
``libhadoop.so``, Hadoop's stock local filesystem starts a ``chmod`` process
for every file and directory it creates and a ``readlink`` process for
every checkpoint and state-store rename (135 and 176 per warm
``operator_jobs`` pass of perfbench; most of a stateful drain's state
commit).  The
``agespark.NioLocalFileSystem`` / ``agespark.NioLocalFs`` classes of the
JVM jar (``jvm/src/agespark``) set the same modes and answer the same link
queries through ``java.nio``, and keep the ``.crc`` checksum files.  The jar
goes on ``spark.jars`` and both ``extraClassPath`` entries; a caller that
later replaces ``spark.driver.extraClassPath`` must keep the jar on it, or
Hadoop cannot load the ``file://`` class.  Without ``javac`` the jar cannot
be built, no entry is added, and the session runs Hadoop's stock classes,
which write the same files with the same modes.

``shuffle_partitions`` is deliberately a PARAMETER, not a constant: local
benches pass the core count (AQE coalescing owns the rest); a cluster
deployment sizes it to fleet parallelism / target partition bytes
(guide §2.2).  Passing ``None`` leaves the session default untouched.
"""

from __future__ import annotations

RECOMMENDED_SESSION_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.session.timeZone": "UTC",
}


def recommended_session_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The recommended conf dict, optionally with an explicit shuffle
    partition count (local mode: the core count; clusters: size to the
    fleet per guide §2.2; ``None``: leave the session default)."""
    conf = dict(RECOMMENDED_SESSION_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(int(shuffle_partitions))
    return conf


def local_fs_conf() -> dict[str, str]:
    """The fork-free ``file://`` entries: the JVM jar on the classpath and
    the two Hadoop filesystem classes; empty when the jar cannot be built."""
    from .jvm import ensure_jar

    try:
        jar = ensure_jar()
    except (RuntimeError, OSError):
        return {}
    return {
        "spark.jars": jar,
        "spark.driver.extraClassPath": jar,
        "spark.executor.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": "agespark.NioLocalFileSystem",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": "agespark.NioLocalFs",
    }


def apply_recommended_conf(builder, shuffle_partitions: int | None = None):
    """Apply the recommended conf and the fork-free ``file://`` entries to a
    ``SparkSession.Builder`` (returns the builder for chaining)."""
    conf = {**recommended_session_conf(shuffle_partitions), **local_fs_conf()}
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder

"""The crypto-path route probe (sources/encrypted._median_payload_bytes):
the lower median payload size over a bounded prefix, taken on the driver."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_age_spark.sources.encrypted import _PROBE_ROWS, _median_payload_bytes


def _percentile_rule(df, columns):
    """The probe's former plan: percentile_approx(0.5) over limit(_PROBE_ROWS)."""
    sample = df.limit(_PROBE_ROWS).select(
        *[F.octet_length(F.col(c).cast("binary")).alias(f"_n{i}") for i, c in enumerate(columns)]
    )
    row = sample.agg(
        *[F.percentile_approx(f"_n{i}", 0.5).alias(f"_n{i}") for i in range(len(columns))]
    ).first()
    return {c: int(row[f"_n{i}"] or 0) for i, c in enumerate(columns)}


@pytest.mark.parametrize(
    "sizes",
    [
        [5, 1, 9, 3, 7],  # odd
        [5, 1, 9, 3, 7, 2],  # even: the lower middle value
        [4, None, 8, None, 1, 6],  # NULLs dropped
        [None, None, None],  # all NULL
        [],  # empty
        [70_000, 10, 70_000, 90_000],  # around the JVM crossover
    ],
)
def test_probe_equals_the_percentile_rule(spark, sizes):
    df = spark.createDataFrame(
        [(None if n is None else "x" * n, None if n is None else b"y" * (n + 1)) for n in sizes],
        "s string, b binary",
    )
    assert _median_payload_bytes(df, ["s", "b"]) == _percentile_rule(df, ["s", "b"])


def test_repeat_probe_compiles_no_code(spark, tmp_path):
    """A second probe of the same parquet frame hits Spark's codegen cache
    (a limit-then-aggregate plan compiles new classes every call)."""
    path = str(tmp_path / "payloads.parquet")
    spark.range(3000).select(F.repeat(F.lit("z"), (F.col("id") % 97).cast("int")).alias("p")).write.parquet(path)
    df = spark.read.parquet(path)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    first = _median_payload_bytes(df, ["p"])
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    assert _median_payload_bytes(df, ["p"]) == first
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before

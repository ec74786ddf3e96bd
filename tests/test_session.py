"""``local_rows_df``: driver-side rows → a local relation that is JVM
data from the start — same rows and schema as
``spark.createDataFrame(rows, schema)``, but no Python worker runs
when the frame is evaluated, and reading it back launches no job."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
    local_rows_df,
)

MIXED_DDL = "s string, i int, l long, v array<double>"
MIXED_ROWS = [
    ("a", 1, 2**40, [1.0, 2.5]),
    (None, None, None, None),
    ("b", -3, -(2**62), []),
    ("c", 7, 0, [None, 0.25]),
]
PYTHON_NODES = ("PythonRDD", "applySchemaToPythonRDD", "BatchEvalPython")


def _python_nodes(df) -> list[str]:
    """Python-evaluated nodes in the executed plan or its RDD lineage
    (a Python-sourced frame shows up only in the lineage)."""
    df.collect()
    qe = df._jdf.queryExecution()  # noqa: SLF001
    text = qe.executedPlan().toString() + qe.toRdd().toDebugString()
    return [n for n in PYTHON_NODES if n in text]


def _collect_jobs(spark, df) -> tuple[list, list]:
    """``df.collect()`` and the Spark job ids it launched."""
    sc = spark.sparkContext
    sc.setJobGroup("local_rows_df_collect", "local_rows_df_collect")
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return rows, sc.statusTracker().getJobIdsForGroup("local_rows_df_collect")


def _check(spark, rows, schema):
    got = local_rows_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.isLocal()
    assert _collect_jobs(spark, got) == (want.collect(), [])
    assert _python_nodes(got) == []
    return got


def test_local_rows_df_mixed_schema_with_nulls(spark):
    _check(spark, MIXED_ROWS, MIXED_DDL)
    # the detector detects: the parallelize path evaluates in Python
    assert _python_nodes(spark.createDataFrame(MIXED_ROWS, MIXED_DDL))


def test_local_rows_df_from_collected_rows(spark):
    """``Row`` inputs with the source frame's StructType — the
    collect-and-rebuild pattern of the IVF centroid tables."""
    src = spark.createDataFrame(MIXED_ROWS, MIXED_DDL)
    rows = src.collect()
    got = _check(spark, rows, src.schema)
    assert got.collect() == rows


@pytest.mark.parametrize("schema", [
    MIXED_DDL,
    T.StructType([T.StructField("term", T.StringType())]),
])
def test_local_rows_df_empty(spark, schema):
    got = _check(spark, [], schema)
    assert got.count() == 0


@pytest.mark.parametrize("n", [0, 1, 32])
def test_local_rows_df_stays_local(spark, n):
    """Frames of 0, 1 and 32 rows stay local relations: reading one
    back launches no job, whatever its row count."""
    rows = [(f"q{i}", f"text {i}") for i in range(n)]
    _check(spark, rows, "query_id string, text string")

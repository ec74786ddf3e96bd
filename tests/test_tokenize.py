"""Tokenizer: the three dialects (Python, Spark JVM expr, pandas UDF,
DuckDB SQL) must agree exactly — the determinism contract of
SURVEY §2.7 C5."""

from __future__ import annotations

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    DUCKDB_TOKENS_SQL,
    tokenize_py,
    tokenize_udf,
    tokens_col,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
    query_terms,
)

SAMPLES = [
    "def foo(bar): return bar + 1",
    "  leading and trailing  ",
    "",
    "UPPER lower MiXeD 123abc 456",
    "unicode: héllo wörld",  # non-ascii letters are separators
    "a-b_c.d/e\\f",
    "tabs\tand\nnewlines",
]


def test_python_tokenizer_basics():
    assert tokenize_py("def foo(bar): return bar + 1") == [
        "def", "foo", "bar", "return", "bar", "1",
    ]
    assert tokenize_py("") == []
    assert tokenize_py(None) == []
    assert tokenize_py("héllo") == ["h", "llo"]


def test_spark_expr_matches_python(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": SAMPLES}))
    got = [r["toks"] for r in
           df.select(tokens_col("text").alias("toks")).collect()]
    assert got == [tokenize_py(s) for s in SAMPLES]


def test_pandas_udf_matches_python(spark):
    df = spark.createDataFrame(pd.DataFrame({"text": SAMPLES}))
    got = [r["toks"] for r in
           df.select(tokenize_udf(F.col("text")).alias("toks")).collect()]
    assert got == [tokenize_py(s) for s in SAMPLES]


def test_duckdb_sql_matches_python():
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"text": SAMPLES}))
    expr = DUCKDB_TOKENS_SQL.format(col="text")
    got = con.sql(f"SELECT {expr} AS toks FROM t").df()["toks"].tolist()
    assert [list(g) for g in got] == [tokenize_py(s) for s in SAMPLES]


def test_query_terms_match_python(spark):
    """Query side: the JVM ``query_terms`` (the grouped WAND and brute
    paths) must yield exactly the distinct ``tokenize_py`` terms, in
    order, that the driver WAND path computes — a None text included."""
    texts = SAMPLES + [None]
    df = spark.createDataFrame(
        pd.DataFrame({"query_id": [f"q{i}" for i in range(len(texts))],
                      "text": texts})
    )
    got = [(r["query_id"], r["term"]) for r in query_terms(df).collect()]
    assert got == [(f"q{i}", t) for i, s in enumerate(texts)
                   for t in dict.fromkeys(tokenize_py(s))]

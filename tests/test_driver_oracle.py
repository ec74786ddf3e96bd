"""Simulates the driver's correctness gate: every ``queries()`` entry
run on Spark at sf0.01 must equal its ``oracle_sql()`` twin run on
DuckDB — row count, column names, and values (order-insensitive)."""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: SLF001


@pytest.fixture(scope="module", autouse=True)
def persisted_before(spark) -> set[int]:
    """RDD ids persisted before this module's battery runs."""
    return _persisted_rdd_ids(spark)


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Mirror of the driver's canonicalization — STRICTER than a
    tolerant frame-compare on purpose:

    - list/ndarray cells are REJECTED (the real driver crashes on them
      — round-1 dedup_exact: "unhashable type: 'list'"), not converted;
    - dtypes are preserved, so an int64-vs-float64 divergence (DuckDB
      HUGEINT sum → float64 after pandas) fails here like the driver's
      typed value-hash does, instead of being masked by
      check_dtype=False.
    """
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            bad = df[c].map(lambda v: isinstance(v, (list, np.ndarray)))
            if bad.any():
                raise TypeError(
                    f"column {c!r} contains list cells — the driver's "
                    f"canonicalizer cannot hash these; serialize to a "
                    f"scalar (e.g. concat_ws) in BOTH dialects"
                )
    return (
        df.sort_values(by=list(df.columns), ignore_index=True)
        if len(df) else df
    )


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, ddb, name):
    _assert_matches_oracle(spark, ddb, name)


def _assert_matches_oracle(spark, ddb, name):
    fn = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    got = _normalize(fn(spark, SF_DIR).toPandas())
    assert len(got) >= 0
    if sql is None:
        pytest.skip(f"{name}: rows-only check (no SQL oracle)")
    want = _normalize(ddb.sql(sql).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != {list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: {len(got)} rows != {len(want)}"
    # dtype KIND must agree (int vs float flips the driver's typed
    # value-hash even when values are equal — the round-1 HUGEINT bug)
    for c in got.columns:
        gk, wk = got[c].dtype.kind, want[c].dtype.kind
        assert gk == wk or {gk, wk} <= {"O", "U"}, (
            f"{name}.{c}: dtype kind {gk!r} != oracle {wk!r} "
            f"({got[c].dtype} vs {want[c].dtype}) — cast the oracle "
            f"(e.g. CAST(sum(...) AS BIGINT))"
        )
    pd.testing.assert_frame_equal(
        got, want, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert {"query_id", "rank", "doc_id"} <= set(df.columns)


def test_close_releases_battery_state(spark, ddb, persisted_before):
    """After every registry row: ``OWNER.release()`` alone leaves no
    RDD the battery persisted (no fixture holds a persist — the index
    fixtures are on disk), ``OWNER.close()`` removes every registry
    temp dir, and a fixture-backed row run FIRST on the fresh owner
    (its layered index rebuilt from nothing) still equals its
    oracle."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        OWNER,
    )

    dirs = OWNER.tmpdirs
    assert dirs
    OWNER.release()
    assert _persisted_rdd_ids(spark) - persisted_before == set()
    OWNER.close()
    assert _persisted_rdd_ids(spark) - persisted_before == set()
    assert [d for d in dirs if os.path.exists(d)] == []
    _assert_matches_oracle(spark, ddb, "wand_layered")

"""Rank-identity end-to-end gate (SURVEY §5.2, the north rule's core
check): the Spark engine's BM25 top-k must match the single-node
pandas oracle in docIDs AND scores, rank by rank, over the
deterministic synthetic corpus; query classes (verbatim / noisy / nil)
must resolve as FIXTURES.md §2 specifies."""

from __future__ import annotations

import math

import pytest

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
    bm25_topk,
    decide,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.oracle import (
    OracleIndex,
    oracle_topk_frame,
)

K = 10
THRESHOLD = 2.0


def _segment_index(spark, corpus, index_dir, n_buckets):
    build_segment_index(spark, corpus, index_dir, n_buckets=n_buckets,
                        hot_df=8, block_size=16)
    return SegmentIndex.open(spark, index_dir)


@pytest.fixture(scope="module")
def built(spark, corpus_df, corpus_pdf, tmp_path_factory):
    ids = with_doc_id(corpus_df)
    index = _segment_index(spark, ids, str(tmp_path_factory.mktemp("rank")),
                           n_buckets=4)
    id_map = ids.select("repo", "path", "commit", "doc_id").toPandas()
    oracle_docs = corpus_pdf.merge(id_map, on=["repo", "path", "commit"])
    oracle = OracleIndex.build(oracle_docs, id_col="doc_id", text_col="content")
    return index, oracle, id_map


def test_engine_matches_oracle_rank_identical(built, queries_df, queries_pdf):
    index, oracle, _ = built
    got = (
        bm25_topk(index, queries_df, k=K)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    want = oracle_topk_frame(oracle, queries_pdf, k=K)
    assert len(got) == len(want), "row counts differ"
    for (_, g), (_, w) in zip(got.iterrows(), want.iterrows()):
        assert g["query_id"] == w["query_id"]
        assert g["rank"] == w["rank"]
        assert g["doc_id"] == w["doc_id"], (
            f"{g['query_id']} rank {g['rank']}: {g['doc_id']} != {w['doc_id']}"
        )
        assert math.isclose(g["score"], w["score"], rel_tol=1e-9, abs_tol=1e-12)


def test_query_classes_resolve_correctly(built, queries_df, queries_pdf):
    """verbatim + noisy → expected doc at rank 1 above threshold;
    nil → no candidate above threshold (Nil semantics, Matching.py:127)."""
    index, _, id_map = built
    # collect() not toPandas(): nullable int64 doc_ids must not take a
    # float64 round-trip (precision loss above 2^53)
    decisions = {
        r["query_id"]: r
        for r in decide(
            bm25_topk(index, queries_df, k=K), queries_df, threshold=THRESHOLD
        ).collect()
    }
    key2id = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for _, r in id_map.iterrows()
    }
    for _, q in queries_pdf.iterrows():
        d = decisions[q["query_id"]]
        if q["query_class"] == "nil":
            assert d["matched_doc_id"] is None, (
                f"{q['query_id']} (nil) matched {d['matched_doc_id']}"
            )
        else:
            expected = key2id[
                (q["expected_repo"], q["expected_path"], q["expected_commit"])
            ]
            assert int(d["matched_doc_id"]) == expected, (
                f"{q['query_id']} ({q['query_class']}) matched "
                f"{d['matched_doc_id']}, expected {expected}"
            )


def test_rank_stable_across_partitioning(spark, built, corpus_df,
                                        queries_df, tmp_path):
    """The index's bucket count (how its postings are partitioned on
    disk and across tasks) must not change results (determinism
    contract, SURVEY §7 hard part (a))."""
    index, _, _ = built
    idx13 = _segment_index(spark, with_doc_id(corpus_df),
                           str(tmp_path / "b13"), n_buckets=13)

    def ranked(idx):
        return [
            (r["query_id"], r["rank"], r["doc_id"])
            for r in bm25_topk(idx, queries_df, k=K)
            .orderBy("query_id", "rank").collect()
        ]

    a = ranked(index)
    assert a and ranked(idx13) == a


def test_compat_mode_diverges_from_engine_mode(spark):
    """Constructed case where the reference's first-above-threshold-in-
    candidate-count-order decision (Matching.py:122-131) picks a
    DIFFERENT doc than engine-mode global best: d2 (2 shared terms,
    score 2.5) is scanned before d3 (1 shared term, score 9.9) and
    crosses the threshold first — the reference breaks there and never
    evaluates d3."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
        decide,
        decide_compat,
    )

    scores = spark.createDataFrame(
        [("q", 1, 1.0, 3), ("q", 2, 2.5, 2), ("q", 3, 9.9, 1)],
        "query_id string, doc_id long, score double, matched_terms long",
    )
    queries = spark.createDataFrame([("q", "x")], "query_id string, text string")

    compat = decide_compat(scores, queries, threshold=2.0).collect()[0]
    assert compat["matched_doc_id"] == 2  # first passing in count order
    # running max_so_far over candidates scanned BEFORE the break = d1
    assert compat["second_doc_id"] == 1 and compat["second_score"] == 1.0
    assert compat["n_candidates"] == 3

    # engine mode: global best d3
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    topk = scores.withColumn("rank", F.row_number().over(w))
    engine = decide(topk, queries, threshold=2.0).collect()[0]
    assert engine["matched_doc_id"] == 3
    assert engine["matched_doc_id"] != compat["matched_doc_id"]

    # no-match case: second = best-scoring candidate overall
    nil = decide_compat(scores, queries, threshold=99.0).collect()[0]
    assert nil["matched_doc_id"] is None
    assert nil["second_doc_id"] == 3 and nil["second_score"] == 9.9


def test_per_query_class_thresholds(spark):
    """A (query_id, threshold) frame in place of the scalar: the same
    scores must flip match/Nil per class, and per_query_thresholds
    must class by token count — the reference's short/long threshold
    switch (conf.py:173-175) as a broadcast dim frame."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
        decide_compat,
        per_query_thresholds,
    )

    queries = spark.createDataFrame(
        [("qs", "one two"), ("ql", "one two three four five six seven")],
        "query_id string, text string",
    )
    thr = per_query_thresholds(queries, short_threshold=1.0,
                               long_threshold=5.0, max_short_tokens=5)
    tmap = {r["query_id"]: r["threshold"] for r in thr.collect()}
    assert tmap == {"qs": 1.0, "ql": 5.0}

    topk = spark.createDataFrame(
        [("qs", 1, 10, 3.0), ("ql", 1, 20, 3.0)],
        "query_id string, rank int, doc_id long, score double",
    )
    out = {r["query_id"]: r for r in decide(topk, queries, thr).collect()}
    assert out["qs"]["matched_doc_id"] == 10      # 3.0 > short 1.0
    assert out["ql"]["matched_doc_id"] is None    # 3.0 < long 5.0
    # scalar path unchanged
    out2 = {r["query_id"]: r for r in decide(topk, queries, 2.0).collect()}
    assert out2["qs"]["matched_doc_id"] == 10
    assert out2["ql"]["matched_doc_id"] == 20

    scores = spark.createDataFrame(
        [("qs", 10, 3.0, 2), ("ql", 20, 3.0, 2)],
        "query_id string, doc_id long, score double, matched_terms int",
    )
    oc = {r["query_id"]: r
          for r in decide_compat(scores, queries, thr).collect()}
    assert oc["qs"]["matched_doc_id"] == 10
    assert oc["ql"]["matched_doc_id"] is None


def test_global_rank_matches_window_and_handles_edges(spark):
    """The distributed total-order operator (`global_rank`,
    operators/topk.py) must agree with the unpartitioned-window truth
    on a multi-partition input — including duplicate score groups
    (tie-broken by id, the engine-wide contract) — and survive the
    empty input."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
        global_rank,
    )

    n = 5_000
    df = (
        spark.range(n)
        .withColumn("score", (F.col("id") % 97).cast("double"))
        .repartition(16)
    )
    order = [F.col("score").desc(), F.col("id").asc()]
    got = {
        r["id"]: r["rank_global"]
        for r in global_rank(df, order, n_partitions=8).collect()
    }
    want = {
        r["id"]: r["rg"]
        for r in df.withColumn(
            "rg", F.row_number().over(Window.orderBy(*order)).cast("long")
        ).collect()
    }
    assert got == want
    # rank column name + type survive; empty input yields empty output
    empty = global_rank(df.filter(F.lit(False)), order)
    assert empty.schema["rank_global"].dataType.typeName() == "long"
    assert empty.count() == 0

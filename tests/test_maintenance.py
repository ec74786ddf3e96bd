"""Incremental maintenance: upsert overwrites by key, delete removes
(+ drops empty terms), missing delete keys are skipped, rollback
restores exact pre-update results — the wav_add/wav_delete fixture
semantics (SURVEY §5.3, Hashing_update.py analog). After every
update, query results must be rank-identical to the pandas oracle
over the equivalently-mutated corpus."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
    compact,
    restore,
    snapshot_log,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
    segment_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.oracle import (
    OracleIndex,
    oracle_topk_frame,
)

K = 10


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("maintidx"))


@pytest.fixture(scope="module")
def state(spark, corpus_pdf, corpus_df, index_dir):
    corpus = with_doc_id(corpus_df)
    build_segment_index(spark, corpus, index_dir, n_buckets=4, hot_df=8,
                        block_size=16)
    id_map = corpus.select("repo", "path", "commit", "doc_id").toPandas()
    oracle_docs = corpus_pdf.merge(id_map, on=["repo", "path", "commit"])
    return corpus, oracle_docs


def _oracle_for(spark, docs_pdf):
    return OracleIndex.build(docs_pdf, id_col="doc_id", text_col="content")


def _assert_matches_oracle(spark, index_dir, docs_pdf, queries_df, queries_pdf):
    seg = SegmentIndex.open(spark, index_dir)
    got = (
        segment_topk(seg, queries_df, k=K).orderBy("query_id", "rank").collect()
    )
    want = oracle_topk_frame(_oracle_for(spark, docs_pdf), queries_pdf, k=K)
    assert len(got) == len(want), f"{len(got)} != {len(want)}"
    for g, (_, w) in zip(got, want.iterrows()):
        assert g["query_id"] == w["query_id"] and g["rank"] == w["rank"]
        assert g["doc_id"] == w["doc_id"]
        assert math.isclose(g["score"], w["score"], rel_tol=1e-9, abs_tol=1e-12)


def test_upsert_then_delete_matches_oracle(
    spark, state, index_dir, update_fixtures, queries_df, queries_pdf
):
    corpus, oracle_docs = state
    add_pdf, del_pdf = update_fixtures

    # ---- upsert: 2 overwrites + 3 new docs ----------------------------
    add_df = spark.createDataFrame(add_pdf)
    rep = apply_updates(spark, index_dir, add_corpus=add_df)
    assert rep.snapshot_version == 2
    assert rep.n_docs == len(oracle_docs) + 3  # overwrites don't grow N

    add_ids = with_doc_id(add_df).select("repo", "path", "commit", "doc_id").toPandas()
    add_with_ids = add_pdf.merge(add_ids, on=["repo", "path", "commit"])
    docs_v2 = (
        oracle_docs[~oracle_docs["doc_id"].isin(add_with_ids["doc_id"])]
        .pipe(lambda d: __import__("pandas").concat([d, add_with_ids],
                                                    ignore_index=True))
    )
    _assert_matches_oracle(spark, index_dir, docs_v2, queries_df, queries_pdf)

    # overwritten content must be searchable, old content gone
    seg = SegmentIndex.open(spark, index_dir)
    mark = spark.createDataFrame(
        [("qm", "rewritten0mark")], "query_id string, text string"
    )
    hits = segment_topk(seg, mark, k=3).collect()
    assert len(hits) == 1  # exactly the rewritten doc

    # ---- delete: 2 existing + 1 ghost key (skipped) -------------------
    del_df = spark.createDataFrame(del_pdf)
    rep2 = apply_updates(spark, index_dir, delete_keys=del_df)
    assert rep2.snapshot_version == 3
    assert rep2.n_docs == rep.n_docs - 2  # ghost key ignored

    del_ids = with_doc_id(del_df).select("doc_id").toPandas()["doc_id"]
    docs_v3 = docs_v2[~docs_v2["doc_id"].isin(set(del_ids))]
    _assert_matches_oracle(spark, index_dir, docs_v3, queries_df, queries_pdf)

    # deleted docs' unique terms must yield zero candidates
    deleted_uniq = [f"uniq{i:05d}doc" for i in (2, 3)]
    q = spark.createDataFrame(
        [("qd", " ".join(deleted_uniq))], "query_id string, text string"
    )
    seg3 = SegmentIndex.open(spark, index_dir)
    assert segment_topk(seg3, q, k=3).count() == 0

    # ---- rollback ------------------------------------------------------
    restore(index_dir, 1)
    _assert_matches_oracle(spark, index_dir, oracle_docs, queries_df, queries_pdf)
    restore(index_dir, 3)
    _assert_matches_oracle(spark, index_dir, docs_v3, queries_df, queries_pdf)

    log = snapshot_log(index_dir)
    assert [s["version"] for s in log] == [1, 2, 3]
    assert log[1]["operation"] == "update_rebuild" and log[1]["parent"] == 1


def test_update_touches_only_affected_buckets(spark, state, index_dir):
    """The inherited buckets of the current snapshot must point at
    prior-generation paths (no rewrite of untouched data)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        read_snapshot,
    )

    snap = read_snapshot(index_dir)
    gens = {v["segments"].split("/")[1] for v in snap["buckets"].values()}
    # at least one bucket still served from an older generation OR the
    # update genuinely touched all buckets — with 4 buckets and a tiny
    # delete delta, inheritance must occur
    assert any(g == "seg_init" or g.startswith("seg_u") for g in gens)
    assert len(gens) >= 1


def test_explicit_ids_update_matches_oracle(spark, corpus_pdf,
                                            tmp_path_factory):
    """Bring-your-own doc ids (round 5): an index built with an
    explicit id_col accepts delta updates carrying the same ids —
    overwrites tombstone the OLD id's postings, deletes remove by id,
    and layered results are rank-identical to the oracle over the
    mutated corpus under the caller's id order (tie-breaks included).
    """
    import pandas as pd

    d = str(tmp_path_factory.mktemp("explicitids"))
    pdf = corpus_pdf.iloc[:50].copy().reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64") * 10  # caller's own ids
    base = pdf.iloc[:40]
    build_segment_index(spark, spark.createDataFrame(base), d,
                        n_buckets=4, hot_df=8, block_size=16)

    over = pdf.iloc[[0, 1]].copy()
    over["content"] = ["explicit overwrite alpha alpha",
                       "explicit overwrite beta"]
    add = pd.concat([over, pdf.iloc[40:50]], ignore_index=True)
    apply_updates(spark, d, add_corpus=spark.createDataFrame(add),
                  mode="delta", explicit_ids=True)
    apply_updates(
        spark, d,
        delete_keys=spark.createDataFrame(pdf.iloc[[5]][["doc_id"]]),
        mode="delta", explicit_ids=True,
    )

    final = pdf.copy()
    final.loc[0, "content"] = add.iloc[0]["content"]
    final.loc[1, "content"] = add.iloc[1]["content"]
    final = final.drop(index=[5]).reset_index(drop=True)

    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        make_queries,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )

    qpdf = make_queries(final, n_queries=6, seed=3)
    qdf = spark.createDataFrame(qpdf[["query_id", "text"]])
    idx = SegmentIndex.open(spark, d)
    assert idx.has_deltas
    want = oracle_topk_frame(_oracle_for(spark, final), qpdf, k=K)
    for res in (segment_topk(idx, qdf, k=K),
                wand_topk(idx, qdf, k=K)):
        got = res.orderBy("query_id", "rank").collect()
        assert len(got) == len(want)
        for g, (_, w) in zip(got, want.iterrows()):
            assert (g["query_id"], g["rank"], g["doc_id"]) == (
                w["query_id"], w["rank"], w["doc_id"])
            assert g["score"] == pytest.approx(w["score"], rel=1e-9)


def test_explicit_ids_requires_doc_id_column(spark, corpus_pdf,
                                             tmp_path_factory):
    d = str(tmp_path_factory.mktemp("explicitids_bad"))
    pdf = corpus_pdf.iloc[:10].copy().reset_index(drop=True)
    pdf["doc_id"] = pdf.index.astype("int64")
    build_segment_index(spark, spark.createDataFrame(pdf), d,
                        n_buckets=2, hot_df=8, block_size=16)
    no_id = corpus_pdf.iloc[10:12][["repo", "path", "commit", "lang",
                                    "content"]]
    with pytest.raises(ValueError, match="doc_id"):
        apply_updates(spark, d,
                      add_corpus=spark.createDataFrame(no_id),
                      mode="delta", explicit_ids=True)


# Spark jobs each write path launched on this fixture (the session's
# 50-doc corpus, 4 buckets, positions stored) when the build, the
# delta update and the merge came to stage through ``stage_corpus``
# and commit through ``commit_generation``: the build, a delta-mode add
# batch on it, a delete batch on the layered result, then compact() of
# both layers. perfbench's set-up runs two builds and a delta update,
# so these host-independent counts guard it. A write may launch fewer
# jobs, never more.
WRITE_PATH_JOBS = {"build": 11, "add": 18, "delete": 6, "compact": 19}


def test_delta_update_job_counts(spark, corpus_df, update_fixtures,
                                 tmp_path):
    d = str(tmp_path / "idx")
    corpus = with_doc_id(corpus_df)
    add_pdf, del_pdf = update_fixtures
    add, dele = spark.createDataFrame(add_pdf), spark.createDataFrame(del_pdf)
    writes = {
        "build": lambda: build_segment_index(
            spark, corpus, d, n_buckets=4, hot_df=8, block_size=16,
            store_positions=True,
        ),
        "add": lambda: apply_updates(spark, d, mode="delta", add_corpus=add),
        "delete": lambda: apply_updates(spark, d, mode="delta",
                                        delete_keys=dele),
        "compact": lambda: compact(spark, d),
    }
    jobs = {}
    for name, write in writes.items():
        rep, ids = _count_jobs(spark, f"write_path_jobs_{name}", write)
        assert rep.snapshot_version is not None
        jobs[name] = len(ids)
    assert all(
        0 < jobs[name] <= bound for name, bound in WRITE_PATH_JOBS.items()
    ), (jobs, WRITE_PATH_JOBS)


def test_local_frame_delta_update_writes_one_file_per_bucket(
        spark, corpus_df, update_fixtures, tmp_path):
    """A delta update fed by driver-held ``local_rows_df`` frames (a
    local relation scans as several partitions) stages its layer with
    one writer task: one doc_terms file per touched bucket and one
    doc_lens file."""
    import os

    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        local_rows_df,
    )

    def files(path):
        return [f for f in os.listdir(path) if f.endswith(".parquet")]

    d = str(tmp_path / "idx")
    build_segment_index(spark, with_doc_id(corpus_df), d, n_buckets=4,
                        hot_df=8, block_size=16)
    add_pdf, del_pdf = update_fixtures
    add = local_rows_df(spark, list(add_pdf.itertuples(index=False)),
                        ", ".join(f"{c} string" for c in add_pdf.columns))
    dele = local_rows_df(spark, list(del_pdf.itertuples(index=False)),
                         "repo string, path string, commit string")
    assert add.isLocal() and add.rdd.getNumPartitions() > 1
    rep = apply_updates(spark, d, mode="delta", add_corpus=add,
                        delete_keys=dele)
    gen = f"u{rep.snapshot_version}"
    assert rep.affected_buckets
    assert {b: len(files(f"{d}/data/dt_{gen}/bucket={b}"))
            for b in rep.affected_buckets} == \
        {b: 1 for b in rep.affected_buckets}
    assert len(files(f"{d}/data/dl_{gen}")) == 1


# Spark jobs the vector layouts' paths launched on 300 random 16-d
# vectors (``vec_id % 7`` re-added reversed, ``vec_id % 11`` deleted):
# building a probe frame on a fresh layout and on one with an upsert
# generation (0: the planes and centroid paths come from the snapshot
# JSON, and every scan carries its schema), one ``vector_upsert`` and
# one ``vector_compact``, per layout kind (its writer evaluates the
# resolved generations once, persisted across the fan-out count and
# the salted write). A path may launch fewer jobs, never more; a probe
# frame launches none.
VECTOR_PATH_JOBS = {
    "lsh": {"probe_fresh": 0, "upsert": 2, "probe_delta": 0, "compact": 9},
    "ivf": {"probe_fresh": 0, "upsert": 3, "probe_delta": 0, "compact": 9},
}


def test_vector_path_job_counts(spark, tmp_path):
    import numpy as np

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
        similarity,
    )

    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(300),
        "embedding": [[float(x) for x in np.random.RandomState(i).normal(
            size=16)] for i in range(300)],
    }))
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.concat(F.lit("v"), F.col("vec_id")).alias("query_id"),
        F.col("embedding").alias("qvec"),
    )
    adds = emb.filter(F.col("vec_id") % 7 == 0).withColumn(
        "embedding", F.reverse("embedding"))
    dels = emb.filter(F.col("vec_id") % 11 == 0).select("vec_id")
    jobs = {}
    for kind in VECTOR_PATH_JOBS:
        d = str(tmp_path / kind)
        getattr(similarity, f"{kind}_persist")(emb, d)
        topk = getattr(similarity, f"{kind}_topk_persisted")
        steps = {
            "probe_fresh": lambda: topk(spark, d, qs, k=5),
            "upsert": lambda: similarity.vector_upsert(
                spark, d, add=adds, delete_ids=dels),
            "probe_delta": lambda: topk(spark, d, qs, k=5),
            "compact": lambda: similarity.vector_compact(spark, d),
        }
        jobs[kind] = {
            step: len(_count_jobs(spark, f"vector_jobs_{kind}_{step}", fn)[1])
            for step, fn in steps.items()
        }
    for kind, bounds in VECTOR_PATH_JOBS.items():
        assert jobs[kind]["probe_fresh"] == jobs[kind]["probe_delta"] == 0, jobs
        assert all(
            0 < jobs[kind][s] <= bounds[s] for s in ("upsert", "compact")
        ), (jobs, VECTOR_PATH_JOBS)


def _count_jobs(spark, group: str, fn):
    """``fn()``'s result and the Spark job ids it launched, by job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


# Spark jobs a WAND request launched on the same fixture, counted the
# same way (call and collect): one query from a one-row local frame on
# the fresh build; the same on the layered snapshot after the add and
# delete batches, once its tombstone arrays exist (the first call,
# which builds them, is counted too and launches none either); a
# 32-query batch from a ``local_rows_df`` frame, which the driver still
# answers (32 × ~60 docs is inside the query·doc budget); and a local
# frame one row past the placement rule's cap, which keeps the grouped
# path's broadcast build, scan + shuffle and kernel. A driver-placed
# request reads its posting rows and the tombstones through Arrow, so
# it launches no job.
WAND_QUERY_JOBS = {"single": 0, "single_layered": 0, "batch_32": 0,
                   "over_limit": 3}


def test_wand_query_job_counts(spark, corpus_pdf, corpus_df, update_fixtures,
                               tmp_path, monkeypatch):
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
        wand,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        local_rows_df,
    )

    d = str(tmp_path / "idx")
    build_segment_index(spark, with_doc_id(corpus_df), d, n_buckets=4,
                        hot_df=8, block_size=16)
    text = " ".join(corpus_pdf["content"].iloc[10].split()[:6])
    one = local_rows_df(spark, [("q1", text)], "query_id string, text string")
    words = corpus_pdf["content"].str.split()
    batch = local_rows_df(
        spark, [(f"b{i}", " ".join(words.iloc[i][:6])) for i in range(32)],
        "query_id string, text string")
    # the kernel runs in this process on the driver path, never in a
    # Python worker
    kernel_calls = []
    real_kernel = wand._kernel  # noqa: SLF001
    monkeypatch.setattr(wand, "_kernel", lambda *a: (
        kernel_calls.append(1), real_kernel(*a))[1])

    def single(idx, frame=one):
        res = wand.wand_topk(idx, frame, k=3)
        rows = res.collect()
        assert res.isLocal() and rows
        return rows

    jobs = {}
    _, jobs["single"] = _count_jobs(
        spark, "wand_jobs_single", lambda: single(SegmentIndex.open(spark, d)))
    assert kernel_calls == [1]
    add_pdf, del_pdf = update_fixtures
    apply_updates(spark, d, mode="delta",
                  add_corpus=spark.createDataFrame(add_pdf))
    apply_updates(spark, d, mode="delta",
                  delete_keys=spark.createDataFrame(del_pdf))
    layered = SegmentIndex.open(spark, d)
    assert layered.has_deltas
    _, first_layered = _count_jobs(
        spark, "wand_jobs_first_layered", lambda: single(layered))
    assert first_layered == []
    assert layered.tombstone_arrays() is not None
    _, jobs["single_layered"] = _count_jobs(
        spark, "wand_jobs_single_layered", lambda: single(layered))
    assert kernel_calls == [1, 1, 1]
    assert 32 <= wand.driver_max_queries(layered.n_docs)
    rows, jobs["batch_32"] = _count_jobs(
        spark, "wand_jobs_batch_32", lambda: single(layered, batch))
    assert kernel_calls == [1, 1, 1, 1]
    assert len({r["query_id"] for r in rows}) == 32
    n_over = wand.driver_max_queries(layered.n_docs) + 1
    over = spark.createDataFrame(pd.DataFrame(
        {"query_id": [f"q{i}" for i in range(n_over)], "text": [text] * n_over}
    ))
    assert over.isLocal()
    _, jobs["over_limit"] = _count_jobs(
        spark, "wand_jobs_over_limit",
        lambda: wand.wand_topk(layered, over, k=3).collect())
    assert kernel_calls == [1, 1, 1, 1]
    sc = spark.sparkContext
    stages = {name: [len(sc.statusTracker().getJobInfo(j).stageIds)
                     for j in ids] for name, ids in jobs.items()}
    counts = {name: len(ids) for name, ids in jobs.items()}
    assert counts == WAND_QUERY_JOBS, (counts, stages)
    # a driver-placed request runs no job at all
    assert stages["single"] == stages["single_layered"] == \
        stages["batch_32"] == [], stages


def test_local_query_frame_reads_as_one_partition(spark, corpus_pdf,
                                                  corpus_df, tmp_path):
    """A 32-row ``local_rows_df`` frame scans as up to
    ``defaultParallelism`` partitions; the brute spine and ``decide``
    read it as one, so they launch the same jobs, stages and exchanges
    as on the frame's ``.coalesce(1)`` and return the same rows."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
        decide,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        count_shuffles,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        local_rows_df,
    )

    d = str(tmp_path / "idx")
    build_segment_index(spark, with_doc_id(corpus_df), d, n_buckets=4,
                        hot_df=8, block_size=16)
    idx = SegmentIndex.open(spark, d)
    words = corpus_pdf["content"].str.split()
    batch = local_rows_df(
        spark, [(f"b{i}", " ".join(words.iloc[i][:6])) for i in range(32)],
        "query_id string, text string")
    assert batch.isLocal()
    sc = spark.sparkContext
    shape = {}
    for name, frame in (("local", batch), ("coalesced", batch.coalesce(1))):
        top = segment_topk(idx, frame, k=3)
        dec = decide(top, frame, threshold=0.0)
        for op, df in (("segment_topk", top), ("decide", dec)):
            rows, ids = _count_jobs(spark, f"local_frame_{name}_{op}",
                                    df.collect)
            shape[name, op] = (
                sorted(map(tuple, rows)),
                [len(sc.statusTracker().getJobInfo(j).stageIds) for j in ids],
                count_shuffles(df),
            )
    for op in ("segment_topk", "decide"):
        assert shape["local", op] == shape["coalesced", op], (
            op, shape["local", op][1:], shape["coalesced", op][1:])

"""Merge-on-read delta layers + multi-way sorted merge compaction.

The contract under test (SURVEY §7 step 4's 'multiway sorted merge of
segments', the reference's consolidation step ``Combine.py:55-62`` and
Lucene's segment merge):

- ``apply_updates(mode="delta")`` writes ONLY the update's postings
  (a new layer) + a tombstone set — base buckets are never rewritten;
- layered queries (``segment_topk``) are EXACTLY the results a full
  rebuild of the mutated corpus gives — same docs, same scores, same
  ranks (tombstone supersession + exact df recompute);
- ``compact()`` merges the layers back to one generation whose blocks
  are BIT-IDENTICAL (payload bytes, stats, salts, block boundaries)
  to the from-scratch rebuild — without ever re-reading the corpus;
- WAND serves layered snapshots EXACTLY (tombstone-superseded rows
  dropped in the kernel, exact idf from the surviving rows) and still
  agrees with brute force after compaction;
- ``vacuum`` after compaction reclaims the delta generations.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
    compact,
    snapshot_log,
    vacuum,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
    read_snapshot,
    segment_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
    wand_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
    make_corpus,
    make_queries,
)

K = 10
BUILD_KW = dict(n_buckets=4, hot_df=8, block_size=16, store_positions=True)


@pytest.fixture(scope="module")
def corpus80():
    return make_corpus(n_docs=80, seed=7, min_len=40, max_len=200)


def _two_updates(spark, pdf, d, mode):
    """Base build on docs 0..59, then two updates in ``mode``:

    u2: add docs 60..69, overwrite docs 0 and 1 (same key, changed
        content);
    u3: delete docs 3 and 60 (one base doc, one u2-added doc), re-add
        doc 2 with new content (tombstone + same-update re-add).

    Returns (reports, final_pdf) where final_pdf is the logical corpus
    state after both updates.
    """
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(pdf.iloc[:60])), d,
        **BUILD_KW
    )

    # --- u2: adds + overwrites --------------------------------------
    over = pdf.iloc[[0, 1]].copy()
    over["content"] = [
        pdf.iloc[0]["content"] + " freshoverwrite alpha alpha",
        "tiny replacement beta",
    ]
    add1 = pd.concat([over, pdf.iloc[60:70]], ignore_index=True)
    rep1 = apply_updates(
        spark, d, add_corpus=spark.createDataFrame(add1), mode=mode
    )

    # --- u3: deletes + same-update re-add ---------------------------
    del2 = pdf.iloc[[3]][["repo", "path", "commit"]]
    del2 = pd.concat(
        [del2, pdf.iloc[[60]][["repo", "path", "commit"]]], ignore_index=True
    )
    readd = pdf.iloc[[2]].copy()
    readd["content"] = "resurrected gamma gamma gamma content"
    rep2 = apply_updates(
        spark, d,
        add_corpus=spark.createDataFrame(readd),
        delete_keys=spark.createDataFrame(del2),
        mode=mode,
    )

    final = pdf.iloc[:70].copy()  # docs 70..79 were never added
    final.loc[0, "content"] = add1.iloc[0]["content"]
    final.loc[1, "content"] = add1.iloc[1]["content"]
    final.loc[2, "content"] = readd.iloc[0]["content"]
    final = final.drop(index=[3, 60]).reset_index(drop=True)
    return (rep1, rep2), final


@pytest.fixture(scope="module")
def layered(spark, corpus80, tmp_path_factory):
    """``_two_updates`` in delta mode: two layers on the base.
    Returns (index_dir, final_pdf)."""
    d = str(tmp_path_factory.mktemp("layeredidx"))
    reps, final = _two_updates(spark, corpus80, d, "delta")
    assert [r.snapshot_version for r in reps] == [2, 3]
    return d, final


@pytest.fixture(scope="module")
def rebuild_mode(spark, corpus80, tmp_path_factory):
    """``layered``'s two batches applied in rebuild mode: each update
    is the compaction merge of its staged batch, so each commits one
    layer-free snapshot."""
    d = str(tmp_path_factory.mktemp("rebuildmodeidx"))
    reps, _ = _two_updates(spark, corpus80, d, "rebuild")
    assert [r.snapshot_version for r in reps] == [2, 3]
    log = snapshot_log(d)
    assert [(s["version"], s["operation"], s["parent"]) for s in log] == [
        (1, "initial_build", None),
        (2, "update_rebuild", 1),
        (3, "update_rebuild", 2),
    ]
    assert all(s["layers"] == [] for s in log[1:])
    return d


@pytest.fixture(scope="module")
def rebuilt(spark, layered, tmp_path_factory):
    """From-scratch rebuild of the final logical corpus — the truth
    the layered reads and the compacted blocks must equal."""
    _, final = layered
    d = str(tmp_path_factory.mktemp("rebuiltidx"))
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(final)), d, **BUILD_KW
    )
    return d


def _queries(spark, final_pdf):
    qpdf = make_queries(final_pdf, n_queries=9, seed=11)
    return spark.createDataFrame(qpdf[["query_id", "text"]])


def _topk_rows(spark, index_dir, queries):
    idx = SegmentIndex.open(spark, index_dir)
    return [
        (r["query_id"], r["rank"], r["doc_id"], r["score"], r["matched_terms"])
        for r in segment_topk(idx, queries, k=K)
        .orderBy("query_id", "rank").collect()
    ]


def _assert_topk_equal(got, want):
    """docs/ranks/matched_terms exact; scores to 1e-9 rel (the
    per-term contributions are identical doubles, but F.sum order is
    partition-dependent — same tolerance as test_maintenance)."""
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3] and g[4] == w[4], (g, w)
        assert g[3] == pytest.approx(w[3], rel=1e-9, abs=1e-12)


def test_delta_update_writes_no_base_buckets(spark, layered):
    d, _ = layered
    snap = read_snapshot(d)
    assert len(snap["layers"]) == 2
    # base bucket map untouched: every bucket still served from init
    gens = {v["segments"].split("/")[1] for v in snap["buckets"].values()}
    assert gens == {"seg_init"}
    # u3 carries tombstones (deletes + the overwrite-style re-add)
    assert snap["layers"][1]["tombstones"] == "data/removed_u3"
    # doc_lens is never rewritten by a delta update: the snapshot
    # still points at the initial build's table, layers carry deltas
    assert snap["doc_lens"] == "data/dl_init"
    assert snap["layers"][0]["doc_lens_delta"] == "data/dl_u2"


def test_layered_reads_equal_rebuild(spark, layered, rebuilt):
    d, final = layered
    queries = _queries(spark, final)
    _assert_topk_equal(_topk_rows(spark, d, queries),
                       _topk_rows(spark, rebuilt, queries))
    # global stats maintained exactly
    a = SegmentIndex.open(spark, d)
    b = SegmentIndex.open(spark, rebuilt)
    assert a.n_docs == b.n_docs and a.avgdl == pytest.approx(b.avgdl)


def test_layered_tombstone_semantics(spark, layered):
    d, _ = layered
    idx = SegmentIndex.open(spark, d)
    q = spark.createDataFrame(
        [
            ("q_del_base", "uniq00003doc"),     # deleted base doc
            ("q_del_delta", "uniq00060doc"),    # deleted u2-added doc
            ("q_readd", "resurrected gamma"),   # re-added in u3
            ("q_over", "freshoverwrite"),       # overwritten in u2
        ],
        "query_id string, text string",
    )
    rows = segment_topk(idx, q, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert "q_del_base" not in by_q and "q_del_delta" not in by_q
    assert len(by_q["q_readd"]) >= 1 and len(by_q["q_over"]) == 1


def test_wand_layered_equals_rebuild(spark, layered, rebuilt):
    """Layered WAND == brute force over the from-scratch rebuild:
    same docs, ranks, matched_terms, scores — the pruned executor
    resolves tombstones and recomputes df exactly, so merge-on-read
    never gates servability (round-5: the has_deltas refusal is
    gone)."""
    d, final = layered
    queries = _queries(spark, final)
    idx = SegmentIndex.open(spark, d)
    for k in (1, 3, K):
        got = [
            (r["query_id"], r["rank"], r["doc_id"], r["score"],
             r["matched_terms"])
            for r in wand_topk(idx, queries, k=k)
            .orderBy("query_id", "rank").collect()
        ]
        want = [
            (r["query_id"], r["rank"], r["doc_id"], r["score"],
             r["matched_terms"])
            for r in segment_topk(
                SegmentIndex.open(spark, rebuilt), queries, k=k)
            .orderBy("query_id", "rank").collect()
        ]
        _assert_topk_equal(got, want)


def test_wand_layered_micro_equals_layered_brute(spark, layered):
    """Integer micro mode: layered WAND hash-equals layered
    segment_topk bit-for-bit (both resolve the same snapshot)."""
    d, final = layered
    queries = _queries(spark, final)
    idx = SegmentIndex.open(spark, d)
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_micro"])
        for r in wand_topk(idx, queries, k=K, micro=True).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score_micro"])
        for r in segment_topk(idx, queries, k=K, micro=True).collect()
    )
    assert got == want


def test_wand_layered_tombstone_semantics(spark, layered):
    """Deleted docs never surface through the pruned path; overwritten
    and re-added docs surface exactly once with the NEW content."""
    d, _ = layered
    idx = SegmentIndex.open(spark, d)
    q = spark.createDataFrame(
        [
            ("q_del_base", "uniq00003doc"),
            ("q_del_delta", "uniq00060doc"),
            ("q_readd", "resurrected gamma"),
            ("q_over", "freshoverwrite"),
        ],
        "query_id string, text string",
    )
    rows = wand_topk(idx, q, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert "q_del_base" not in by_q and "q_del_delta" not in by_q
    assert len(by_q["q_readd"]) >= 1 and len(by_q["q_over"]) == 1


def test_wand_layered_reuses_one_tombstone_broadcast(spark, layered,
                                                    monkeypatch):
    """The tombstone arrays are per-snapshot state: every WAND call on
    one index instance ships the SAME broadcast (no per-call
    broadcast leak), and the results do not depend on the call."""
    d, final = layered
    sc = spark.sparkContext
    made = []
    real = sc.broadcast

    def recording(value):
        bc = real(value)
        made.append(bc._jbroadcast.id())  # noqa: SLF001
        return bc

    monkeypatch.setattr(sc, "broadcast", recording)
    idx = SegmentIndex.open(spark, d)
    q = _queries(spark, final)
    first = wand_topk(idx, q, k=K).orderBy("query_id", "rank").collect()
    second = wand_topk(idx, q, k=K).orderBy("query_id", "rank").collect()
    assert first == second
    bc_id = idx.tombstone_broadcast()._jbroadcast.id()  # noqa: SLF001
    assert made == [bc_id]


def test_segments_scan_schema_matches_footers(spark, layered, rebuilt):
    """The reader's explicit segments and doc_terms schemas are exactly
    what Spark infers from the writers' parquet footers — on a fresh
    build and on a delta layer — so the reader cannot drift from the
    writer."""
    for d in (rebuilt, layered[0]):
        snap = read_snapshot(d)
        idx = SegmentIndex.open(spark, d)
        maps = [snap["buckets"]] + [
            layer["buckets"] for layer in snap.get("layers") or []
        ]
        for kind in ("segments", "doc_terms"):
            roots = {
                os.path.dirname(f"{d}/{entry[kind]}")
                for bmap in maps for entry in bmap.values()
            }
            assert roots
            scan = getattr(idx, kind)().drop("gen_seq")
            for root in roots:
                inferred = spark.read.option("basePath", root).parquet(root)
                assert scan.schema == inferred.schema, (kind, root)


def test_layered_reads_reuse_tombstone_rows(spark, layered):
    """The tombstone side of a layered postings read is built once per
    index instance: a second read scans no tombstone parquet (so runs
    no tombstone aggregation) and returns the same rows."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )

    d, final = layered
    idx = SegmentIndex.open(spark, d)
    qt = spark.createDataFrame([("gamma",), ("alpha",), ("tok0001",)],
                               "term string")
    first = sorted(idx.postings_for_query_terms(qt).collect())
    assert first

    def no_reread(*args, **kwargs):
        raise AssertionError("tombstone parquet read again")

    idx._read_local = no_reread  # noqa: SLF001 (the tombstone reader)
    again = idx.postings_for_query_terms(qt)
    assert "removed_" not in plan_string(again)
    assert sorted(again.collect()) == first


def test_rebuild_mode_refuses_layered(spark, layered, corpus80):
    d, _ = layered
    with pytest.raises(ValueError, match="compact"):
        apply_updates(
            spark, d,
            add_corpus=spark.createDataFrame(corpus80.iloc[70:72]),
            mode="rebuild",
        )


def test_layered_positional_equals_rebuild(spark, layered, rebuilt):
    """Positional verification through the occurrence-exploded reader
    must resolve tombstones on a layered index exactly as a rebuild
    (exploded rows carry gen_seq through the decode; a superseded
    doc's occurrences must all vanish)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.positional import (
        positional_verify,
        query_term_positions,
    )

    d, final = layered
    qs = _queries(spark, final)
    qtp = query_term_positions(qs)

    def pv(dirpath):
        idx = SegmentIndex.open(spark, dirpath)
        out = positional_verify(idx.positions_for_query_terms(qtp), qs)
        return sorted(
            (r["query_id"], r["doc_id"], r["best_delta"],
             r["aligned_count"])
            for r in out.collect()
        )

    assert pv(d) == pv(rebuilt)


@pytest.fixture(scope="module")
def compacted(spark, layered, tmp_path_factory):
    """A compacted COPY of the layered index — the layered fixture
    itself stays layered so every test is order-independent."""
    import shutil

    d, final = layered
    c = str(tmp_path_factory.mktemp("compactedidx")) + "/idx"
    shutil.copytree(d, c)
    rep = compact(spark, c)
    return c, final, rep


def test_compact_blocks_bit_identical_to_rebuild(spark, compacted, rebuilt,
                                                rebuild_mode):
    """Both copy-on-write paths — ``compact()`` of the delta layers and
    rebuild-mode updates of the same batches — write the blocks of a
    from-scratch build of the final corpus."""
    d, final, rep = compacted
    assert rep.snapshot_version == 4
    assert rep.n_layers_merged == 2
    snap = read_snapshot(d)
    assert snap["layers"] == [] and snap["operation"] == "compact"

    def block_set(index_dir):
        idx = SegmentIndex.open(spark, index_dir)
        return set(
            (r["bucket"], r["term"], r["salt"], r["block_seq"], r["df"],
             r["doc_id_lo"], r["doc_id_hi"], r["n_docs"], r["max_tf"],
             r["min_dl"], r["sha"])
            for r in idx.segments()
            .withColumn("sha", F.sha2(F.col("payload"), 256))
            .collect()
        )

    want = block_set(rebuilt)
    assert block_set(d) == want
    assert block_set(rebuild_mode) == want

    # queries unchanged by compaction, and WAND now agrees with brute
    queries = _queries(spark, final)
    brute = _topk_rows(spark, d, queries)
    idx = SegmentIndex.open(spark, d)
    wand = [
        (r["query_id"], r["rank"], r["doc_id"], r["score"],
         r["matched_terms"])
        for r in wand_topk(idx, queries, k=K)
        .orderBy("query_id", "rank").collect()
    ]
    _assert_topk_equal(wand, brute)


def test_compact_is_noop_without_layers(spark, rebuilt):
    rep = compact(spark, rebuilt)
    assert rep.snapshot_version is None and rep.n_layers_merged == 0


def test_vacuum_reclaims_delta_generations(spark, compacted):
    d, final, _ = compacted
    before = set(os.listdir(f"{d}/data"))
    assert any(x.startswith("seg_u") for x in before)
    rep = vacuum(d, keep_last=1)
    after = set(os.listdir(f"{d}/data"))
    assert not any(x.startswith("seg_u") for x in after)
    assert 4 in rep["kept_versions"]
    # index still serves identical results from the compacted gen
    queries = _queries(spark, final)
    assert len(_topk_rows(spark, d, queries)) > 0


def test_delete_only_delta_is_metadata_only(spark, corpus80, tmp_path_factory):
    """A pure delete in delta mode writes no segment data at all —
    just the tombstone set + doc_lens: O(delta) metadata."""
    d = str(tmp_path_factory.mktemp("delonly"))
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(corpus80.iloc[:20])), d,
        n_buckets=4, hot_df=8, block_size=16,
    )
    rep = apply_updates(
        spark, d,
        delete_keys=spark.createDataFrame(
            corpus80.iloc[[5]][["repo", "path", "commit"]]
        ),
        mode="delta",
    )
    assert rep.snapshot_version == 2 and rep.built_buckets == []
    snap = read_snapshot(d)
    assert snap["layers"][0]["buckets"] == {}
    assert snap["layers"][0]["tombstones"] == "data/removed_u2"
    assert snap["n_docs"] == 19
    idx = SegmentIndex.open(spark, d)
    q = spark.createDataFrame(
        [("q", "uniq00005doc")], "query_id string, text string"
    )
    assert segment_topk(idx, q, k=3).count() == 0

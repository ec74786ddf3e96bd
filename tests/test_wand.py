"""Block-max WAND: exact top-k equality with the brute-force segment
path, plus evidence that bound-gated block skipping actually skips,
on the doc_terms posting rows that every postings read uses."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
    segment_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
    DRIVER_MAX_QUERIES,
    _Term,
    _topk_one_query,
    driver_max_queries,
    wand_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
    local_rows_df,
)

Q_DDL = "query_id string, text string"


@pytest.fixture(scope="module")
def seg(spark, corpus_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("wandidx"))
    corpus = with_doc_id(corpus_df)
    # small blocks + low hot_df → many blocks per term → skippable work
    build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8, block_size=8)
    return SegmentIndex.open(spark, d)


@pytest.fixture(scope="module")
def layered_seg(spark, corpus_pdf, tmp_path_factory):
    """40 base docs, then one delta layer adding 5 docs and deleting
    one base doc: a merge-on-read snapshot with a tombstone."""
    d = str(tmp_path_factory.mktemp("wandidx_layered"))
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(corpus_pdf.iloc[:40])), d,
        n_buckets=4, hot_df=8, block_size=8,
    )
    apply_updates(
        spark, d,
        add_corpus=spark.createDataFrame(corpus_pdf.iloc[40:45]),
        delete_keys=spark.createDataFrame(
            corpus_pdf.iloc[[3]][["repo", "path", "commit"]]
        ),
        mode="delta",
    )
    idx = SegmentIndex.open(spark, d)
    assert idx.has_deltas and idx.tombstone_arrays() is not None
    return idx


@pytest.mark.parametrize("k", [1, 3, 10])
def test_wand_equals_bruteforce(spark, seg, queries_df, k):
    got = wand_topk(seg, queries_df, k=k).orderBy("query_id", "rank").collect()
    want = segment_topk(seg, queries_df, k=k).orderBy("query_id", "rank").collect()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g["query_id"], g["rank"], g["doc_id"]) == (
            w["query_id"], w["rank"], w["doc_id"],
        ), f"k={k}: {g} vs {w}"
        assert math.isclose(g["score"], w["score"], rel_tol=1e-9, abs_tol=1e-12)


def test_wand_prunes_blocks(spark, seg, queries_df):
    rows = wand_topk(seg, queries_df, k=1).collect()
    assert rows, "no results"
    decoded = sum({r["query_id"]: r["blocks_decoded"] for r in rows}.values())
    total = sum({r["query_id"]: r["blocks_total"] for r in rows}.values())
    assert decoded < total, f"no pruning: decoded {decoded}/{total} blocks"


def test_wand_micro_mode_matches_float_ranks(spark, seg, queries_df):
    """micro=True (exact integer micro-unit scoring, the driver-oracle
    convention) must produce the same (query, rank, doc) triples as
    float mode, and its score_micro must equal the float score rounded
    HALF_UP per posting — here checked end-to-end as total-score
    proximity (sum of per-term rounding errors < n_terms micro)."""
    fl = wand_topk(seg, queries_df, k=5).orderBy("query_id", "rank").collect()
    mi = wand_topk(seg, queries_df, k=5, micro=True)\
        .orderBy("query_id", "rank").collect()
    assert [(r["query_id"], r["rank"], r["doc_id"]) for r in fl] == \
           [(r["query_id"], r["rank"], r["doc_id"]) for r in mi]
    for f, m in zip(fl, mi):
        assert abs(m["score_micro"] - f["score"] * 1e6) <= f["matched_terms"]


def test_wand_oov_query_yields_nothing(spark, seg):
    q = spark.createDataFrame(
        [("qx", "zzqabsent wwqmissing")], "query_id string, text string"
    )
    assert wand_topk(seg, q, k=5).count() == 0


def _by_query(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(tuple(r))
    return {q: sorted(v, key=lambda t: t[1]) for q, v in out.items()}


@pytest.mark.parametrize("micro", [False, True])
@pytest.mark.parametrize("which", ["fresh", "layered"])
def test_driver_path_equals_grouped_path(spark, seg, layered_seg, queries_pdf,
                                         queries_df, which, micro):
    """Each fixture query alone, as a one-row local frame, and the whole
    local batch take the driver path and must return exactly the
    grouped path's rows (docs, ranks, scores, matched_terms, both block
    counters) and the brute path's ranking — on a fresh and on a
    layered snapshot."""
    idx = seg if which == "fresh" else layered_seg
    score = "score_micro" if micro else "score"
    assert queries_df.isLocal() and len(queries_pdf) > DRIVER_MAX_QUERIES
    assert len(queries_pdf) <= driver_max_queries(idx.n_docs)
    batch = wand_topk(idx, queries_df, k=5, micro=micro)
    assert batch.isLocal(), "a local batch within the cap left the driver path"
    shared = queries_df.coalesce(1)  # not local: the grouped path
    assert not shared.isLocal()
    grouped = _by_query(wand_topk(idx, shared, k=5, micro=micro).collect())
    assert _by_query(batch.collect()) == grouped
    brute = _by_query(
        segment_topk(idx, queries_df, k=5, micro=micro)
        .select("query_id", "rank", "doc_id", score, "matched_terms")
        .collect()
    )
    assert grouped, "the fixture queries match nothing"
    for qid, text in zip(queries_pdf["query_id"], queries_pdf["text"]):
        res = wand_topk(idx, local_rows_df(spark, [(qid, text)], Q_DDL),
                        k=5, micro=micro)
        assert res.isLocal(), "a one-row local frame left the driver path"
        got = _by_query(res.collect()).get(qid, [])
        assert got == grouped.get(qid, []), qid
        want = brute.get(qid, [])
        assert [g[:3] + g[4:5] for g in got] == [w[:3] + w[4:] for w in want]
        for g, w in zip(got, want):
            if micro:
                assert g[3] == w[3]
            else:
                assert math.isclose(g[3], w[3], rel_tol=1e-9, abs_tol=1e-12)


@pytest.mark.parametrize("text", ["zzqabsent wwqmissing", "", None])
def test_driver_path_empty_answers(spark, seg, layered_seg, text):
    """An OOV query, an empty text and a None text answer nothing on
    the driver path, as on the grouped path."""
    for idx in (seg, layered_seg):
        res = wand_topk(idx, local_rows_df(spark, [("qx", text)], Q_DDL), k=5)
        assert res.isLocal() and res.collect() == []
        grouped = spark.createDataFrame([("qx", text)], Q_DDL)
        assert not grouped.isLocal()
        assert wand_topk(idx, grouped, k=5).collect() == []


def test_duplicate_query_id_is_rejected(spark, seg, queries_pdf):
    """A query id that repeats would sum its rows' scores and double
    ``matched_terms``. The driver path refuses it before any job runs;
    the grouped kernel refuses an id repeated in a term's query list."""
    rows = [("q1", queries_pdf["text"].iloc[0])] * 2
    local = spark.createDataFrame(pd.DataFrame(rows, columns=["query_id", "text"]))
    assert local.isLocal()
    sc = spark.sparkContext
    sc.setJobGroup("wand_duplicate_id", "wand_duplicate_id")
    try:
        with pytest.raises(ValueError, match="duplicate query_id 'q1'"):
            wand_topk(seg, local, k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("wand_duplicate_id") == []
    with pytest.raises(Exception, match="duplicate query_id 'q1'"):
        wand_topk(seg, spark.createDataFrame(rows, Q_DDL), k=5).collect()


def test_wand_never_reads_the_block_payloads(spark, seg, layered_seg,
                                            queries_df, monkeypatch):
    """WAND reads the doc_terms columns, the one postings reader: with
    ``SegmentIndex.segments`` raising, both placements still equal the
    brute path, on a fresh and a layered snapshot, in float and micro
    scoring."""
    def brute(idx, micro):
        score = "score_micro" if micro else "score"
        return [tuple(r) for r in segment_topk(idx, queries_df, k=5, micro=micro)
                .select("query_id", "rank", "doc_id", score, "matched_terms")
                .orderBy("query_id", "rank").collect()]

    indexes = {"fresh": seg, "layered": layered_seg}
    want = {(which, micro): brute(idx, micro)
            for which, idx in indexes.items() for micro in (False, True)}

    def no_segments(self, buckets=None):
        raise AssertionError("WAND read the segments table")

    monkeypatch.setattr(SegmentIndex, "segments", no_segments)
    for which, idx in indexes.items():
        for micro in (False, True):
            score = "score_micro" if micro else "score"
            for frame in (queries_df, queries_df.coalesce(1)):
                got = [tuple(r) for r in wand_topk(idx, frame, k=5, micro=micro)
                       .select("query_id", "rank", "doc_id", score,
                               "matched_terms")
                       .orderBy("query_id", "rank").collect()]
                w = want[(which, micro)]
                assert [g[:3] + g[4:] for g in got] == \
                    [x[:3] + x[4:] for x in w], (which, micro)
                for g, x in zip(got, w):
                    assert math.isclose(g[3], x[3], rel_tol=1e-9,
                                        abs_tol=1e-12), (which, micro)


def _kernel_docs(terms: dict, block_size: int, k: int):
    """Run the WAND kernel for one query over ``terms`` (term → list of
    (doc_id, tf) postings, every doc of length 10): its ranked doc ids
    and the set of its ``blocks_total`` values."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        _kernel,
    )

    pdf = pd.DataFrame(
        [(t, d, tf, 10) for t, rows in terms.items() for d, tf in rows],
        columns=["term", "doc_id", "tf", "doc_len"],
    )
    out = _kernel(pdf, {t: ["q"] for t in terms}, k, n_docs=10, avgdl=10.0,
                  block_size=block_size, micro=False, tomb=None)
    return [int(d) for d in out["doc_id"]], set(out["blocks_total"])


def test_interval_kernel_covers_max_int64_doc_id():
    """Docs whose ids are exactly -2**63 and 2**63-1 (the ends of the
    xxhash64 range) must not fall out of interval coverage: the kernel
    cuts intervals in dense doc ranks, so WAND stays exactly equal to
    brute force at the ends of the id range."""
    min_id, max_id = -2**63, 2**63 - 1
    # one block holding all three docs
    docs, _ = _kernel_docs({"a": [(min_id, 1), (5, 2), (max_id, 3)]},
                           block_size=8, k=3)
    assert max_id in docs, (
        "doc at int64 max silently dropped by interval construction"
    )
    assert set(docs) == {min_id, 5, max_id}
    # highest contribution (the max-id doc) must rank first
    assert docs[0] == max_id


def test_interval_kernel_covers_lone_max_block_among_other_cuts():
    """A block with lo == hi == int64_max COEXISTING with other blocks'
    cuts (and a block starting at int64 min): every doc of every block
    is scored, and the bound of the lone max block reaches the pruning
    gate, so its doc cannot silently vanish."""
    min_id, max_id = -2**63, 2**63 - 1
    docs, totals = _kernel_docs(
        {
            # term a, blocks of 2: [5, 100] and the lone [max, max] block
            "a": [(5, 1), (100, 2), (max_id, 3)],
            # term b: one block whose cuts fall between a's blocks
            "b": [(min_id, 1), (200, 1)],
        },
        block_size=2, k=5,
    )
    assert max_id in docs, (
        "lone [max,max] block dropped when coexisting with other cuts"
    )
    assert set(docs) == {min_id, 5, 100, 200, max_id}
    # highest contribution (the max-id doc) must rank first
    assert docs[0] == max_id
    assert totals == {3}


@pytest.mark.parametrize("missing", ["query_id", "text"])
def test_missing_query_column_raises(spark, seg, missing):
    """A query frame without its id or text column raises on both
    placements, also when the local frame holds no row."""
    kept = "text" if missing == "query_id" else "query_id"
    rows = [("q1", "hello")]
    local = local_rows_df(spark, [r[:1] for r in rows], f"{kept} string")
    empty = local_rows_df(spark, [], f"{kept} string")
    shared = spark.createDataFrame([r[:1] for r in rows], f"{kept} string")
    assert local.isLocal() and empty.isLocal() and not shared.isLocal()
    for frame in (local, empty, shared):
        with pytest.raises(Exception, match=missing):
            wand_topk(seg, frame, k=5).collect()


def _random_kernel_cases(n_cases: int = 1000, seed: int = 20261021):
    """Seeded random kernel inputs: (terms, block_size, k), ``terms`` a
    list of (rank-sorted doc ranks, contributions) per query term. Doc
    counts 5–5,000, 1–9 terms, ~30% micro (int64) cases, and some terms
    with contributions rounded to 0.1 so that docs tie."""
    rng = np.random.default_rng(seed)
    for _ in range(n_cases):
        n = int(rng.integers(5, 5001))
        block_size = int(rng.choice([2, 8, 128]))
        micro = bool(rng.random() < 0.3)
        k = int(rng.choice([1, 3, 10, 50]))
        terms = []
        for _ in range(int(rng.integers(1, 10))):
            df = max(1, int(n * rng.random() ** 2))
            ids = np.sort(rng.choice(n, size=df, replace=False)).astype(np.int64)
            c = 0.1 + rng.random(df) * rng.uniform(0.5, 3.0)
            if rng.random() < 0.3:
                c = np.round(c, 1)
            if micro:
                c = np.floor(c * 1e6 + 0.5).astype(np.int64)
            terms.append((ids, c))
        yield terms, block_size, k


def _run_kernel(terms, block_size: int, k: int):
    return _topk_one_query([_Term(i, c, block_size) for i, c in terms], k)


def test_round_kernel_equals_exhaustive_scoring():
    """The round-at-a-time kernel returns exactly what scoring every
    posting would: one bincount over all postings in term order, ranked
    (score DESC, rank ASC). Ranks, scores (bit for bit) and matched
    counts are equal in every case."""
    for case, (terms, block_size, k) in enumerate(_random_kernel_cases()):
        docs, scores, matched, scored, total = _run_kernel(terms, block_size, k)
        uniq, inv = np.unique(np.concatenate([i for i, _ in terms]),
                              return_inverse=True)
        want_scores = np.bincount(
            inv, weights=np.concatenate([c for _, c in terms]))
        want_matched = np.bincount(inv)
        sel = np.lexsort((uniq, -want_scores))[:k]
        assert np.array_equal(docs, uniq[sel]), case
        assert np.array_equal(scores, want_scores[sel]), case
        assert np.array_equal(matched, want_matched[sel]), case
        assert scored <= total, case


# Blocks scored over ``_random_kernel_cases()`` by the one-interval-at-
# a-time loop the round kernel replaced (830,727 blocks in all); scoring
# in rounds may overshoot the floor's stop by part of a round, by at
# most 5% of that.
INTERVAL_LOOP_BLOCKS_SCORED = 483_950


def test_round_kernel_prunes_like_interval_loop():
    scored = total = 0
    for terms, block_size, k in _random_kernel_cases():
        out = _run_kernel(terms, block_size, k)
        scored, total = scored + out[3], total + out[4]
    assert total == 830_727
    assert scored <= 1.05 * INTERVAL_LOOP_BLOCKS_SCORED, scored

"""Plan audits (SURVEY §4): the physical properties the 100 TB design
depends on must hold and stay held — filter pushdown to parquet,
column pruning, broadcast of the query side, bounded shuffle counts."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
    audit,
    count_shuffles,
    has_broadcast_join,
    plan_string,
    pushed_filters,
    read_schemas,
)

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    a = audit(df)
    assert any("l_shipdate" in f for f in a["pushed_filters"]), a
    # column pruning: scan must read only the 3 needed columns
    assert all(
        "l_extendedprice" not in s and "l_comment" not in s
        for s in a["read_schemas"]
    ), a


def test_bm25_query_side_is_broadcast(spark):
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    df = api.q_bm25_topk(spark, SF)
    assert has_broadcast_join(df)


@pytest.fixture(scope="module")
def seg_index(spark, corpus_df, tmp_path_factory):
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
        with_doc_id,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        build_segment_index,
    )

    d = str(tmp_path_factory.mktemp("planidx"))
    build_segment_index(spark, with_doc_id(corpus_df), d, n_buckets=4,
                        hot_df=8, block_size=16)
    return SegmentIndex.open(spark, d)


def test_segment_query_plan(spark, seg_index):
    """Segment top-k (collect-free path): bucket partitions prune
    DYNAMICALLY from the broadcast query-term side (no driver-side
    term collect); the query side broadcasts; shuffle count stays
    bounded (df count + score agg + window — no accidental extra
    exchanges). The term-list path (postings_for_terms)
    prunes buckets statically and keeps parquet predicate pushdown —
    asserted separately."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        segment_topk,
    )

    q = spark.createDataFrame(
        [("q0", "tok0001 tok0002 uniq00003doc")], "query_id string, text string"
    )
    df = segment_topk(seg_index, q, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "bucket partition pruning must be planned dynamically from the "
        "broadcast term side"
    )
    assert has_broadcast_join(df)
    # heavy-side: the df count's term exchange + the one query_id
    # exchange (score groupBy + rank window share it); plus up to 2
    # KB-sized dim-side exchanges (query-term distinct feeding the DPP
    # broadcast) — bounded, not data-scaled
    assert count_shuffles(df) <= 4, count_shuffles(df)
    # static path: term predicate reaches the parquet scan, and the
    # term's one bucket is a constant partition filter (no DPP)
    post = seg_index.postings_for_terms(["tok0001"])
    assert any("term" in f for f in pushed_filters(post)), (
        pushed_filters(post)
    )
    plan = plan_string(post)
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert "dynamicpruning" not in plan.lower()
    assert len({b for f in filters
                for b in re.findall(r"bucket#\d+ = (\d+)", f)}) == 1, filters


# every brute-force BM25 consumer rides the one score-and-rank spine
# (operators/topk.py): exactly one query_id hash exchange serves the
# score-sum and every per-query window. The bounds pin each plan's
# total exchange count at shuffle_partitions=4 (the others are
# term-side and index-build exchanges); none may rise.
SPINE_SHUFFLE_BOUNDS = {
    "q_bm25_topk": 4,
    "q_match_or_nil": 4,
    "q_match_compat": 8,
    "q_db2qry": 5,
    "q_match_classed": 5,
    "q_match_stats": 5,
    "q_bm25_segment": 4,
    "segment_topk_double": 4,
    "segment_topk_micro": 4,
}
_QUERY_ID_EXCHANGE = re.compile(
    r"Arguments: hashpartitioning\(query_id#\d+, \d+\), REPARTITION_BY_COL"
)


@pytest.mark.parametrize("name", list(SPINE_SHUFFLE_BOUNDS))
def test_bm25_spine_plans(spark, seg_index, queries_df, name):
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        segment_topk,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        OWNER,
    )

    # a persist left by an earlier query would substitute its cached
    # plan (and that plan's exchanges) into this one
    OWNER.release()
    if name.startswith("segment_topk"):
        df = segment_topk(seg_index, queries_df, k=5,
                          micro=name.endswith("micro"))
    else:
        df = getattr(api, name)(spark, SF)
    plan = plan_string(df)
    assert len(_QUERY_ID_EXCHANGE.findall(plan)) == 1, plan
    assert count_shuffles(df) <= SPINE_SHUFFLE_BOUNDS[name], audit(df)


def test_doc_len_is_narrow(spark):
    """doc_len is a per-doc constant — it must come off the corpus
    scan narrow, never via a groupBy over the postings (round-1
    verdict #5: a full index shuffle at 100×)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    assert count_shuffles(api.q_doc_len(spark, SF)) == 0


def test_narrow_ops_have_no_shuffle(spark):
    """Text-analysis operators must be pure projections."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.text import (
        with_fingerprint,
        with_lang_id,
        with_quality,
        with_token_counts,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for op in (with_lang_id, with_quality, with_fingerprint,
               with_token_counts):
        assert count_shuffles(op(docs)) == 0, op.__name__


def test_local_peaks_single_exchange(spark):
    """local_peaks uses two frame-bounded window maxima over the SAME
    (partition, order) spec — they must share one sort: exactly one
    shuffle Exchange in the plan, no self-join, no extra sort."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    df = api.q_local_peaks(spark, SF)
    assert count_shuffles(df) == 1, audit(df)


def _assert_wand_plan(df):
    """Batched WAND's shape: the one query-side broadcast
    ((bucket, term, grp) → qids) joins the doc_terms postings scan, its
    bucket partitions prune dynamically from that same broadcast, and
    the only shuffle is the repartition by group — posting volume
    scales with groups, not batch size."""
    a = audit(df)
    assert a["broadcast_join"], a
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "bucket partition pruning must be planned dynamically from the "
        "broadcast query side"
    )
    # the query-term group-by reads one partition (no exchange) and
    # the blocks are not spread: NOT one exchange per query
    assert a["shuffles"] <= 1, a


def test_wand_batched_plan(spark, corpus_df, tmp_path):
    """Batched WAND on a fresh single-generation index."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
        with_doc_id,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        build_segment_index,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )

    d = str(tmp_path / "wandplan")
    build_segment_index(spark, with_doc_id(corpus_df), d, n_buckets=4,
                        hot_df=8, block_size=16)
    idx = SegmentIndex.open(spark, d)
    qs = spark.createDataFrame(
        [("q1", "vector scan filter"), ("q2", "scan batch stream")],
        "query_id string, text string",
    )
    _assert_wand_plan(wand_topk(idx, qs, k=3))


def test_wand_batched_plan_layered(spark, corpus_pdf, tmp_path):
    """The same shape on a layered (merge-on-read) snapshot: the
    tombstones ride a broadcast variable, not the plan, so the delta
    layer adds no exchange."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
        with_doc_id,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        apply_updates,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        build_segment_index,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )

    d = str(tmp_path / "wandplan_layered")
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(corpus_pdf.iloc[:40])), d,
        n_buckets=4, hot_df=8, block_size=16,
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
    qs = spark.createDataFrame(
        [("q1", "vector scan filter"), ("q2", "scan batch stream")],
        "query_id string, text string",
    )
    _assert_wand_plan(wand_topk(idx, qs, k=3))


def test_ivf_assign_is_narrow(spark):
    """Cell assignment must be a per-row argmax over centroid
    literals — zero shuffle of the vector table (the docstring's
    'runs once at ingest, narrow' claim, made assertable)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.similarity import (
        _as_double,
        _norm,
        ivf_assign,
        ivf_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cent = ivf_centroids(emb)
    base = emb.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("v")
    ).withColumn("vnorm", _norm(F.col("v")))
    assert count_shuffles(ivf_assign(base, cent)) == 0


def test_search_verified_gates_verify_on_topk(spark):
    """The two-phase plan must semi-join verification postings to the
    (broadcast) top-k doc set BEFORE the position explode — verify
    cost follows k, not candidate count."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )

    df = api.q_search_verified(spark, SF)
    plan = plan_string(df)
    assert "LeftSemi" in plan, "candidate gating lost"
    assert has_broadcast_join(df)


def test_search_verified_segment_gates_verify_on_topk(spark):
    """The persisted two-phase plan (WAND coarse top-k → varint
    positional verify) must keep the same gating shape: decoded
    occurrences semi-join the broadcast top-k doc set before the
    verify join, so verify cost follows k on the segment path too."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )

    df = api.q_search_verified_segment(spark, SF)
    plan = plan_string(df)
    assert "LeftSemi" in plan, "candidate gating lost"
    assert has_broadcast_join(df)


PYTHON_OPS = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def test_positional_segment_decode_is_flat(spark):
    """The persisted positional path reads positions from the stored
    doc_terms columns in the JVM: no Python operator anywhere in
    ``q_positional_segment``'s plan."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    plan = plan_string(api.q_positional_segment(spark, SF))
    assert not [op for op in PYTHON_OPS if op in plan], plan


@pytest.fixture(scope="module")
def pos_snapshots(spark, corpus_pdf, tmp_path_factory):
    """One positions-storing index at two snapshots: v1 fresh, v2 with
    a delta layer carrying adds and a delete."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
        with_doc_id,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        apply_updates,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        build_segment_index,
    )

    d = str(tmp_path_factory.mktemp("posplan"))
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(corpus_pdf.iloc[:40])), d,
        n_buckets=4, hot_df=8, block_size=16, store_positions=True,
    )
    apply_updates(
        spark, d,
        add_corpus=spark.createDataFrame(corpus_pdf.iloc[40:45]),
        delete_keys=spark.createDataFrame(
            corpus_pdf.iloc[[3]][["repo", "path", "commit"]]
        ),
        mode="delta",
    )
    layered = SegmentIndex.open(spark, d)
    assert layered.has_deltas and layered.tombstone_arrays() is not None
    return {"fresh": SegmentIndex.open(spark, d, version=1),
            "layered": layered}


POSTINGS_READERS = {
    "postings_for_query_terms": lambda idx, qt: idx.postings_for_query_terms(
        qt, with_positions=True),
    "postings_for_terms": lambda idx, qt: idx.postings_for_terms(
        ["tok0001", "tok0002"]),
    "postings_for_term_prefixes": lambda idx, qt:
        idx.postings_for_term_prefixes(["tok001"]),
    "positions_for_query_terms": lambda idx, qt:
        idx.positions_for_query_terms(qt),
    "merged_doc_terms": lambda idx, qt: idx.merged_doc_terms(),
}


@pytest.mark.parametrize("snapshot", ["fresh", "layered"])
@pytest.mark.parametrize("reader", list(POSTINGS_READERS))
def test_postings_readers_run_no_python(spark, pos_snapshots, reader,
                                        snapshot):
    """Every non-WAND postings read is a JVM scan of the stored
    doc_terms columns: the executed plan holds no Python operator, on
    a fresh and on a layered snapshot."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        local_rows_df,
    )

    qt = local_rows_df(spark, [("tok0001",), ("tok0002",)], "term string")
    df = POSTINGS_READERS[reader](pos_snapshots[snapshot], qt)
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not [op for op in PYTHON_OPS if op in plan], plan


def test_emb_neardup_blocked_has_no_pair_explosion(spark):
    """The battery's emb_neardup plan must be the blocked executor:
    no non-equi pair join (the brute plan's BroadcastNestedLoopJoin /
    CartesianProduct over O(n²) pairs) — candidates come out of the
    block-grid groupBy, and the exact re-score attaches vectors via
    equi-joins only."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )

    df = api.q_emb_neardup(spark, SF)
    plan = plan_string(df)
    assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # grid groupBy = one exchange; two re-score equi-joins may add at
    # most one exchange each (AQE may instead broadcast them)
    assert count_shuffles(df) <= 5, audit(df)


def test_match_stats_dist_has_no_unpartitioned_window(spark):
    """The distributed report path (`q_match_stats_dist`) must not
    contain a single-partition global Window — the total order comes
    from the range-shuffle + offset-cumsum `global_rank` operator
    (MapInPandas local ranks). Every Window node in the plan must
    carry a non-empty partition spec."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )

    def unpartitioned_windows(plan: str) -> int:
        # a Window node's Arguments line is [functions], [partition
        # spec], [order spec] — each list is OMITTED entirely when
        # empty, so a window is unpartitioned when nothing follows its
        # functions or when what follows is a sort order (a partition
        # spec never carries ASC/DESC)
        def unpartitioned(line: str) -> bool:
            groups = line.split("], [")
            return len(groups) == 1 or (
                len(groups) == 2 and " NULLS " in groups[1]
            )

        return sum(
            unpartitioned(line)
            for line in plan.splitlines()
            if "windowspecdefinition" in line and "Arguments:" in line
        )

    plan = plan_string(api.q_match_stats_dist(spark, SF))
    assert "MapInPandas" in plan
    assert unpartitioned_windows(plan) == 0, plan
    # the single-partition form, by contrast, HAS one (the report
    # window) — pins that the detector detects what it guards
    base = plan_string(api.q_match_stats(spark, SF))
    assert unpartitioned_windows(base) == 1, base


def test_composed_queries_release_tracked_caches(spark):
    """Cache hygiene (round-4): the composed two-phase queries persist
    their top-k intermediate (it feeds two consumers of a LAZY result,
    so it must outlive the fn) — but the persist is owned: at most one
    generation is live, the next composed query releases the previous
    one, and ``OWNER.release()`` empties the set entirely."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        OWNER,
    )

    jsc = spark.sparkContext._jsc  # noqa: SLF001
    # warm-up: first call builds the per-sf_dir fixtures (deliberately
    # long-lived, memoized on the owner) — measure the per-query
    # persist churn AFTER that steady state is reached
    api.q_search_verified(spark, SF).collect()
    api.q_search_verified_segment(spark, SF).collect()
    OWNER.release()
    n0 = jsc.getPersistentRDDs().size()
    api.q_search_verified(spark, SF).collect()
    n1 = jsc.getPersistentRDDs().size()
    assert n1 <= n0 + 1
    # the next composed query releases the previous generation first
    api.q_search_verified_segment(spark, SF).collect()
    assert jsc.getPersistentRDDs().size() <= n0 + 1
    OWNER.release()
    assert jsc.getPersistentRDDs().size() <= n0
    # temp layout dirs are registered for exit-time removal
    assert any("driver_segidx_" in d for d in OWNER.tmpdirs)


def test_plan_union_keeps_both_legs_persists(spark):
    """A plan-union row releases the previous query's persists ONCE,
    on entry: building its second leg must not drop the first leg's
    top-k persist (the brute "v1" leg would recompute it at collect
    time)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        OWNER,
    )

    api.q_search_verified_plans(spark, SF)
    held = list(OWNER.query_persists)
    assert len(held) == 2, held
    assert all(df.is_cached for df in held)
    OWNER.release()
    assert OWNER.query_persists == []
    assert not any(df.is_cached for df in held)


def test_bool_query_prefix_pushdown(spark):
    """The boolean prefix clause must reach the parquet scan as a
    pushed StartsWith — the term-dictionary range scan's whole value
    at 100 TB is row-group pruning on the term-clustered blocks."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    idx = api.docs_segment_index(spark, SF)
    df = idx.blocks_for_term_prefixes(["tok001", "uniq"])
    pf = pushed_filters(df)
    assert any("StartsWith(term" in f for f in pf), pf

    # and the full bool_query plan broadcasts the tiny spec sides
    assert has_broadcast_join(api.q_bool_query(spark, SF))

"""Streaming ingestion: corpus files appearing in a directory flow
through foreachBatch into snapshot-committing upserts; the index is
queryable and rank-correct after the stream drains. Plus the
watermarked streaming term-count aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
    read_snapshot,
    segment_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.ingest import (
    stream_ingest,
    streaming_term_counts,
)


def test_stream_ingest_upserts_index(spark, corpus_pdf, tmp_path):
    # initial index over the first 30 docs
    base = spark.createDataFrame(corpus_pdf.iloc[:30])
    idx_dir = str(tmp_path / "sidx")
    build_segment_index(spark, with_doc_id(base), idx_dir, n_buckets=4,
                        hot_df=8, block_size=16)

    # 2 parquet drops: docs 30-39, then 40-49 + one overwrite of doc 0
    src = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(corpus_pdf.iloc[30:40]).write.mode("append").parquet(src)
    over = corpus_pdf.iloc[[0]].copy()
    over["content"] = "streamed overwrite marker streamedmark streamedmark"
    batch2 = __import__("pandas").concat([corpus_pdf.iloc[40:50], over])
    spark.createDataFrame(batch2).write.mode("append").parquet(src)

    q = stream_ingest(spark, src, idx_dir, ckpt, trigger_available_now=True,
                      max_files_per_trigger=2)
    q.awaitTermination(300)

    idx = SegmentIndex.open(spark, idx_dir)
    assert idx.n_docs == 50  # 30 + 20 new, overwrite doesn't grow N
    assert idx.version >= 2
    # default mode is delta: micro-batches land as merge-on-read
    # layers, never rewriting base buckets
    assert len(read_snapshot(idx_dir).get("layers", [])) >= 1

    # streamed-in docs are searchable
    probe = spark.createDataFrame(
        [("qs", "uniq00045doc"), ("qo", "streamedmark")],
        "query_id string, text string",
    )
    hits = {r["query_id"]: r for r in
            segment_topk(idx, probe, k=1).collect()}
    assert "qs" in hits and "qo" in hits

    # exactly-once on restart: re-running the drained stream must not
    # change the snapshot
    v_before = idx.version
    q2 = stream_ingest(spark, src, idx_dir, ckpt, trigger_available_now=True)
    q2.awaitTermination(300)
    assert SegmentIndex.open(spark, idx_dir).version == v_before


def test_streaming_term_counts_with_watermark(spark, tmp_path):
    """Drive the watermarked window agg through a file stream with an
    out-of-order (late but in-watermark) row; counts must match the
    batch equivalent."""
    import pandas as pd

    src = str(tmp_path / "ev")
    rows = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:05", "2024-01-01 00:00:20",
                 "2024-01-01 00:01:10", "2024-01-01 00:00:40"]  # last is late
            ),
            "text": ["spark join", "join merge", "spark spark", "join"],
        }
    )
    spark.createDataFrame(rows).write.mode("append").parquet(src)
    stream = spark.readStream.schema("ts timestamp, text string").parquet(src)
    out = streaming_term_counts(stream, "1 minute", "2 minutes")
    q = (
        out.writeStream.format("memory").queryName("tc")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    got = {
        (str(r["window_start"]), r["term"]): r["tf"]
        for r in spark.sql("SELECT * FROM tc").collect()
    }
    assert got[("2024-01-01 00:00:00", "join")] == 3  # late row included
    assert got[("2024-01-01 00:00:00", "spark")] == 1
    assert got[("2024-01-01 00:01:00", "spark")] == 2


def test_streaming_dedup_first_wins_across_batches(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): a doc is
    emitted only the FIRST time its content sha appears — within a
    micro-batch AND across separate runs restored from the state-store
    checkpoint."""
    import pandas as pd

    from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.ingest import (
        streaming_dedup_first_wins,
    )

    src = str(tmp_path / "dsrc")
    ckpt = str(tmp_path / "dckpt")
    out_dir = str(tmp_path / "dout")

    def run(name):
        import os

        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            streaming_dedup_first_wins(stream, n_shards=4)
            .writeStream
            .foreachBatch(
                lambda df, _bid: df.write.mode("append")
                .parquet(f"{out_dir}/{name}")
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if not os.path.exists(f"{out_dir}/{name}"):
            return set()
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{out_dir}/{name}").collect()
        }

    # batch 1: doc 2 duplicates doc 0's content within the batch
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2],
                      "text": ["alpha beta", "gamma", "alpha beta"]})
    ).write.mode("append").parquet(src)
    got1 = run("dd1")
    assert 1 in got1 and len(got1 & {0, 2}) == 1  # one of the dups only

    # batch 2 (new run, same checkpoint): doc 3 new, doc 4 dups batch 1
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [3, 4],
                      "text": ["delta", "alpha beta"]})
    ).write.mode("append").parquet(src)
    got2 = run("dd2")
    assert got2 == {3}  # cross-batch dup suppressed via restored state


def test_streaming_dedup_ttl_bounds_state(spark, tmp_path):
    """Bounded-state mode: entries unseen for ttl_ms are evicted, so a
    dormant sha re-emits once after the window (first-wins WITHIN the
    retention window), while entries recurring inside the TTL stay
    deduped — and state no longer grows with every sha ever seen."""
    import time

    import pandas as pd

    from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.ingest import (
        streaming_dedup_first_wins,
    )

    src = str(tmp_path / "tsrc")
    ckpt = str(tmp_path / "tckpt")
    out_dir = str(tmp_path / "tout")

    # TTL must comfortably dominate availableNow restart latency
    # (~4-10 s on a loaded host): each run() below starts a FRESH
    # query on the shared checkpoint, so "immediate replay" is really
    # "replay one restart later" — with a too-tight TTL the entry is
    # legitimately evicted before the replay arrives and the test
    # flakes on host speed, not on engine behavior
    TTL_MS = 15_000

    def run(name):
        import os

        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            streaming_dedup_first_wins(stream, n_shards=2, ttl_ms=TTL_MS)
            .writeStream
            .foreachBatch(
                lambda df, _bid: df.write.mode("append")
                .parquet(f"{out_dir}/{name}")
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        if not os.path.exists(f"{out_dir}/{name}"):
            return set()
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{out_dir}/{name}").collect()
        }

    spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": ["alpha beta"]})
    ).write.mode("append").parquet(src)
    assert run("t1") == {0}

    # immediate replay: still inside the TTL → suppressed
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": ["alpha beta"]})
    ).write.mode("append").parquet(src)
    assert run("t2") == set()

    # dormant past the TTL → evicted → re-emitted once (the t2 replay
    # refreshed the stamp, so dormancy counts from t2's batch)
    time.sleep(TTL_MS / 1000 + 2)
    spark.createDataFrame(
        pd.DataFrame({"doc_id": [2], "text": ["alpha beta"]})
    ).write.mode("append").parquet(src)
    assert run("t3") == {2}


def test_stream_match_resumes_at_unprocessed_files(
    spark, corpus_df, queries_pdf, tmp_path
):
    """Checkpointed query matching (the reference's milestone-resume
    loop, Matching.py:46-57): run 1 drains the first query file;
    run 2 (same checkpoint, old file still present) matches ONLY the
    new file — no re-matching, no duplicate results — and every
    result row equals the batch WAND answer."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.match import (
        read_match_results,
        stream_match,
    )

    idx_dir = str(tmp_path / "midx")
    build_segment_index(spark, with_doc_id(corpus_df), idx_dir,
                        n_buckets=4, hot_df=8, block_size=16)
    qdir = str(tmp_path / "queries")
    out = str(tmp_path / "matches")
    ckpt = str(tmp_path / "mckpt")

    qa = spark.createDataFrame(queries_pdf.iloc[:5][["query_id", "text"]])
    qb = spark.createDataFrame(queries_pdf.iloc[5:10][["query_id", "text"]])

    qa.write.mode("append").parquet(qdir)
    stream_match(spark, qdir, idx_dir, out, ckpt, k=3).awaitTermination(300)
    first = read_match_results(spark, out)
    batches_after_run1 = {r["batch_id"] for r in first.select("batch_id").distinct().collect()}

    qb.write.mode("append").parquet(qdir)
    stream_match(spark, qdir, idx_dir, out, ckpt, k=3).awaitTermination(300)
    res = read_match_results(spark, out)

    # run 2 created only NEW batch ids (old files not reprocessed)
    new_batches = {r["batch_id"] for r in res.select("batch_id").distinct().collect()}
    assert batches_after_run1 < new_batches
    run2_qids = {
        r["query_id"]
        for r in res.filter(
            ~F.col("batch_id").isin(list(batches_after_run1))
        ).select("query_id").distinct().collect()
    }
    idx = SegmentIndex.open(spark, idx_dir)
    want_qb = {
        r["query_id"] for r in wand_topk(idx, qb, k=3).collect()
    }  # queries with zero index hits yield no rows in either path
    assert run2_qids == want_qb

    # every (query, rank, doc) equals the batch WAND answer; no dupes
    all_q = spark.createDataFrame(queries_pdf.iloc[:10][["query_id", "text"]])
    want = {
        (r["query_id"], r["rank"], r["doc_id"])
        for r in wand_topk(idx, all_q, k=3).collect()
    }
    got_rows = res.select("query_id", "rank", "doc_id").collect()
    got = {(r["query_id"], r["rank"], r["doc_id"]) for r in got_rows}
    assert got == want and len(got_rows) == len(want)


def test_stream_ingest_with_periodic_compaction(spark, corpus_pdf, tmp_path):
    """A compaction policy of one layer folds the delta layer back after
    every micro-batch: the drained index is single-generation and
    still rank-correct."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        CompactionPolicy,
    )

    base = spark.createDataFrame(corpus_pdf.iloc[:30])
    idx_dir = str(tmp_path / "cidx")
    build_segment_index(spark, with_doc_id(base), idx_dir, n_buckets=4,
                        hot_df=8, block_size=16)
    src = str(tmp_path / "cincoming")
    ckpt = str(tmp_path / "cckpt")
    spark.createDataFrame(corpus_pdf.iloc[30:40]).write.mode("append").parquet(src)
    spark.createDataFrame(corpus_pdf.iloc[40:50]).write.mode("append").parquet(src)

    q = stream_ingest(spark, src, idx_dir, ckpt, trigger_available_now=True,
                      max_files_per_trigger=2,
                      compact_policy=CompactionPolicy(max_layers=1,
                                                      rebucket=None))
    q.awaitTermination(300)

    snap = read_snapshot(idx_dir)
    assert snap["layers"] == [] and snap["operation"] == "compact"
    idx = SegmentIndex.open(spark, idx_dir)
    assert idx.n_docs == 50
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )

    probe = spark.createDataFrame(
        [("qs", "uniq00045doc")], "query_id string, text string"
    )
    hits = wand_topk(idx, probe, k=1).collect()
    assert len(hits) == 1


def test_stream_match_serves_layered_index_wand_pruned(
    spark, corpus_pdf, tmp_path
):
    """A delta-layered index must not kill the match stream — and
    since round 5 it is served WAND-PRUNED (tombstone resolution in
    the kernel), not by the brute fallback: real block counters, exact
    results for a doc that exists only in the delta layer."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        apply_updates,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.match import (
        read_match_results,
        stream_match,
    )

    idx_dir = str(tmp_path / "lidx")
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(corpus_pdf.iloc[:30])),
        idx_dir, n_buckets=4, hot_df=8, block_size=16,
    )
    apply_updates(
        spark, idx_dir,
        add_corpus=spark.createDataFrame(corpus_pdf.iloc[30:35]),
        mode="delta",
    )

    qdir = str(tmp_path / "lqueries")
    q = spark.createDataFrame(
        [("ql", "uniq00032doc")], "query_id string, text string"
    )  # a doc that exists ONLY in the delta layer
    q.write.mode("append").parquet(qdir)
    stream_match(
        spark, qdir, idx_dir, str(tmp_path / "lout"),
        str(tmp_path / "lckpt"), k=3,
    ).awaitTermination(300)

    res = read_match_results(spark, str(tmp_path / "lout")).collect()
    assert len(res) >= 1
    # round 5: layered snapshots are served by WAND directly (the
    # brute fallback only fires past the tombstone-closure cap), so
    # the decode counters are real on layered batches too
    assert all(r["blocks_decoded"] is not None for r in res)


def test_read_match_results_before_first_batch_is_empty(spark, tmp_path):
    """Polling the results dir before any batch committed must return
    an empty, schema-stable frame — not PATH_NOT_FOUND."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.match import (
        read_match_results,
    )

    out = str(tmp_path / "results")
    df = read_match_results(spark, out)
    assert df.count() == 0
    assert "batch_id" in df.columns and "doc_id" in df.columns
    # micro mode: the empty-path schema must match committed batches
    # (score_micro long, not score double) so pre/post-commit polls
    # union cleanly
    dfm = read_match_results(spark, out, micro=True)
    assert dfm.count() == 0
    assert dict(dfm.dtypes)["score_micro"] == "bigint"
    assert "score" not in dfm.columns


def test_concurrent_ingest_match_soak(spark, corpus_pdf, tmp_path):
    """The snapshot-isolation argument, replayed: a CONTINUOUS match
    stream serves queries while ``stream_ingest`` batches commit delta
    layers and a compaction folds them mid-run. Every served batch
    must equal the exact top-k computed against SOME committed
    snapshot version — pre- or post-commit, never a torn read. The
    reference forbids this race by sequencing (``Hashing_update.py``
    add/delete never runs while ``Matching.py`` workers are live);
    the snapshot+CURRENT protocol makes it safe, and this test turns
    that argument into replayed evidence."""
    import os
    import time

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        compact,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        _snapshot_versions,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.match import (
        read_match_results,
        stream_match,
    )

    idx_dir = str(tmp_path / "soak_idx")
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(corpus_pdf.iloc[:30])),
        idx_dir, n_buckets=4, hot_df=8, block_size=16,
    )
    qdir = str(tmp_path / "soak_queries")
    out = str(tmp_path / "soak_out")
    ckpt = str(tmp_path / "soak_ckpt")
    src = str(tmp_path / "soak_incoming")
    ickpt = str(tmp_path / "soak_ickpt")
    os.makedirs(qdir)

    def put_queries(rows):
        spark.createDataFrame(
            rows, "query_id string, text string"
        ).coalesce(1).write.mode("append").parquet(qdir)

    def served(qid, mq):
        if mq.exception() is not None:
            raise AssertionError(f"match stream died: {mq.exception()}")
        try:
            return (
                read_match_results(spark, out, micro=True)
                .filter(F.col("query_id") == qid).count() > 0
            )
        except Exception:
            return False  # transient: a batch dir mid-overwrite

    def wait_served(qid, mq, timeout=180):
        t0 = time.time()
        while time.time() - t0 < timeout:
            if served(qid, mq):
                return
            time.sleep(0.5)
        raise AssertionError(f"{qid} not served within {timeout}s")

    put_queries([("q1", "uniq00005doc")])
    mq = stream_match(spark, qdir, idx_dir, out, ckpt, k=3,
                      trigger_available_now=False,
                      max_files_per_trigger=1, micro=True)
    try:
        wait_served("q1", mq)

        # ingest A commits a delta layer while the match stream is live
        spark.createDataFrame(corpus_pdf.iloc[30:40]).write.mode(
            "append").parquet(src)
        stream_ingest(spark, src, idx_dir, ickpt,
                      trigger_available_now=True).awaitTermination(300)
        put_queries([("q2", "uniq00035doc")])
        wait_served("q2", mq)
        # q2 was served from the LAYERED snapshot: the stream reopened
        # the index mid-run and served it WAND-pruned (round 5 —
        # layered snapshots no longer force the brute fallback)
        q2_rows = read_match_results(spark, out, micro=True).filter(
            F.col("query_id") == "q2").collect()
        assert len(q2_rows) >= 1
        assert all(r["blocks_decoded"] is not None for r in q2_rows)

        # mid-run compaction; the next batch still runs WAND-pruned
        compact(spark, idx_dir)
        put_queries([("q3", "uniq00035doc")])
        wait_served("q3", mq)
        q3_rows = read_match_results(spark, out, micro=True).filter(
            F.col("query_id") == "q3").collect()
        assert all(r["blocks_decoded"] is not None for r in q3_rows)

        # the RACE batch: ingest B starts and the query file lands at
        # the same time — the batch may legally observe either side
        spark.createDataFrame(corpus_pdf.iloc[40:50]).write.mode(
            "append").parquet(src)
        qi = stream_ingest(spark, src, idx_dir, ickpt,
                           trigger_available_now=True)
        put_queries([("q4a", "uniq00012doc"),
                     ("q4b", "uniq00045doc")])
        qi.awaitTermination(300)
        wait_served("q4a", mq)
    finally:
        mq.stop()

    # --- no torn reads: every batch equals the exact answer at SOME
    # committed snapshot version ---
    res = read_match_results(spark, out, micro=True)
    file_sets = {
        "q1": ["q1"], "q2": ["q2"], "q3": ["q3"], "q4a": ["q4a", "q4b"],
        "q4b": ["q4a", "q4b"],
    }
    file_texts = {"q1": "uniq00005doc", "q2": "uniq00035doc",
                  "q3": "uniq00035doc", "q4a": "uniq00012doc",
                  "q4b": "uniq00045doc"}
    versions = _snapshot_versions(idx_dir)
    assert len(versions) >= 4  # base + ingest A + compact + ingest B

    def expected_at(v, qids):
        idx_v = SegmentIndex.open(spark, idx_dir, version=v)
        qdf = spark.createDataFrame(
            [(q, file_texts[q]) for q in qids],
            "query_id string, text string",
        )
        return {
            (r["query_id"], r["rank"], r["doc_id"], r["score_micro"])
            for r in segment_topk(idx_v, qdf, k=3, micro=True).collect()
        }

    batches = [r["batch_id"] for r in
               res.select("batch_id").distinct().collect()]
    matched_versions = {}
    for b in batches:
        rows = res.filter(F.col("batch_id") == b).collect()
        got = {(r["query_id"], r["rank"], r["doc_id"], r["score_micro"])
               for r in rows}
        qids = file_sets[rows[0]["query_id"]]
        ok = [v for v in versions if expected_at(v, qids) == got]
        assert ok, (
            f"batch {b} ({qids}) matches NO committed snapshot — "
            f"torn read: {sorted(got)}"
        )
        matched_versions[b] = ok
    # and the known-deterministic batches landed on the expected side
    # of each commit: q2 on the post-ingest-A layered snapshot, q3
    # post-compact, q4b's doc only exists post-ingest-B
    assert len(matched_versions) == 4


def test_stream_vector_ingest_atomic_generations(spark, tmp_path):
    """Streaming vector ingest: each micro-batch commits exactly one
    atomic delta generation; after the stream drains, merge-on-read
    probes equal a full rebuild of the logical set; re-running the
    drained stream changes nothing (exactly-once); periodic compaction
    folds generations without changing answers."""
    import numpy as np
    import pandas as pd

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.similarity import (
        lsh_persist,
        lsh_topk_persisted,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.snapshot import (
        read_snapshot,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.ingest import (
        stream_vector_ingest,
    )

    def mk(ids, shift=0.0):
        return pd.DataFrame({
            "vec_id": ids,
            "embedding": [
                [float(x) for x in np.random.RandomState(1000 + i).normal(
                    loc=shift, size=16)]
                for i in ids
            ],
        })

    base_pdf = mk(range(40))
    d = str(tmp_path / "slsh")
    lsh_persist(spark.createDataFrame(base_pdf), d, n_planes=6)

    # 2 file drops: new vectors 40-59, then 60-69 + an overwrite of
    # vec 0 (shifted — must supersede the base row)
    src = str(tmp_path / "vin")
    ckpt = str(tmp_path / "vckpt")
    spark.createDataFrame(mk(range(40, 60))).write.mode("append").parquet(src)
    b2 = pd.concat([mk(range(60, 70)), mk([0], shift=3.0)])
    spark.createDataFrame(b2).write.mode("append").parquet(src)

    q = stream_vector_ingest(spark, src, d, ckpt,
                             trigger_available_now=True,
                             max_files_per_trigger=2)
    q.awaitTermination(300)
    snap = read_snapshot(d)
    # one upsert snapshot, carrying one generation, per non-empty batch
    assert snap["operation"] == "upsert"
    assert len(snap["generations"]) == snap["version"] >= 2

    # logical set == rebuild: base 1-39 + streamed 40-69 + overwritten 0
    logical_pdf = pd.concat([mk([0], shift=3.0), base_pdf.iloc[1:],
                             mk(range(40, 70))])
    d2 = str(tmp_path / "slsh_rebuilt")
    lsh_persist(spark.createDataFrame(logical_pdf), d2, n_planes=6)
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": ["v0", "v45", "v65"],
        "qvec": [list(logical_pdf[logical_pdf.vec_id == i]
                      .embedding.iloc[0]) for i in (0, 45, 65)],
    }))

    def rows(df):
        return {(r["query_id"], r["rank"], r["vec_id"], r["cosine_micro"])
                for r in df.collect()}

    got = rows(lsh_topk_persisted(spark, d, qs, k=5))
    want = rows(lsh_topk_persisted(spark, d2, qs, k=5))
    assert got == want and len(got) > 0

    # exactly-once: draining the same checkpointed stream again must
    # not add generations
    q2 = stream_vector_ingest(spark, src, d, ckpt,
                              trigger_available_now=True)
    q2.awaitTermination(300)
    assert read_snapshot(d) == snap
    assert rows(lsh_topk_persisted(spark, d, qs, k=5)) == got

    # compaction cadence: a fresh stream over the same files with
    # compact_every=1 folds every generation; answers unchanged
    d3 = str(tmp_path / "slsh_c")
    lsh_persist(spark.createDataFrame(base_pdf), d3, n_planes=6)
    q3 = stream_vector_ingest(spark, src, d3, str(tmp_path / "vckpt3"),
                              trigger_available_now=True,
                              max_files_per_trigger=2,
                              compact_every=1)
    q3.awaitTermination(300)
    snap3 = read_snapshot(d3)
    assert snap3["operation"] == "compact"
    assert len(snap3["generations"]) == 1
    assert rows(lsh_topk_persisted(spark, d3, qs, k=5)) == got

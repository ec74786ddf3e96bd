"""Segment index: build → query equals the single-node oracle;
interrupted builds resume without recomputation; hot-term salting
produces ordered, disjoint blocks (SURVEY §5.3 resume test, §7.4)."""

from __future__ import annotations

import json
import math
import os
import random
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.bm25 import (
    score_py,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokenize_py,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    POSTING_COLS,
    SegmentIndex,
    bucket_col,
    bucket_py,
    build_segment_index,
    drop_index,
    segment_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
    bm25_topk,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.oracle import (
    OracleIndex,
    oracle_topk_frame,
)

K = 10


def _oracle(corpus) -> OracleIndex:
    """The single-node oracle over ``corpus`` (doc_id, content)."""
    idx = OracleIndex()
    for r in corpus.select("doc_id", "content").collect():
        idx.add(int(r["doc_id"]), r["content"])
    return idx


def _oracle_topk_micro(oracle: OracleIndex, queries_pdf, k: int) -> list:
    """The registry's top-k in integer micro units: each per-term
    contribution rounded half-up to 1e-6 before the sum, ranked
    (score_micro DESC, doc_id ASC) — as (query_id, rank, doc_id,
    score_micro, matched_terms) tuples."""
    rows = []
    for _, q in queries_pdf.iterrows():
        terms = sorted(set(tokenize_py(q["text"])))
        scored = []
        for doc, matched in oracle.candidates(terms).items():
            micro = 0
            for t in terms:
                docs = oracle.postings.get(t, {})
                if doc in docs:
                    contrib = score_py(docs[doc], len(docs),
                                       oracle.doc_len[doc], oracle.n_docs,
                                       oracle.avgdl)
                    micro += int(Decimal(contrib * 1_000_000.0).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP))
            scored.append((-micro, doc, matched))
        scored.sort()
        rows += [(q["query_id"], rank, doc, -neg, matched)
                 for rank, (neg, doc, matched) in enumerate(scored[:k], 1)]
    return rows


def _segments_fingerprint(spark, index_dir):
    """Every encoded block (payload bytes included) plus the snapshot
    stats that feed scoring."""
    idx = SegmentIndex.open(spark, index_dir)
    blocks = sorted(
        (r["bucket"], r["term"], r["salt"], r["block_seq"], r["df"],
         r["n_docs"], bytes(r["payload"]).hex())
        for r in idx.segments(None).select(
            "bucket", "term", "salt", "block_seq", "df", "n_docs",
            "payload",
        ).collect()
    )
    snap = idx.snapshot
    return blocks, (snap["n_docs"], snap.get("sum_dl"), snap["avgdl"])


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("segidx"))


@pytest.fixture(scope="module")
def built(spark, corpus_df, index_dir):
    corpus = with_doc_id(corpus_df)
    # hot_df tiny so the Zipf head actually gets salted at test scale
    report = build_segment_index(
        spark, corpus, index_dir, n_buckets=4, hot_df=8, block_size=16
    )
    return corpus, report


def test_build_commits_snapshot_and_manifests(built, index_dir):
    _, report = built
    assert sorted(report.built_buckets) == [0, 1, 2, 3]
    assert report.snapshot_version == 1
    assert open(f"{index_dir}/CURRENT").read().strip() == "1"
    for b in range(4):
        m = json.load(open(f"{index_dir}/manifests/init/bucket_{b}.json"))
        assert m["status"] == "committed"
        assert m["n_postings"] > 0


SCHEMAS = {
    False: "struct<query_id:string,rank:int,doc_id:bigint,score:double,"
           "matched_terms:bigint>",
    True: "struct<query_id:string,rank:bigint,doc_id:bigint,"
          "score_micro:bigint,matched_terms:bigint>",
}


def test_segment_topk_equals_dataframe_engine(spark, built, index_dir,
                                              queries_df, queries_pdf):
    """``segment_topk`` and the bare spine over the segment index, in
    both score units: the oracle's rows, the same output schema."""
    corpus, _ = built
    seg = SegmentIndex.open(spark, index_dir)
    oracle = _oracle(corpus)
    for micro in (False, True):
        got_df = segment_topk(seg, queries_df, k=K, micro=micro)
        spine_df = bm25_topk(seg, queries_df, k=K, micro=micro)
        assert got_df.schema.simpleString() == SCHEMAS[micro]
        assert spine_df.schema.simpleString() == SCHEMAS[micro]
        got = got_df.orderBy("query_id", "rank").collect()
        assert spine_df.orderBy("query_id", "rank").collect() == got
        if micro:
            # integer units: exact equality, row for row
            want = _oracle_topk_micro(oracle, queries_pdf, K)
            assert [tuple(r) for r in got] == want
            continue
        want = oracle_topk_frame(oracle, queries_pdf, k=K)
        assert len(got) == len(want) > 0
        text = dict(zip(queries_pdf["query_id"], queries_pdf["text"]))
        for g, (_, w) in zip(got, want.iterrows()):
            assert (g["query_id"], g["rank"], g["doc_id"]) == (
                w["query_id"], w["rank"], w["doc_id"],
            )
            assert math.isclose(g["score"], w["score"], rel_tol=1e-9)
            matched = oracle.candidates(tokenize_py(text[g["query_id"]]))
            assert g["matched_terms"] == matched[g["doc_id"]]


def test_blocks_are_salted_ordered_disjoint(spark, built, index_dir):
    """Hot terms must fan out to >1 salt; within a term, blocks sorted
    by (salt, block_seq) must have non-overlapping ascending
    [doc_id_lo, doc_id_hi] ranges — the property WAND's sequential
    merge relies on."""
    segs = SegmentIndex.open(spark, index_dir).segments()
    hot = (
        segs.groupBy("term")
        .agg(
            F.countDistinct("salt").alias("n_salts"),
            F.sum("n_docs").alias("df"),
        )
        .filter(F.col("df") > 8 * 2)
        .collect()
    )
    assert any(r["n_salts"] > 1 for r in hot), "no hot term was salted"
    rows = segs.orderBy("term", "salt", "block_seq").collect()
    prev = {}
    for r in rows:
        key = r["term"]
        assert r["doc_id_lo"] <= r["doc_id_hi"]
        if key in prev:
            assert r["doc_id_lo"] > prev[key], (
                f"term {key}: block ranges overlap or out of order"
            )
        prev[key] = r["doc_id_hi"]
        # stored bounds are per-block maxima of the raw stats
        assert r["max_tf"] >= 1 and r["min_dl"] >= 1


def test_interrupted_build_resumes_without_recompute(spark, corpus_df, queries_df, tmp_path):
    """Kill after 2 of 4 buckets; resume must skip the committed ones
    and produce an index identical to the one-shot build."""
    corpus = with_doc_id(corpus_df)
    d = str(tmp_path / "resume_idx")
    r1 = build_segment_index(
        spark, corpus, d, n_buckets=4, hot_df=8, block_size=16, buckets=[0, 1]
    )
    assert r1.built_buckets == [0, 1]
    assert r1.snapshot_version is None  # not committed yet
    with pytest.raises(FileNotFoundError):
        SegmentIndex.open(spark, d)

    mtimes = {
        b: os.path.getmtime(f"{d}/manifests/init/bucket_{b}.json") for b in (0, 1)
    }
    r2 = build_segment_index(
        spark, corpus, d, n_buckets=4, hot_df=8, block_size=16, resume=True
    )
    assert r2.phase_a_skipped
    assert r2.skipped_buckets == [0, 1]
    assert r2.built_buckets == [2, 3]
    assert r2.snapshot_version == 1
    for b in (0, 1):  # committed buckets untouched
        assert os.path.getmtime(f"{d}/manifests/init/bucket_{b}.json") == mtimes[b]

    # the resumed index equals a one-shot build: every block
    # byte-identical, the same stats, the same micro-unit top-k
    one = str(tmp_path / "one_shot_idx")
    build_segment_index(spark, corpus, one, n_buckets=4, hot_df=8,
                        block_size=16)
    assert _segments_fingerprint(spark, d) == _segments_fingerprint(spark, one)

    def topk(index_dir):
        return segment_topk(SegmentIndex.open(spark, index_dir), queries_df,
                            k=K, micro=True).orderBy("query_id", "rank")\
            .collect()

    got = topk(d)
    assert got and got == topk(one)
    drop_index(d)
    drop_index(one)


def test_resume_verify_inputs_rebuilds_tampered_bucket(spark, corpus_df, tmp_path):
    """Resume lineage check: manifests record an input_digest of each
    bucket's (term, df) multiset; ``verify_inputs=True`` recomputes it
    from the checkpointed doc_terms and rebuilds any bucket whose
    inputs no longer match — plain resume still trusts the manifest."""
    import json as _json

    from pyspark.sql import functions as F

    corpus = with_doc_id(corpus_df)
    d = str(tmp_path / "verify_idx")
    r1 = build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8,
                             block_size=16)
    assert r1.snapshot_version == 1
    m0 = _json.load(open(f"{d}/manifests/init/bucket_0.json"))
    assert m0["input_digest"] != 0 and m0["term_min"] <= m0["term_max"]

    # tamper bucket 0's checkpointed doc_terms: drop one term's rows
    dt_dir = f"{d}/data/dt_init"
    dt0_pdf = spark.read.parquet(f"{dt_dir}/bucket=0").toPandas()
    victim = dt0_pdf["term"].iloc[0]
    spark.createDataFrame(
        dt0_pdf[dt0_pdf["term"] != victim]
    ).write.mode("overwrite").parquet(f"{dt_dir}/bucket=0")

    # plain resume: trusts manifests, skips everything
    r2 = build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8,
                             block_size=16, resume=True)
    assert r2.skipped_buckets == [0, 1, 2, 3] and r2.built_buckets == []

    # verifying resume: bucket 0 fails its digest and rebuilds; the
    # others still skip
    r3 = build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8,
                             block_size=16, resume=True, verify_inputs=True)
    assert r3.built_buckets == [0]
    assert r3.skipped_buckets == [1, 2, 3]
    # rebuilt manifest reflects the tampered (smaller) input
    m0b = _json.load(open(f"{d}/manifests/init/bucket_0.json"))
    assert m0b["input_digest"] != m0["input_digest"]
    assert m0b["n_terms"] == m0["n_terms"] - 1
    # a second verifying resume is now clean — everything skips
    r4 = build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8,
                             block_size=16, resume=True, verify_inputs=True)
    assert r4.built_buckets == [] and r4.skipped_buckets == [0, 1, 2, 3]
    drop_index(d)


def test_bucket_pruning_reads_subset(spark, built, index_dir):
    """postings_for_terms must touch only the bucket its term hashes
    to: a static partition filter naming one bucket, resolved without
    a job, and every posting of the term read from it."""
    import re

    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )

    seg = SegmentIndex.open(spark, index_dir)
    one = seg.postings_for_terms(["tok0000"])
    plan = plan_string(one)
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters and "dynamicpruning" not in plan.lower(), filters
    named = {int(b) for f in filters
             for b in re.findall(r"bucket#\d+ = (\d+)", f)}
    (bucket,) = {r["bucket"] for r in seg.doc_terms()
                 .filter(F.col("term") == "tok0000")
                 .select("bucket").distinct().collect()}
    assert named == {bucket}, filters
    want = seg.doc_terms().filter(F.col("term") == "tok0000").count()
    assert one.count() == want > 0


HOSTILE_TERMS = ["it's", "back\\slash", "a\\'b", 'quo"te', "ünïcödé",
                 "日本", "", "tok0000", "tok0001"]


def _column_terms_filter(seg, terms):
    """The Column-per-term form ``terms_filter`` replaced (the
    reference its one-string form must agree with)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        bucket_col,
    )

    return F.col("bucket").isin(
        [bucket_col(F.lit(t), seg.n_buckets) for t in terms]
    ) & F.col("term").isin(terms)


def test_terms_filter_on_hostile_terms(spark, built, index_dir):
    """``terms_filter`` (one SQL string, terms as hex literals) selects
    the same rows as the Column form for terms with quotes,
    backslashes, unicode and the empty string — on a frame holding
    those terms and on the index through ``postings_for_terms`` — and
    still prunes buckets statically, with no job and no dynamic
    pruning."""
    import re

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        bucket_col,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        plan_string,
    )

    seg = SegmentIndex.open(spark, index_dir)
    rows = spark.createDataFrame(
        [(t,) for t in HOSTILE_TERMS + ["its", "backslash", "other"]],
        "term string",
    ).withColumn("bucket", bucket_col(F.col("term"), seg.n_buckets))

    def terms_of(df):
        return sorted(r["term"] for r in df.select("term").collect())

    assert terms_of(rows.filter(seg.terms_filter(HOSTILE_TERMS))) == \
        terms_of(rows.filter(_column_terms_filter(seg, HOSTILE_TERMS))) == \
        sorted(HOSTILE_TERMS)
    assert rows.filter(seg.terms_filter([])).count() == 0

    got = seg.postings_for_terms(HOSTILE_TERMS)
    want = seg._postings(  # noqa: SLF001
        seg.doc_terms().filter(_column_terms_filter(seg, sorted(HOSTILE_TERMS))))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert {r["term"] for r in got.collect()} == {"tok0000", "tok0001"}

    plan = plan_string(got)
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert filters and "dynamicpruning" not in plan.lower(), filters
    assert not any("xxhash64" in f for f in filters), filters
    named = {int(b) for f in filters
             for b in re.findall(r"\d+", re.sub(r"#\d+", "", f))}
    buckets = {r["bucket"] for r in rows.filter(
        F.col("term").isin(HOSTILE_TERMS)).collect()}
    assert named == buckets, (filters, buckets)


def test_bucket_py_equals_bucket_col(spark):
    """``bucket_py`` (the driver's XXH64) puts every term in the bucket
    the JVM's ``bucket_col`` does: hostile terms and 2,000 seeded
    strings of 1- to 4-byte UTF-8 characters, whose byte lengths
    reach the 32-byte stripe loop and every 8-, 4- and 1-byte tail."""
    rng = random.Random(1101)
    chars = "az09_'\\ " + "éß" + "日本€" + "😀𝄞"
    terms = HOSTILE_TERMS + [
        "".join(rng.choice(chars) for _ in range(rng.randint(0, 80)))
        for _ in range(2000)
    ]
    sizes = [len(t.encode("utf-8")) for t in terms]
    assert {n % 8 for n in sizes} == set(range(8)) and max(sizes) >= 64
    ns = [1, 8, 4096]
    got = spark.createDataFrame([(t,) for t in terms], "term string").select(
        "term", *[bucket_col(F.col("term"), n).alias(str(n)) for n in ns]
    ).collect()
    assert len(got) == len(terms)
    bad = [(r["term"], n) for r in got for n in ns
           if bucket_py(r["term"], n) != r[str(n)]]
    assert not bad, bad[:5]


def _scan_postings(seg, terms) -> list:
    """The JVM reader's posting rows of ``terms``: the rows
    ``SegmentIndex.local_postings`` must return."""
    cols = POSTING_COLS + (["gen_seq"] if seg.has_deltas else [])
    return sorted(map(tuple, seg.doc_terms().filter(seg.terms_filter(terms))
                      .select(*cols).collect()))


def _local_postings(spark, seg, terms) -> list:
    """``seg.local_postings(terms)`` as sorted tuples, checked to have
    the reader's columns and to launch no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("local_postings", "local_postings")
    try:
        pdf = seg.local_postings(terms)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("local_postings") == []
    assert list(pdf.columns) == \
        POSTING_COLS + (["gen_seq"] if seg.has_deltas else [])
    return sorted(pdf.itertuples(index=False, name=None))


def test_local_postings_equal_the_spark_scan(spark, corpus_pdf, tmp_path):
    """The driver's Arrow reader returns the JVM scan's posting rows,
    with no job: on a fresh snapshot and on a layered one whose layer
    map is sparse (a one-doc add and a delete), for hostile terms, an
    out-of-vocabulary term and no terms; names Spark skips in a bucket
    dir are skipped; the tombstone arrays come from the same reader;
    and a base map missing a bucket raises ``KeyError``, as the JVM
    reader does."""
    import shutil

    d = str(tmp_path / "idx")
    build_segment_index(
        spark, with_doc_id(spark.createDataFrame(corpus_pdf.iloc[:40])), d,
        n_buckets=16, hot_df=8, block_size=8,
    )
    fresh = SegmentIndex.open(spark, d)
    removed = corpus_pdf.iloc[[3]]
    added = corpus_pdf.iloc[[40]].assign(content="tok0000 layeronly")
    apply_updates(spark, d, mode="delta",
                  add_corpus=spark.createDataFrame(added),
                  delete_keys=spark.createDataFrame(
                      removed[["repo", "path", "commit"]]))
    layered = SegmentIndex.open(spark, d)
    assert 0 < len(layered.layers[0]["buckets"]) < layered.n_buckets
    terms = sorted(set(HOSTILE_TERMS + ["layeronly", "zzqabsent"]
                       + tokenize_py(removed["content"].iloc[0])[:20]))
    for seg in (fresh, layered):
        want = _scan_postings(seg, terms)
        assert want and _local_postings(spark, seg, terms) == want
        assert _local_postings(spark, seg, ["zzqabsent"]) == []
        assert _local_postings(spark, seg, []) == []
    assert {r[-1] for r in _scan_postings(layered, terms)} == {0, 1}

    # the newest tombstone per doc, as the layer's parquet holds it
    ids, seqs = layered.tombstone_arrays()
    stored = spark.read.parquet(f"{d}/{layered.layers[0]['tombstones']}")
    assert ids.tolist() == sorted(r["doc_id"] for r in stored.collect())
    assert seqs.tolist() == [1] * len(ids)
    assert fresh.tombstone_arrays() is None

    # Spark's own leftovers and hidden files in a bucket dir hold no rows
    rel = fresh.snapshot["buckets"][str(bucket_py("tok0000", 16))]["doc_terms"]
    bdir = f"{d}/{rel}"
    for name in ("_SUCCESS", ".part-0.parquet.crc", "_temporary/part-0.parquet"):
        os.makedirs(os.path.dirname(f"{bdir}/{name}"), exist_ok=True)
        with open(f"{bdir}/{name}", "wb") as f:
            f.write(b"not parquet")
    for seg in (SegmentIndex.open(spark, d, 1), SegmentIndex.open(spark, d)):
        assert _local_postings(spark, seg, terms) == _scan_postings(seg, terms)
    shutil.rmtree(f"{bdir}/_temporary")

    snap = {**fresh.snapshot, "buckets": {
        b: m for b, m in fresh.snapshot["buckets"].items() if b != "5"}}
    truncated = SegmentIndex(spark=spark, index_dir=d, snapshot=snap)
    with pytest.raises(KeyError, match="missing bucket 5"):
        truncated.local_postings(["tok0000"])
    with pytest.raises(KeyError, match="missing bucket 5"):
        truncated.doc_terms()


def test_positions_requested_without_stored_positions_raise(spark, built,
                                                           index_dir):
    """An index built with store_positions=False has no positions to
    read: asking for them raises before any job runs."""
    seg = SegmentIndex.open(spark, index_dir)
    assert not seg.store_positions
    qt = spark.createDataFrame([("tok0001",)], "term string")
    with pytest.raises(ValueError, match="store_positions=False"):
        seg.postings_for_query_terms(qt, with_positions=True)
    with pytest.raises(ValueError, match="store_positions=False"):
        seg.positions_for_query_terms(qt)


def test_positions_roundtrip_through_segments(spark, corpus_df, tmp_path):
    """store_positions=True: per-doc occurrence offsets survive the
    persisted doc_terms exactly (segment postings == the oracle's
    positions), and the positional verifier gives the oracle's
    answers from the query terms' postings and from the full
    ``merged_doc_terms`` scan. The positions-free BM25 read of the
    same index returns the same postings."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.positional import (
        positional_verify,
        query_term_positions,
    )

    corpus = with_doc_id(corpus_df)
    d = str(tmp_path / "posidx")
    build_segment_index(spark, corpus, d, n_buckets=4, hot_df=8,
                        block_size=16, store_positions=True)
    seg = SegmentIndex.open(spark, d)
    oracle = _oracle(corpus)

    queries = spark.createDataFrame(
        [("q0", "tok0001 tok0002"), ("q1", "uniq00003doc tok0004 tok0001")],
        "query_id string, text string",
    )
    qtp = query_term_positions(queries)

    # postings parity including positions
    got = {
        (r["term"], r["doc_id"]): list(r["positions"])
        for r in seg.postings_for_query_terms(qtp, with_positions=True)
        .collect()
    }
    qterms = [r["term"] for r in qtp.select("term").distinct().collect()]
    want = {
        (t, doc): ps
        for t in qterms
        for doc, ps in oracle.positions.get(t, {}).items()
    }
    assert got == want and len(got) > 0

    # positional_verify parity: the offset-histogram vote recomputed
    # from the oracle's positions (ties on the smallest delta)
    votes: Counter = Counter()
    for r in qtp.collect():
        for doc, ps in oracle.positions.get(r["term"], {}).items():
            for p in ps:
                votes[(r["query_id"], doc, p - r["qpos"])] += 1
    best: dict = {}
    for (qid, doc, delta), n in sorted(votes.items()):
        if n > best.get((qid, doc), (None, 0))[1]:
            best[(qid, doc)] = (delta, n)
    key = lambda r: (r["query_id"], r["doc_id"])  # noqa: E731
    for postings in (
        seg.postings_for_query_terms(qtp, with_positions=True),
        seg.merged_doc_terms(),
    ):
        pv = positional_verify(postings, queries).collect()
        assert {key(r): (r["best_delta"], r["aligned_count"])
                for r in pv} == best
    assert len(best) > 0

    # positions-free decode of the same blocks still works (BM25 path)
    n = seg.postings_for_query_terms(qtp).count()
    assert n == len(got)


def test_batched_encoder_matches_encode_block(spark):
    """The vectorized partition encoder must emit byte-identical
    payloads to the reference single-block codec (encode_block),
    across group/block boundaries and negative doc_ids."""
    import numpy as np
    import pandas as pd

    from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.codec import (
        encode_block,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        _encode_partition,
    )

    rng = np.random.RandomState(3)
    rows = []
    for term, salt, n_docs in [("a", 0, 1), ("a", 1, 7), ("b", 0, 5),
                               ("c", 0, 11)]:
        ids = np.unique(
            rng.randint(-2**61, 2**61, size=n_docs * 2).astype(np.int64)
        )[:n_docs]
        for d in ids:
            rows.append({"bucket": 0, "term": term, "salt": salt,
                         "doc_id": int(d), "tf": int(rng.randint(1, 5)),
                         "doc_len": int(rng.randint(10, 500))})
    pdf = pd.DataFrame(rows).sort_values(
        ["term", "salt", "doc_id"], ignore_index=True
    )

    got = pd.concat(
        list(_encode_partition(300.0, 4)(iter([pdf]))),
        ignore_index=True,
    )
    # expected: per (term, salt) group, blocks of 4 via encode_block
    exp = {}
    for (term, salt), g in pdf.groupby(["term", "salt"], sort=True):
        g = g.sort_values("doc_id")
        ids = g["doc_id"].to_numpy(np.int64)
        tfs = g["tf"].to_numpy(np.int64)
        dls = g["doc_len"].to_numpy(np.int64)
        for seq, s in enumerate(range(0, len(ids), 4)):
            e = min(s + 4, len(ids))
            exp[(term, salt, seq)] = encode_block(
                ids[s:e], tfs[s:e], dls[s:e]
            )
    assert len(got) == len(exp)
    for _, r in got.iterrows():
        want = exp[(r["term"], int(r["salt"]), int(r["block_seq"]))]
        assert bytes(r["payload"]) == want, (
            r["term"], r["salt"], r["block_seq"]
        )

"""Block-max top-k executor over the segment index (exact, pruned).

Reference parity: the reference ranks candidates by shared-key count
and evaluates them in that order, stopping at the first one above the
threshold (``searchLUT_v2`` ordering ``_Shazam_.py:505`` + the
first-above-threshold break ``Matching.py:122-131``) — i.e.
upper-bound-ordered evaluation with early exit. This module is the
principled generalization (SURVEY §4): **interval-at-a-time block-max
WAND**. Each query term's postings are cut into blocks of the
snapshot's ``block_size`` consecutive docs; doc space (dense doc
ranks: a placement numbers the distinct doc ids it reads in id order)
is partitioned into atomic intervals by the block boundaries of the
query's terms; each interval's upper bound is the sum of the (single,
because blocks of a term are disjoint) overlapping block bound per
term. Intervals are processed in descending upper-bound order,
scoring is numpy-vectorized per interval, and the loop stops as soon
as the running top-k floor beats the best remaining interval bound —
blocks in skipped intervals are never scored.

This is the one executor behind every pruned top-k request:
``wand_topk`` callers, the CLI's ``query --wand``, ``stream_match``
micro-batches and ``batch_match_resumable`` groups, on compacted and
layered snapshots alike. ``segments.segment_topk`` stays as the
brute-force reference the tests compare against.

Execution shape: a request's critical path is the postings scan and
the kernel, nothing else. Both placements read the engine's one
postings reader — the stored ``doc_terms`` columns, (term, doc_id,
tf, doc_len[, gen_seq]) rows — and run the same kernel (``_kernel``):

- **driver** — a query frame that already lives on the driver
  (``isLocal()``) and is small enough for the index
  (``driver_max_queries``: at most ``DRIVER_MAX_QUERIES`` rows, or
  more while rows × docs stays within ``DRIVER_MAX_QUERY_DOCS``): the
  reference's one-clip-at-a-time request (``Matching.py:96-131``), and
  a driver-held batch while answering it in one process still beats
  sharing. The queries tokenize in Python (``tokenize_py``), their
  terms' posting rows arrive by ONE bucket-pruned JVM scan whose
  predicate is one SQL string (``terms_filter``), the kernel runs on
  the driver and the answer is a local relation. One Spark job, no
  exchange, no Python worker.
- **grouped** — every other frame (larger local batches, ``batch_match``
  groups, streaming micro-batches). The query side is ONE broadcast — query
  terms (one partition; queries are the small axis, the reference's
  nj=32 splits) grouped to (bucket, term, group) → query ids without
  an exchange — which the postings scan joins on (bucket, term) and
  which dynamic partition pruning reuses to skip untouched buckets.
  The posting rows then shuffle once, by group, into the
  ``applyInPandas`` kernel. 3 Spark jobs (broadcast build, scan +
  shuffle, kernel) and one exchange, whatever the batch size: sharing
  them pays only past the measured crossover.

The kernel sees each term's rows once: on a layered snapshot it first
drops the rows a newer tombstone supersedes (the snapshot's tombstone
arrays, per-``SegmentIndex`` state built on first use; the grouped
placement ships them as the snapshot's one broadcast). Compaction, not
the kernel, bounds how many tombstones a snapshot carries
(``maintenance.CompactionPolicy``). A doc is alive in exactly one
generation per term, so the surviving rows of a term form one
rank-sorted array whatever the layering: its length is the
exact df, contributions are computed once (float or micro), and each
block's bound is the exact maximum contribution of its postings
(``np.maximum.reduceat``) under the CURRENT snapshot's n_docs/avgdl.

Exactness: returned top-k docs and scores are identical to the
brute-force path (tests/test_wand.py asserts equality at k=1/3/10);
per-doc scores are computed in one vectorized reduction, and the
deterministic tie-break (score DESC, doc_id ASC) is applied at the
end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.bm25 import (
    B,
    K1,
    idf_py,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokenize_py,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    bucket_col,
)

# A driver-held query frame is answered on the driver while it holds
# at most DRIVER_MAX_QUERIES rows, on any index, or while rows × n_docs
# stays within DRIVER_MAX_QUERY_DOCS (``driver_max_queries``); larger
# ones share the grouped path's fixed 3 jobs. The measured crossover,
# ``scripts/wand_crossover.py --docs 600,5000,20000 --batches
# 4,8,16,32,64,128 --pairs 8`` (median speed-up of the driver placement
# over the grouped one, and pairs of 8 it won; perfbench's 8-token
# query mix, default layout, 4 vCPUs):
#
#   queries     4          8          16         32         64         128
#   600 docs  3.22 (8)   3.13 (8)   3.24 (8)   2.61 (8)   2.00 (8)   1.41 (8)
#   5k docs   2.69 (8)   2.56 (8)   1.71 (8)   1.61 (8)   1.18 (7)   0.82 (1)
#   20k docs  2.00 (8)   1.39 (8)   1.37 (8)   1.11 (5)   1.03 (4)   0.68 (0)
#
# The driver scores every query's postings in one process, so its cost
# grows with batch size × posting volume, while the grouped path's is
# mostly fixed. 40k query·docs sends 64 queries at 600 docs and 8 at 5k
# to the driver, and the 4-query floor sends 4 at 20k, each won in 8 of
# 8 pairs. Some shapes it keeps grouped win on the driver too (up to 32
# at 5k and 16 at 20k); the limits are set where every shape they send
# is a clear win. A count cap alone would not do: 64 queries win 8 of 8
# pairs on 600 docs but only 4 of 8 on 20k.
DRIVER_MAX_QUERIES = 4
DRIVER_MAX_QUERY_DOCS = 40_000

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("rank", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("matched_terms", T.IntegerType()),
        T.StructField("blocks_decoded", T.IntegerType()),
        T.StructField("blocks_total", T.IntegerType()),
    ]
)


class _Term:
    """One query term's surviving postings: rank-sorted ``ids`` (dense
    doc ranks, see ``_kernel``) and their BM25 ``contribs`` (float, or
    int64 micro-units), cut into blocks of ``block_size`` consecutive
    postings. A block's bound is the largest contribution in it, so it
    is exact, and in micro mode it is the very integer the block's docs
    add.

    In batched execution one ``_Term`` per term is shared by every
    query of the group; ``requested`` tracks which blocks the CURRENT
    query scored (reset per query), so per-query pruning counters stay
    meaningful under sharing."""

    __slots__ = ("ids", "contribs", "starts", "ends", "los", "his",
                 "bounds", "requested")

    def __init__(self, ids: np.ndarray, contribs: np.ndarray,
                 block_size: int):
        self.ids = ids
        self.contribs = contribs
        self.starts = np.arange(0, ids.size, block_size)
        self.ends = np.append(self.starts[1:], ids.size)
        self.los, self.his = ids[self.starts], ids[self.ends - 1]
        self.bounds = np.maximum.reduceat(contribs, self.starts)
        self.requested: set[int] = set()

    def slice(self, bi: int, start: np.int64, end: np.int64):
        """(ids, contribs) of block bi restricted to [start, end]."""
        self.requested.add(bi)
        ids = self.ids[self.starts[bi]:self.ends[bi]]
        s = np.searchsorted(ids, start, side="left")
        e = np.searchsorted(ids, end, side="right")
        return ids[s:e], self.contribs[self.starts[bi]:self.ends[bi]][s:e]


def _topk_one_query(terms: list[_Term], k: int):
    """Interval-at-a-time block-max top-k over dense doc ranks. Returns
    (ranks, scores, matched, scored_blocks, total_blocks), ranked
    (score DESC, rank ASC)."""
    # atomic intervals: cut rank space at every block lo and hi+1 (a
    # rank is below the doc count, so hi+1 cannot overflow)
    cuts = np.unique(np.concatenate(
        [t.los for t in terms] + [t.his + 1 for t in terms]))
    starts = cuts[:-1]
    ends = cuts[1:] - 1  # inclusive
    n_int = starts.size

    # per (interval, term): overlapping block index (or -1) and bound
    blk = np.full((len(terms), n_int), -1, dtype=np.int64)
    ub = np.zeros(n_int, dtype=np.float64)
    for ti, t in enumerate(terms):
        i = np.searchsorted(t.los, starts, side="right") - 1
        valid = (i >= 0) & (t.his[np.clip(i, 0, None)] >= starts)
        blk[ti] = np.where(valid, i, -1)
        ub += np.where(valid, t.bounds[np.clip(i, 0, None)], 0.0)

    order = np.argsort(-ub, kind="stable")
    top_docs: np.ndarray = np.zeros(0, np.int64)
    top_scores: np.ndarray = np.zeros(0, np.float64)
    top_matched: np.ndarray = np.zeros(0, np.int32)
    floor = -np.inf

    for ii in order:
        if ub[ii] <= 0:
            break
        if top_docs.size >= k and ub[ii] < floor:
            # no remaining interval can beat the floor (strict: a doc
            # achieving EXACTLY the floor could still win the doc_id
            # tie-break, so ub == floor intervals are processed)
            break
        s, e = starts[ii], ends[ii]
        ids_parts, c_parts = [], []
        for ti, t in enumerate(terms):
            bi = int(blk[ti, ii])
            if bi >= 0:
                ids_p, c_p = t.slice(bi, s, e)
                if ids_p.size:
                    ids_parts.append(ids_p)
                    c_parts.append(c_p)
        if not ids_parts:
            continue
        ids = np.concatenate(ids_parts)
        contribs = np.concatenate(c_parts)
        uniq, inv = np.unique(ids, return_inverse=True)
        scores = np.zeros(uniq.size)
        np.add.at(scores, inv, contribs)
        matched = np.zeros(uniq.size, dtype=np.int32)
        np.add.at(matched, inv, 1)
        # merge into running top-k
        top_docs = np.concatenate([top_docs, uniq])
        top_scores = np.concatenate([top_scores, scores])
        top_matched = np.concatenate([top_matched, matched])
        if top_docs.size > k:
            sel = np.lexsort((top_docs, -top_scores))[:k]
            top_docs, top_scores, top_matched = (
                top_docs[sel], top_scores[sel], top_matched[sel],
            )
        if top_docs.size >= k:
            floor = float(top_scores.min())

    sel = np.lexsort((top_docs, -top_scores))[:k]
    scored = sum(len(t.requested) for t in terms)
    total = sum(t.los.size for t in terms)
    return (top_docs[sel], top_scores[sel], top_matched[sel], scored, total)


def result_schema(micro: bool) -> T.StructType:
    """``RESULT_SCHEMA``, with ``score_micro`` (long) in place of
    ``score`` when ``micro``: the schema of every WAND answer, and of
    the batch and streamed match outputs written from it."""
    if not micro:
        return RESULT_SCHEMA
    return T.StructType([
        T.StructField("score_micro", T.LongType()) if f.name == "score" else f
        for f in RESULT_SCHEMA
    ])


def _duplicate_id_error(qid) -> ValueError:
    return ValueError(
        f"duplicate query_id {qid!r}: each query needs its own id (a "
        "repeated id would sum its rows' scores)"
    )


# a posting row as both placements read it from the doc_terms columns
# (``gen_seq`` is added on a layered snapshot)
POSTING_COLS = ["term", "doc_id", "tf", "doc_len"]


def _alive(ids: np.ndarray, gens: np.ndarray,
           tomb: tuple[np.ndarray, np.ndarray]) -> np.ndarray:
    """Boolean mask of the posting rows (doc ``ids`` at generations
    ``gens``) that no newer tombstone supersedes: ``tomb`` = sorted
    (doc_id, tomb_seq) arrays, and a row at ``gen`` is dead iff its doc
    has a tombstone with seq > gen."""
    t_ids, t_seqs = tomb
    pos = np.minimum(np.searchsorted(t_ids, ids), t_ids.size - 1)
    return ~((t_ids[pos] == ids) & (t_seqs[pos] > gens))


def _kernel(pdf: pd.DataFrame, t2q: dict, k: int, n_docs: int,
            avgdl: float, block_size: int, micro: bool,
            tomb: tuple[np.ndarray, np.ndarray] | None) -> pd.DataFrame:
    """The WAND answer for the queries of one placement: ``pdf`` holds
    the posting rows (``POSTING_COLS``, plus ``gen_seq`` on a layered
    snapshot) of their terms, ``t2q`` maps each term to the ids of the
    queries that use it. Both placements of ``wand_topk`` call it: the
    grouped path once per group, in a Python worker, the driver path
    once, on the driver."""
    score_name = "score_micro" if micro else "score"
    ids = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.float64)
    dls = pdf["doc_len"].to_numpy(np.float64)
    codes, names = pd.factorize(pdf["term"], sort=True)
    if tomb is not None:
        keep = _alive(ids, pdf["gen_seq"].to_numpy(np.int64), tomb)
        ids, tfs, dls, codes = ids[keep], tfs[keep], dls[keep], codes[keep]
    # one run per term (in term order, so every placement sums a doc's
    # contributions in the same order), doc-id sorted within it
    order = np.lexsort((ids, codes))
    ids, tfs, dls, codes = ids[order], tfs[order], dls[order], codes[order]
    # the kernel scores dense doc ranks (``uniq[rank]`` is the doc id):
    # rank order is doc-id order, so ties break as on doc ids, and an
    # interval cut at a block's hi + 1 cannot overflow
    uniq, ranks = np.unique(ids, return_inverse=True)
    tfnorm = tfs / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    runs = np.flatnonzero(np.diff(codes)) + 1
    terms: dict[str, _Term] = {}
    q2t: dict[str, list[str]] = {}
    for a, b in zip(np.r_[0, runs], np.r_[runs, ids.size]):
        if a == b:
            continue  # no rows at all
        term = names[codes[a]]
        qids = list(t2q[term])
        if len(set(qids)) < len(qids):
            raise _duplicate_id_error(
                next(q for q in qids if qids.count(q) > 1))
        # every surviving row of the term is here, so df is exact
        contribs = idf_py(int(b - a), n_docs) * tfnorm[a:b]
        if micro:
            # integer micro-unit scoring: the per-posting contribution
            # is HALF_UP-rounded to micro BEFORE summing (the driver
            # oracle's order-independent convention)
            contribs = np.floor(contribs * 1e6 + 0.5).astype(np.int64)
        terms[term] = _Term(ranks[a:b], contribs, block_size)
        for qid in qids:
            q2t.setdefault(qid, []).append(term)
    frames = []
    for qid in sorted(q2t):
        ts = [terms[t] for t in q2t[qid]]
        for t in ts:
            t.requested.clear()
        docs, scores, matched, scored, total = _topk_one_query(ts, k)
        n = docs.size
        frames.append(pd.DataFrame(
            {
                "query_id": qid,
                "rank": np.arange(1, n + 1, dtype="int32"),
                "doc_id": uniq[docs],
                # float64 accumulators are exact for micro ints
                # (< 2^53), so this cast is lossless
                score_name: scores.astype(np.int64) if micro else scores,
                "matched_terms": matched,
                "blocks_decoded": np.int32(scored),
                "blocks_total": np.int32(total),
            }
        ))
    if not frames:
        return pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in result_schema(micro)}
        )
    return pd.concat(frames, ignore_index=True)


def driver_max_queries(n_docs: int) -> int:
    """The most rows of a driver-held query frame that ``wand_topk``
    answers on the driver, over an index of ``n_docs`` docs:
    ``DRIVER_MAX_QUERIES`` on any index, more while the batch stays
    within ``DRIVER_MAX_QUERY_DOCS`` query·docs."""
    return max(DRIVER_MAX_QUERIES, DRIVER_MAX_QUERY_DOCS // max(n_docs, 1))


def _driver_topk(index: SegmentIndex, rows: list, k: int,
                 micro: bool) -> DataFrame:
    """The driver placement over ``rows`` ((query_id, text) tuples
    already on the driver): one bucket-pruned JVM scan of the queries'
    posting rows, the kernel here, the answer as a local relation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    t2q: dict[str, list[str]] = {}
    seen: set[str] = set()
    for qid, text in rows:
        if qid is None:  # the grouped path's collect_list drops it too
            continue
        if qid in seen:
            raise _duplicate_id_error(qid)
        seen.add(qid)
        for t in dict.fromkeys(tokenize_py(text)):
            t2q.setdefault(t, []).append(qid)
    layered = index.has_deltas
    tomb = index.tombstone_arrays() if layered else None
    cols = POSTING_COLS + (["gen_seq"] if layered else [])
    postings = pd.DataFrame(columns=cols)  # no terms: no scan
    if t2q:
        postings = (
            index.doc_terms().filter(index.terms_filter(sorted(t2q)))
            .select(*cols).toPandas()
        )
    out = _kernel(postings, t2q, k, index.n_docs, index.avgdl,
                  index.block_size, micro, tomb)
    schema = result_schema(micro)
    table = pa.Table.from_pandas(out, schema=to_arrow_schema(schema),
                                 preserve_index=False)
    return index.spark.createDataFrame(table, schema)


def wand_topk(
    index: SegmentIndex,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "query_id",
    text_col: str = "text",
    micro: bool = False,
) -> DataFrame:
    """Top-k via interval-at-a-time block-max WAND; exact same results
    as segment_topk, plus per-query pruning counters (blocks_decoded =
    blocks scored, blocks_total) so tests and benches can assert
    pruning actually happened. Serves LAYERED (merge-on-read)
    snapshots exactly too — the kernel drops tombstone-superseded rows
    before it groups them by term — so upsert pipelines never need a
    compaction barrier before querying. Each query needs its own
    ``query_id``: a repeated id raises ``ValueError`` instead of
    summing the rows' scores.

    Driver placement: a frame that already lives on the driver
    (``queries.isLocal()``, e.g. one built by ``local_rows_df``) with
    at most ``driver_max_queries(index.n_docs)`` rows — the larger of
    ``DRIVER_MAX_QUERIES`` and ``DRIVER_MAX_QUERY_DOCS // n_docs``, from
    the crossover measured above those constants — is answered at call
    time: the scan of its terms' posting rows runs here, eagerly (1
    Spark job, no exchange, no Python worker), and the result is a
    local relation whose ``collect()`` launches no job. Answering
    eagerly is safe because a ``SegmentIndex`` is a fixed snapshot.

    Batched execution (every other frame): queries are hashed into
    max(shuffle partitions, index.n_buckets) groups and each posting
    row shuffles ONCE per group whose queries touch its term — not
    once per query — and queries inside a group share one ``_Term``
    per term. Per-query results are bit-identical to one-query-per-group
    execution and to the driver placement (the kernel is the same; only
    placement changes).

    ``micro=True`` switches the kernel to exact integer micro-unit
    scoring: each per-posting BM25 contribution is HALF_UP-rounded to
    a micro int BEFORE summing (the driver oracle's order-independent
    hash convention), block bounds are maxima of those ints, and the
    result column is ``score_micro`` (long) instead of ``score``
    (double) — making the pruned executor directly comparable against
    the same ANSI-SQL oracle as the brute-force paths."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
        query_terms,
    )

    if queries.isLocal():
        # reading a local frame (projection + limit fold into the
        # LocalRelation) launches no job
        cap = driver_max_queries(index.n_docs)
        rows = queries.select(id_col, text_col).limit(cap + 1).collect()
        if len(rows) <= cap:
            return _driver_topk(index, rows, k, micro)

    # Layered (merge-on-read) snapshots are served EXACTLY without a
    # compaction barrier: the kernel drops the superseded rows and
    # counts df over the survivors. The tombstone set ships to the
    # kernel as the snapshot's one broadcast; compaction bounds its size
    # (``maintenance.CompactionPolicy``).
    layered = index.has_deltas
    tomb_bc = index.tombstone_broadcast() if layered else None
    # pin parallelism: the per-query loop is CPU-bound Python/numpy —
    # don't let AQE coalesce the (small-bytes) shuffle under the core
    # count and serialize it. Each group is a single-task kernel, so
    # the group count scales WITH the index's bucket count: measured at
    # 4M docs / 128 buckets, 64 groups serialized the kernel leg at
    # 1892 ms/q while 128 groups served at 962, and at ≤32 buckets the
    # max() leaves the shuffle-partitions default untouched (see
    # BENCH/BASELINE.md round-4 knob table)
    n_part = int(index.spark.conf.get("spark.sql.shuffle.partitions"))
    n_grp = max(n_part, index.n_buckets)
    # the query side, ONE broadcast: a row per (bucket, term, group)
    # with that group's query ids — the postings join fans out per
    # GROUP, never per query. The query terms sit in one partition
    # (queries are the small axis), so the group-by needs no exchange.
    qside = (
        query_terms(queries, id_col, text_col).coalesce(1)
        # a selective predicate on the build side is what makes
        # Spark's DPP planner prune the bucket partitions from this
        # same broadcast — no term list ever reaches the driver
        .filter(F.col("term") != "")
        .withColumn("bucket", bucket_col(F.col("term"), index.n_buckets))
        .withColumn("grp", F.pmod(F.xxhash64(F.col("query_id")),
                                  F.lit(n_grp)).cast("int"))
        .groupBy("bucket", "term", "grp")
        .agg(F.collect_list("query_id").alias("qids"))
    )
    cols = POSTING_COLS + (["gen_seq"] if layered else [])
    per_group = (
        index.doc_terms().select("bucket", *cols)
        .join(F.broadcast(qside), ["bucket", "term"])
        .drop("bucket")
    )
    n_docs, avgdl, block_size = index.n_docs, index.avgdl, index.block_size

    def run(key, pdf):
        tomb = tomb_bc.value if tomb_bc is not None else None
        first = pdf.drop_duplicates("term")
        t2q = dict(zip(first["term"], first["qids"]))
        return _kernel(pdf, t2q, k, n_docs, avgdl, block_size, micro, tomb)

    return (
        # repartition width must match the group count: with g groups
        # hashed over p partitions, only min(g, p) tasks can be
        # non-empty — widening one without the other changes nothing
        # (measured: 4M/128-bucket index at 64 tasks = 1892 ms/q,
        # at 128 groups AND 128 partitions = 962 ms/q)
        per_group.repartition(n_grp, "grp")
        .groupBy("grp")
        .applyInPandas(run, schema=result_schema(micro))
    )

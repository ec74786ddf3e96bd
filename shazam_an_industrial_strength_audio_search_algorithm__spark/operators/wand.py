"""Block-max top-k executor over the segment index (exact, pruned).

Reference parity: the reference ranks candidates by shared-key count
and evaluates them in that order, stopping at the first one above the
threshold (``searchLUT_v2`` ordering ``_Shazam_.py:505`` + the
first-above-threshold break ``Matching.py:122-131``) — i.e.
upper-bound-ordered evaluation with early exit. This module is the
principled generalization (SURVEY §4): **interval-at-a-time block-max
WAND**. Doc-id space is partitioned into atomic intervals by the
block boundaries of the query's terms; each interval's upper bound is
the sum of the (single, because blocks of a term are disjoint)
overlapping block bound per term. Intervals are processed in
descending upper-bound order, scoring is numpy-vectorized per
interval, and the loop stops as soon as the running top-k floor
beats the best remaining interval bound — blocks in skipped
intervals are never decoded.

Execution shape: a request's critical path is the block scan and the
kernel, nothing else. Two placements run the same kernel (``_kernel``):

- **driver** — a query frame that already lives on the driver
  (``isLocal()``) and is small enough for the index
  (``driver_max_queries``: at most ``DRIVER_MAX_QUERIES`` rows, or
  more while rows × docs stays within ``DRIVER_MAX_QUERY_DOCS``): the
  reference's one-clip-at-a-time request (``Matching.py:96-131``), and
  a driver-held batch while answering it in one process still beats
  sharing. The queries tokenize in Python (``tokenize_py``), their
  terms' block rows arrive by ONE bucket-pruned JVM scan whose
  predicate is one SQL string (``terms_filter``), the kernel runs on
  the driver and the answer is a local relation. One Spark job, no
  exchange, no Python worker.
- **grouped** — every other frame (larger local batches, ``batch_match``
  groups, streaming micro-batches). The query side is ONE broadcast — query
  terms (one partition; queries are the small axis, the reference's
  nj=32 splits) grouped to (bucket, term, group) → query ids without
  an exchange — which the block scan joins on (bucket, term) and which
  dynamic partition pruning reuses to skip untouched buckets.
  Candidate blocks (compressed payloads + bounds, no decoding) then
  shuffle once, by group, into the ``applyInPandas`` kernel. 3 Spark
  jobs (broadcast build, scan + shuffle, kernel) and one exchange,
  whatever the batch size: sharing them pays only past the measured
  crossover.

The snapshot's scan, tombstone arrays and tombstone broadcast are
per-``SegmentIndex`` state, built on first use. The heavy axis —
posting volume — is touched only through bound-gated decodes.

Bounds are recomputed from stored raw stats (max_tf, min_dl) under
the CURRENT snapshot's avgdl, so pruning stays safe after incremental
updates shift global stats (see segments.py).

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
from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.codec import (
    decode_block,
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
#   600 docs  2.95 (8)   2.57 (8)   2.86 (8)   1.72 (8)   1.53 (8)   1.01 (4)
#   5k docs   1.98 (8)   2.05 (8)   1.19 (6)   1.16 (6)   0.82 (1)   0.58 (0)
#   20k docs  1.19 (8)   0.96 (3)   0.80 (0)   0.64 (0)   0.66 (0)   0.54 (0)
#
# The driver decodes every query's blocks in one process, so its cost
# grows with batch size × posting volume, while the grouped path's is
# mostly fixed. 40k query·docs sends 64 queries at 600 docs and 8 at 5k
# to the driver, each won in 8 of 8 pairs; the first shape it keeps
# grouped (128 at 600 docs, 16 at 5k) is no longer a clear win. A
# count cap alone would not do: 32 queries lose on 20k docs. The
# 4-query floor keeps small batches on the driver on any index.
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
    """One term-generation's blocks: boundary arrays + lazy per-block
    decode.

    The decode cache lives on the instance, so in batched execution
    (one ``_Term`` per term shared by every query in the group) a
    block decodes at most once per group; ``requested`` tracks which
    blocks the CURRENT query actually needed (reset per query), so
    per-query pruning counters stay meaningful under sharing.

    Layered (merge-on-read) snapshots instantiate one ``_Term`` per
    (term, generation): within one generation blocks stay doc-range
    disjoint and sorted (doc-id-range salts, segments.py), so the
    interval machinery is unchanged — overlap across generations is
    expressed as extra pseudo-terms, and a doc's postings live in
    exactly one ALIVE generation per term (upserts tombstone the
    older generations), so per-doc sums and ``matched_terms`` stay
    exact. ``tomb`` = (sorted doc_ids, tomb_seq) arrays; a posting at
    ``gen`` is dead iff its doc has a tombstone with seq > gen.
    Deletions only SHRINK a block's true max score, so the stored
    max_tf/min_dl bounds remain safe upper bounds without rewrite."""

    __slots__ = ("idf", "los", "his", "bounds", "payloads", "cache",
                 "requested", "micro", "gen", "tomb", "raw_cache",
                 "_bound_base")

    def __init__(self, idf: float | None, g: pd.DataFrame, avgdl: float,
                 micro: bool = False, gen: int = 0,
                 tomb: tuple[np.ndarray, np.ndarray] | None = None):
        self.micro = micro
        self.gen = gen
        self.tomb = tomb
        self.los = g["doc_id_lo"].to_numpy(np.int64)
        self.his = g["doc_id_hi"].to_numpy(np.int64)
        mt = g["max_tf"].to_numpy(np.float64)
        md = g["min_dl"].to_numpy(np.float64)
        # idf-free factor; set_idf scales it into the final bounds —
        # on layered snapshots the exact idf is only known after the
        # tombstone-dead df prepass ran over every generation
        self._bound_base = mt / (mt + K1 * (1.0 - B + B * md / avgdl))
        self.payloads = list(g["payload"])
        self.cache: dict[int, tuple] = {}
        self.raw_cache: dict[int, tuple] = {}
        self.requested: set[int] = set()
        if idf is not None:
            self.set_idf(idf)

    def set_idf(self, idf: float) -> None:
        self.idf = idf
        bounds = idf * self._bound_base
        if self.micro:
            # integer micro-unit scoring: the per-posting contribution
            # is HALF_UP-rounded to micro BEFORE summing (the driver
            # oracle's order-independent convention); the block bound
            # over-estimates by 1 micro so pruning stays safe
            self.bounds = np.floor(bounds * 1e6 + 0.5).astype(np.int64) + 1
        else:
            self.bounds = bounds

    def _raw(self, bi: int):
        if bi not in self.raw_cache:
            self.raw_cache[bi] = decode_block(bytes(self.payloads[bi]))
        return self.raw_cache[bi]

    def _alive_mask(self, ids: np.ndarray) -> np.ndarray | None:
        """Boolean mask of postings NOT superseded by a tombstone, or
        None when every posting is alive (fast path)."""
        if self.tomb is None:
            return None
        t_ids, t_seqs = self.tomb
        pos = np.searchsorted(t_ids, ids)
        pos_c = np.minimum(pos, t_ids.size - 1)
        hit = (pos < t_ids.size) & (t_ids[pos_c] == ids)
        dead = hit & (t_seqs[pos_c] > self.gen)
        if not dead.any():
            return None
        return ~dead

    def dead_count(self, bi: int) -> int:
        """Tombstone-superseded postings in block bi (df prepass)."""
        ids, _, _ = self._raw(bi)
        mask = self._alive_mask(ids)
        return 0 if mask is None else int(ids.size - mask.sum())

    def slice(self, bi: int, start: np.int64, end: np.int64, avgdl: float):
        """(doc_ids, contribs) of block bi restricted to [start, end],
        tombstone-resolved on layered snapshots."""
        self.requested.add(bi)
        if bi not in self.cache:
            ids, tfs, dls = self._raw(bi)
            mask = self._alive_mask(ids)
            if mask is not None:
                ids, tfs, dls = ids[mask], tfs[mask], dls[mask]
            contribs = self.idf * (
                tfs / (tfs + K1 * (1.0 - B + B * dls.astype(np.float64) / avgdl))
            )
            if self.micro:
                contribs = np.floor(contribs * 1e6 + 0.5).astype(np.int64)
            self.cache[bi] = (ids, contribs)
            # the raw decode is only re-read by the df prepass, which
            # runs before any slicing — don't hold both copies
            self.raw_cache.pop(bi, None)
        ids, contribs = self.cache[bi]
        s = int(np.searchsorted(ids, start, side="left"))
        e = int(np.searchsorted(ids, end, side="right"))
        return ids[s:e], contribs[s:e]


def _pseudo_terms(g: pd.DataFrame, n_docs: int, avgdl: float,
                  micro: bool,
                  tomb: tuple[np.ndarray, np.ndarray] | None,
                  ) -> list[_Term]:
    """One term's block rows (layered: spanning generations) → the
    list of ``_Term`` pseudo-terms sharing one EXACT idf.

    Exact df on a merge-on-read snapshot = Σ per-generation stored df
    − tombstone-superseded postings; the dead count decodes ONLY
    blocks whose doc-id range contains a tombstoned doc (bounded by
    delta size, and those decodes pre-warm the slice cache's raw
    side) — the kernel twin of ``SegmentIndex._postings``'s df
    recompute, without touching the un-tombstoned bulk. A term whose
    alive df reaches 0 is dropped entirely (all postings dead)."""
    pts: list[_Term] = []
    df_total = 0
    for gen, gg in g.groupby("gen_seq", sort=True):
        g2 = gg.sort_values(["salt", "block_seq"])
        df_total += int(g2["df"].iloc[0])
        pts.append(_Term(None, g2, avgdl, micro=micro, gen=int(gen),
                         tomb=tomb))
    dead = 0
    if tomb is not None:
        t_ids, t_seqs = tomb
        for pt in pts:
            rel = t_ids[t_seqs > pt.gen]
            if not rel.size:
                continue
            bi = np.searchsorted(pt.los, rel, side="right") - 1
            ok = (bi >= 0) & (pt.his[np.clip(bi, 0, None)] >= rel)
            for b in np.unique(bi[ok]):
                dead += pt.dead_count(int(b))
    df_exact = df_total - dead
    if df_exact <= 0:
        return []
    idf = idf_py(df_exact, n_docs)
    for pt in pts:
        pt.set_idf(idf)
    return pts


def _topk_one_query(terms: list[_Term], k: int, avgdl: float):
    """Interval-at-a-time block-max top-k. Returns (doc_ids, scores,
    matched, decoded, total_blocks), ranked (score DESC, doc_id ASC)."""
    # atomic intervals: cut doc space at every block lo and hi+1. The
    # hi+1 cut is clamped to avoid int64 overflow when a block ends at
    # the max doc_id; the widened last interval below restores coverage
    # of that doc (slice() selects by VALUE, so a too-wide interval end
    # can never pull in docs a block doesn't contain).
    int64_max = np.int64(2**63 - 1)
    clamped = any(bool((t.his == int64_max).any()) for t in terms)
    cuts = np.unique(
        np.concatenate(
            [t.los for t in terms]
            + [np.minimum(t.his, int64_max - 1) + 1 for t in terms]
        )
    )
    starts = cuts[:-1]
    ends = cuts[1:] - 1  # inclusive
    if clamped:
        if ends.size:
            ends[-1] = int64_max
        else:  # single block with lo == hi == int64_max
            starts = np.array([int64_max], dtype=np.int64)
            ends = np.array([int64_max], dtype=np.int64)
    n_int = starts.size
    if n_int == 0:
        return (np.zeros(0, np.int64), np.zeros(0), np.zeros(0, np.int32),
                0, sum(len(t.payloads) for t in terms))

    # per (interval, term): overlapping block index (or -1) and bound
    blk = np.full((len(terms), n_int), -1, dtype=np.int64)
    ub = np.zeros(n_int, dtype=np.float64)
    for ti, t in enumerate(terms):
        i = np.searchsorted(t.los, starts, side="right") - 1
        valid = (i >= 0) & (t.his[np.clip(i, 0, None)] >= starts)
        blk[ti] = np.where(valid, i, -1)
        ub += np.where(valid, t.bounds[np.clip(i, 0, None)], 0.0)

    # clamped residual: a block with lo == hi == int64_max that
    # coexists with earlier cuts is invisible to the searchsorted
    # selection above (the widened last interval's start resolves to
    # an earlier block whose hi < start) — force-select it for the
    # last interval, and add its bound to that interval's ub so the
    # pruning gate can never skip an interval it could win.
    forced: list[tuple[int, int]] = []
    if clamped and n_int > 0:
        last = n_int - 1
        for ti, t in enumerate(terms):
            bi = len(t.los) - 1
            if t.los[bi] == int64_max and int(blk[ti, last]) != bi:
                forced.append((ti, bi))
                ub[last] += t.bounds[bi]

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
                ids_p, c_p = t.slice(bi, s, e, avgdl)
                if ids_p.size:
                    ids_parts.append(ids_p)
                    c_parts.append(c_p)
        if forced and ii == n_int - 1:
            for ti, bi in forced:
                ids_p, c_p = terms[ti].slice(bi, s, e, avgdl)
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
    decoded = sum(len(t.requested) for t in terms)
    total = sum(len(t.payloads) for t in terms)
    return (top_docs[sel], top_scores[sel], top_matched[sel], decoded, total)


# the most tombstoned docs a layered snapshot may ship into the kernel
TOMB_CAP = 2_000_000


class TombstoneCapError(ValueError):
    """A layered snapshot carries more tombstoned docs than the kernel
    takes (``TOMB_CAP``): compact it, or serve the request by the brute
    merge-on-read path."""


def _capped_tombstones(index: SegmentIndex):
    """``index.tombstone_arrays()``, or ``TombstoneCapError`` when the
    set outgrew the cap, so an un-compacted pipeline fails loudly
    instead of shipping an unbounded set into the kernel."""
    tomb = index.tombstone_arrays()
    if tomb is not None and tomb[0].size > TOMB_CAP:
        raise TombstoneCapError(
            f"layered snapshot carries {tomb[0].size:,} tombstoned "
            f"docs (> cap {TOMB_CAP:,}) — run maintenance.compact()"
        )
    return tomb


def _result_schema(micro: bool) -> T.StructType:
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


def _kernel(pdf: pd.DataFrame, k: int, n_docs: int, avgdl: float,
            micro: bool, layered: bool,
            tomb: tuple[np.ndarray, np.ndarray] | None) -> pd.DataFrame:
    """The WAND answer for the queries of one placement: ``pdf`` holds
    the block rows of their terms, each row carrying the ids of the
    queries that use its term (``qids``). Both placements of
    ``wand_topk`` call it: the grouped path once per group, in a Python
    worker, the driver path once, on the driver."""
    score_name = "score_micro" if micro else "score"
    terms: dict[str, list[_Term]] = {}
    q2t: dict[str, list[str]] = {}
    for term, g in pdf.groupby("term", sort=True):
        qids = list(g["qids"].iloc[0])
        if len(set(qids)) < len(qids):
            raise _duplicate_id_error(
                next(q for q in qids if qids.count(q) > 1))
        if layered:
            pts = _pseudo_terms(g, n_docs, avgdl, micro, tomb)
        else:
            g2 = g.sort_values(["salt", "block_seq"])
            pts = [_Term(idf_py(int(g2["df"].iloc[0]), n_docs), g2,
                         avgdl, micro=micro)]
        if not pts:
            continue  # every posting of the term is tombstoned
        terms[term] = pts
        for qid in qids:
            q2t.setdefault(qid, []).append(term)
    frames = []
    for qid in sorted(q2t):
        ts = [pt for t in q2t[qid] for pt in terms[t]]
        for t in ts:
            t.requested.clear()
        docs, scores, matched, decoded, total = _topk_one_query(ts, k, avgdl)
        n = docs.size
        frames.append(pd.DataFrame(
            {
                "query_id": qid,
                "rank": np.arange(1, n + 1, dtype="int32"),
                "doc_id": docs,
                # float64 accumulators are exact for micro ints
                # (< 2^53), so this cast is lossless
                score_name: scores.astype(np.int64) if micro else scores,
                "matched_terms": matched,
                "blocks_decoded": np.int32(decoded),
                "blocks_total": np.int32(total),
            }
        ))
    if not frames:
        return pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in _result_schema(micro)}
        )
    return pd.concat(frames, ignore_index=True)


def driver_max_queries(n_docs: int) -> int:
    """The most rows of a driver-held query frame that ``wand_topk``
    answers on the driver, over an index of ``n_docs`` docs:
    ``DRIVER_MAX_QUERIES`` on any index, more while the batch stays
    within ``DRIVER_MAX_QUERY_DOCS`` query·docs."""
    return max(DRIVER_MAX_QUERIES, DRIVER_MAX_QUERY_DOCS // max(n_docs, 1))


def _block_cols(layered: bool) -> list[str]:
    return [
        "bucket", "term", "df", "salt", "block_seq", "doc_id_lo",
        "doc_id_hi", "max_tf", "min_dl", "payload",
    ] + (["gen_seq"] if layered else [])


def _driver_topk(index: SegmentIndex, rows: list, k: int,
                 micro: bool) -> DataFrame:
    """The driver placement over ``rows`` ((query_id, text) tuples
    already on the driver): one bucket-pruned JVM scan of the queries'
    block rows, the kernel here, the answer as a local relation."""
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
    tomb = _capped_tombstones(index) if layered else None
    blocks = pd.DataFrame(columns=["term", "qids"])  # no terms: no scan
    if t2q:
        blocks = (
            index.segments().select(*_block_cols(layered))
            .filter(index.terms_filter(sorted(t2q)))
            .toPandas()
        )
        blocks["qids"] = blocks["term"].map(t2q)
    out = _kernel(blocks, k, index.n_docs, index.avgdl, micro, layered, tomb)
    schema = _result_schema(micro)
    table = pa.Table.from_pandas(out, schema=to_arrow_schema(schema),
                                 preserve_index=False)
    return index.spark.createDataFrame(table, schema)


def wand_topk(
    index: SegmentIndex,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "query_id",
    text_col: str = "text",
    n_groups: int | None = None,
    micro: bool = False,
) -> DataFrame:
    """Top-k via interval-at-a-time block-max WAND; exact same results
    as segment_topk, plus per-query decode counters
    (blocks_decoded / blocks_total) so tests and benches can assert
    pruning actually happened. Serves LAYERED (merge-on-read)
    snapshots exactly too — see the layered block below — so upsert
    pipelines never need a compaction barrier before querying. Each
    query needs its own ``query_id``: a repeated id raises
    ``ValueError`` instead of summing the rows' scores.

    Driver placement: a frame that already lives on the driver
    (``queries.isLocal()``, e.g. one built by ``local_rows_df``) with
    at most ``driver_max_queries(index.n_docs)`` rows — the larger of
    ``DRIVER_MAX_QUERIES`` and ``DRIVER_MAX_QUERY_DOCS // n_docs``, from
    the crossover measured above those constants — is answered at call time: the scan of
    its terms' block rows runs here, eagerly (1 Spark job, no exchange,
    no Python worker), and the result is a local relation whose
    ``collect()`` launches no job. Answering eagerly is safe because a
    ``SegmentIndex`` is a fixed snapshot. ``n_groups`` does not apply
    on this path.

    Batched execution (every other frame): queries are hashed into
    ``n_groups`` groups
    (default = max(shuffle partitions, index.n_buckets) — each group
    is a single-task kernel, so group count must scale WITH the
    index's bucket count: measured at 4M docs / 128 buckets, 64
    groups serialized the kernel leg at 1892 ms/q while 128 groups
    served at 962, and at ≤32 buckets the max() leaves the previous
    shuffle-partitions default untouched; see BENCH/BASELINE.md
    round-4 knob table) and each candidate block shuffles
    ONCE per group whose queries touch its term — not once per query.
    With a Q-query batch sharing hot terms this cuts shuffled payload
    bytes by ~Q/n_groups, and queries inside a group share one decode
    cache per term, so a hot term's blocks decode once for the whole
    group. Per-query results are bit-identical to one-query-per-group
    execution and to the driver placement (the kernel is the same;
    only placement and caching change).

    ``micro=True`` switches the kernel to exact integer micro-unit
    scoring: each per-posting BM25 contribution is HALF_UP-rounded to
    a micro int BEFORE summing (the driver oracle's order-independent
    hash convention), block bounds over-estimate by 1 micro so the
    pruning proof still holds, and the result column is
    ``score_micro`` (long) instead of ``score`` (double) — making the
    pruned executor directly comparable against the same ANSI-SQL
    oracle as the brute-force paths."""
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
    # compaction barrier: each (term, generation) becomes its own
    # pseudo-term (within one generation blocks stay doc-range
    # disjoint — doc-id-range salts), slices resolve tombstones
    # vectorized, and idf is recomputed exactly from per-generation
    # stored df minus tombstone-dead postings (see _pseudo_terms).
    # Stored max_tf/min_dl stay SAFE upper bounds under deletion, so
    # pruning never changes a result; it just loses sharpness as
    # layers pile up — CompactionPolicy restores peak speed, it no
    # longer gates servability. The tombstone set is delta-sized by
    # policy and ships to the kernel as the snapshot's one broadcast,
    # capped (``_capped_tombstones``).
    layered = index.has_deltas
    tomb_bc = None
    if layered:
        _capped_tombstones(index)
        tomb_bc = index.tombstone_broadcast()
    # pin parallelism: the per-query loop is CPU-bound Python/numpy —
    # don't let AQE coalesce the (small-bytes) shuffle under the core
    # count and serialize it
    n_part = int(index.spark.conf.get("spark.sql.shuffle.partitions"))
    n_grp = int(n_groups) if n_groups else max(n_part, index.n_buckets)
    # the query side, ONE broadcast: a row per (bucket, term, group)
    # with that group's query ids — the block join fans out per
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
    per_group = index.segments().select(*_block_cols(layered)).join(
        F.broadcast(qside), ["bucket", "term"]
    )
    n_docs, avgdl = index.n_docs, index.avgdl

    def run(key, pdf):
        tomb = tomb_bc.value if tomb_bc is not None else None
        return _kernel(pdf, k, n_docs, avgdl, micro, layered, tomb)

    return (
        # repartition width must match the group count: with g groups
        # hashed over p partitions, only min(g, p) tasks can be
        # non-empty — widening one without the other changes nothing
        # (measured: 4M/128-bucket index at 64 tasks = 1892 ms/q,
        # at 128 groups AND 128 partitions = 962 ms/q)
        per_group.repartition(n_grp, "grp")
        .groupBy("grp")
        .applyInPandas(run, schema=_result_schema(micro))
    )

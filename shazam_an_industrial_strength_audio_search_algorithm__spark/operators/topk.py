"""BM25 scoring and ranking — the engine's one score-and-rank spine.

Reference parity (SURVEY §3.2): the reference answers a query by
(1) fingerprinting it (``Matching.py:103-105``), (2) candidate
generation = posting-list union-with-counts (``searchLUT_v2``,
``_Shazam_.py:494-506``), (3) per-candidate offset-histogram scoring
(``count_number_match``, ``_Shazam_.py:309-351``), (4) threshold
"doc or Nil" with second-best tracking (``Matching.py:120-148``).

Here steps 2+3 fuse into the engine's one score-and-rank spine, used
by every brute-force consumer: ``bm25_scores``
joins the index's ``postings_for_query_terms`` (term, doc_id, tf,
doc_len, df) to the broadcast query terms, hashes the candidates by
``query_id`` (the single exchange), scores each term with
``score_col`` (``micro=True``: rounded to integer 1e-6 units before
the sum) and sums per (query_id, doc_id). ``rank_scores`` adds the
(score DESC, doc_id ASC) rank, cut at k; ``bm25_topk`` is the two
together. BM25 replaces histogram voting; threshold and second-best
are window functions over the same exchange.

Physical plan (the part that must survive 100×): the query side is
tiny and every auxiliary join is an explicit ``broadcast()``, so the
candidate rows cross one exchange only — the ``query_id`` hash, which
satisfies both ``groupBy(query_id, doc_id)`` and every per-query
window downstream (top-k, decide, stats). No sort of the full
postings ever happens: top-k is ``row_number`` + filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.bm25 import (
    score_col,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokens_col,
)


def _one_partition_if_local(queries: DataFrame) -> DataFrame:
    """``queries`` coalesced to one partition when it is a local
    relation (``local_rows_df``): a scan of one splits into up to
    ``defaultParallelism`` partitions, and the query side then costs
    the spine and the decisions an extra job and exchange. Other
    frames pass through unchanged."""
    return queries.coalesce(1) if queries.isLocal() else queries


def query_terms(queries: DataFrame, id_col: str = "query_id",
                text_col: str = "text") -> DataFrame:
    """(query_id, term) with distinct terms per query — the reference
    counts each shared key once because LUT values are sets
    (SURVEY §2.4 A3)."""
    return (
        _one_partition_if_local(queries).select(
            F.col(id_col).alias("query_id"),
            F.explode(F.array_distinct(tokens_col(text_col))).alias("term"),
        )
    )


def bm25_scores(index, queries: DataFrame, id_col: str = "query_id",
                text_col: str = "text", micro: bool = False) -> DataFrame:
    """(query_id, doc_id, score | score_micro, matched_terms) for every
    candidate of ``index`` (a ``SegmentIndex``, or anything with its
    ``postings_for_query_terms``, ``n_docs`` and ``avgdl``).

    ``matched_terms`` ↔ the reference's ``num_matches`` candidate
    count / ``num_union`` (``Matching.py:128``). ``micro=True`` scores
    in integer micro-units: each per-term contribution is rounded to
    1e-6 BEFORE the sum, so the total is independent of fold order.
    """
    qt = query_terms(queries, id_col, text_col)
    # one exchange serves the score-sum AND every downstream per-query
    # window (guide §2.4): hash by query_id alone — it satisfies
    # groupBy(query_id, doc_id) and Window(query_id). Map-side partial
    # agg would collapse ~nothing anyway (a (query, doc) pair's rows
    # arrive term-major, one term per map partition).
    candidates = index.postings_for_query_terms(qt).join(
        F.broadcast(qt), "term"
    ).repartition(F.col("query_id"))
    contrib = score_col(F.col("tf"), F.col("df"), F.col("doc_len"),
                        index.n_docs, index.avgdl)
    if micro:
        contrib = F.round(contrib * F.lit(1_000_000.0)).cast("long")
    return (
        candidates.withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("contrib").alias("score_micro" if micro else "score"),
            F.count(F.lit(1)).alias("matched_terms"),
        )
    )


def rank_scores(scores: DataFrame, k: int | None = None) -> DataFrame:
    """``scores`` plus ``rank`` per query under the deterministic
    tie-break (score DESC, doc_id ASC) — SURVEY §2.5 W2's explicit
    replacement for Counter insertion order. The score column is
    ``score_micro`` when present, else ``score``. With ``k``, only
    ranks 1..k are kept."""
    score = "score_micro" if "score_micro" in scores.columns else "score"
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("doc_id").asc()
    )
    ranked = scores.withColumn("rank", F.row_number().over(w))
    return ranked if k is None else ranked.filter(F.col("rank") <= k)


def bm25_topk(index, queries: DataFrame, k: int = 10,
              id_col: str = "query_id", text_col: str = "text",
              micro: bool = False) -> DataFrame:
    """(query_id, rank, doc_id, score, matched_terms), rank 1..k;
    ``micro=True`` gives the driver-gate schema (query_id, rank long,
    doc_id, score_micro, matched_terms)."""
    rank = F.col("rank").cast("long") if micro else F.col("rank")
    return rank_scores(
        bm25_scores(index, queries, id_col, text_col, micro), k
    ).select("query_id", rank.alias("rank"), "doc_id",
             "score_micro" if micro else "score", "matched_terms")


def per_query_thresholds(queries: DataFrame,
                         short_threshold: float, long_threshold: float,
                         max_short_tokens: int,
                         id_col: str = "query_id",
                         text_col: str = "text") -> DataFrame:
    """(query_id, threshold): the reference's query-length-dependent
    threshold switch (``conf.py:173-175``, ``README.md:24-25`` — 10
    for short queries, 300 for long) as a tiny dimension frame.
    Feed the result to ``decide``/``decide_compat`` in place of the
    scalar ``threshold`` — they broadcast-join it, so per-class
    thresholds cost nothing at scale."""
    n = F.size(tokens_col(text_col))
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.when(n <= max_short_tokens, F.lit(float(short_threshold)))
        .otherwise(F.lit(float(long_threshold))).alias("threshold"),
    )


def _threshold_expr(df: DataFrame, threshold) -> tuple[DataFrame, "F.Column"]:
    """Resolve a scalar-or-frame threshold: a float becomes a literal;
    a (query_id, threshold) DataFrame broadcast-joins in (a query
    absent from the frame gets NULL and therefore never matches —
    deliberately conservative)."""
    if isinstance(threshold, DataFrame):
        return (
            df.join(
                F.broadcast(threshold.select("query_id", "threshold")),
                "query_id", "left",
            ),
            F.col("threshold"),
        )
    return df, F.lit(float(threshold))


def decide_compat(scores: DataFrame, queries: DataFrame, threshold,
                  id_col: str = "query_id") -> DataFrame:
    """Reference-COMPAT decision mode (SURVEY §2.5 W3,
    ``Matching.py:120-139``): candidates are evaluated in
    candidate-count order (``num_union`` DESC — the ``searchLUT``
    Counter order, with doc_id ASC as the deterministic tie-break
    replacing Counter insertion order), and the FIRST one whose score
    crosses the threshold wins — even if a later candidate scores
    higher. ``second`` reproduces the running ``max_so_far`` over the
    candidates scanned BEFORE the break (strict-improvement update ⇒
    earliest candidate among equal scores); with no match it is the
    best-scoring candidate overall. Engine mode (global best) is
    ``decide`` — the two diverge exactly when a lower-count candidate
    outscores an earlier above-threshold one (tests/test_rank_identity
    pins a constructed divergence).

    ``scores``: (query_id, doc_id, score, matched_terms) — the full
    candidate set (``bm25_scores``), not a top-k cut.

    ``threshold``: a float, or a (query_id, threshold) DataFrame for
    per-query-class thresholds (``per_query_thresholds`` — the
    reference's short/long switch, ``conf.py:173-175``).
    """
    w_cand = Window.partitionBy("query_id").orderBy(
        F.col("matched_terms").desc(), F.col("doc_id").asc()
    )
    ranked = scores.withColumn("cand_rank", F.row_number().over(w_cand))
    ranked, thr = _threshold_expr(ranked, threshold)
    w_first = Window.partitionBy("query_id").orderBy(F.col("cand_rank").asc())
    # every frame below keyed by query_id ALONE is one row per query —
    # dimension-sized by the engine's query-batch contract (queries
    # are the small axis; cf. per_query_thresholds) — so each join is
    # an explicit broadcast: the planner's size estimates over these
    # agg/window subtrees otherwise pick SortMergeJoin (8 SMJs + their
    # exchanges measured in the match_compat plan, guide §3.1)
    match = (
        ranked.filter(F.col("score") > thr)
        .withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("doc_id").alias("matched_doc_id"),
            F.col("score").alias("matched_score"),
            F.col("cand_rank").alias("_mrank"),
        )
    )
    scanned = ranked.join(
        F.broadcast(match.select("query_id", "_mrank")), "query_id", "left"
    ).filter(
        F.col("_mrank").isNull() | (F.col("cand_rank") < F.col("_mrank"))
    )
    w_best = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("cand_rank").asc()
    )
    second = (
        scanned.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("doc_id").alias("second_doc_id"),
            F.col("score").alias("second_score"),
        )
    )
    n_c = scores.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    qs = _one_partition_if_local(queries).select(
        F.col(id_col).alias("query_id")).distinct()
    return (
        qs.join(F.broadcast(match.drop("_mrank")), "query_id", "left")
        .join(F.broadcast(second), "query_id", "left")
        .join(F.broadcast(n_c), "query_id", "left")
        .select(
            "query_id", "matched_doc_id", "matched_score",
            "second_doc_id", "second_score",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        )
    )


def global_rank(df: DataFrame, order_by: list,
                rank_col: str = "rank_global",
                n_partitions: int | None = None) -> DataFrame:
    """Distributed TOTAL-ORDER rank — the zip-with-global-index shape,
    replacing the single-partition global Window (the reference's
    ``_global`` report file is a total order, ``GetStats.py:75-81``;
    at 10^8 matched rows the unpartitioned Window serializes on one
    task).

    Plan: ``repartitionByRange`` on the order keys (one range shuffle;
    partition i holds rows strictly before partition i+1's in the
    requested order) → ``sortWithinPartitions`` → the ranged layout
    MATERIALIZED once (``localCheckpoint``) → local ranks assigned in
    ONE narrow ``mapInPandas`` pass (a running counter across the
    partition's Arrow batches) → per-partition row counts (tiny agg:
    one row per partition) cumsummed into offsets on the driver →
    offsets broadcast back and added. No task ever holds more than its
    range slice; the only driver-side data is the partition-count
    list.

    The checkpoint is CORRECTNESS, not caching: ``repartitionByRange``
    samples its boundaries per JOB (reservoir sampling over the
    child), so the counts action and the rank action would otherwise
    see two different layouts — offsets from one applied to local
    ranks of the other silently misrank (measured: same 5k-row input,
    per-partition counts drift by ±30 between two jobs). Materializing
    pins one layout as a fact; lineage truncation turns any block loss
    into a loud job failure instead of a silent re-sample. Cost: one
    copy of the report rows in executor storage (spills to disk) —
    the price of a total order, linear and partitioned.

    ``order_by``: ordering Columns (e.g. ``[F.col("score").desc(),
    F.col("id").asc()]``); they must be a UNIQUE key of ``df`` for the
    rank to be deterministic (same contract as every tie-broken
    window in this engine)."""
    import numpy as np
    import pandas as pd  # noqa: F401 — executors need it imported
    from pyspark.sql import types as T

    spark = df.sparkSession
    n = n_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        df.repartitionByRange(n, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    schema = T.StructType(
        ranged.schema.fields + [T.StructField("_lrank", T.LongType())]
    )

    def add_lrank(batches):
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["_lrank"] = np.arange(
                seen + 1, seen + 1 + len(pdf), dtype="int64"
            )
            seen += len(pdf)
            yield pdf

    local = ranged.mapInPandas(add_lrank, schema=schema)
    counts = sorted(
        ranged.groupBy("_pid").count().collect(),
        key=lambda r: r["_pid"],
    )
    offsets, acc = [], 0
    for r in counts:
        offsets.append((int(r["_pid"]), acc))
        acc += int(r["count"])
    if not offsets:
        offsets = [(0, 0)]
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        local_rows_df,
    )

    off_df = local_rows_df(spark, offsets, "_pid int, _off long")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_off") + F.col("_lrank")).cast("long"))
        .drop("_pid", "_lrank", "_off")
    )


def db2qry(decisions: DataFrame) -> DataFrame:
    """Invert the per-query decision map into the per-doc multimap —
    the reference's ``db2qry`` report (``Combine.py:68-86``: qry2db
    forward map flipped into {db_utt: [qry_utts]}). Matched queries
    per doc, sorted, serialized to a scalar for hash-stable output."""
    return (
        decisions.filter(F.col("matched_doc_id").isNotNull())
        .groupBy(F.col("matched_doc_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.concat_ws(",", F.sort_array(F.collect_list("query_id")))
            .alias("query_ids"),
        )
    )


def decide(topk: DataFrame, queries: DataFrame, threshold,
           id_col: str = "query_id",
           candidate_counts: DataFrame | None = None) -> DataFrame:
    """Per-query "doc or Nil" + second-best (SURVEY §2.2 F7, §2.5 W3/W4).

    Output: (query_id, matched_doc_id nullable, matched_score,
    second_doc_id, second_score, n_candidates). Queries with zero
    candidates appear with NULLs (left join from the query list — the
    reference records every query in Matched_ or Unmatched_Dict,
    ``Matching.py:128,141-148``).

    ``threshold``: a float, or a (query_id, threshold) DataFrame for
    per-query-class thresholds (``per_query_thresholds`` — the
    reference's short/long switch, ``conf.py:173-175``).

    ``candidate_counts``: optional (query_id, n_candidates) frame.
    When ``topk`` is a brute-force ranking it carries one row per
    candidate, so counting its rows IS the reference's candidate
    count (len of the searchLUT Counter, ``Matching.py:127``). When
    ``topk`` comes from a PRUNED executor (``wand_topk`` with small
    k) the rows are only the survivors — pass the true counts
    (a JVM-side count-distinct over the posting join) so the decision
    record stays identical across physical plans.
    """
    ranked = topk.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("doc_id"))).alias("top1_doc"),
        F.max(F.when(F.col("rank") == 1, F.col("score"))).alias("top1_score"),
        F.max(F.when(F.col("rank") == 2, F.col("doc_id"))).alias("second_doc_id"),
        F.max(F.when(F.col("rank") == 2, F.col("score"))).alias("second_score"),
        F.count(F.lit(1)).alias("n_candidates"),
    )
    if candidate_counts is not None:
        ranked = ranked.drop("n_candidates").join(
            F.broadcast(
                candidate_counts.select(
                    "query_id", F.col("n_candidates").cast("long")
                    .alias("n_candidates"))),
            "query_id", "left",
        )
    qs = _one_partition_if_local(queries).select(
        F.col(id_col).alias("query_id")).distinct()
    # ranked is one row per query (dimension-sized — the query batch
    # is the small axis): explicit broadcast, not a size-estimate SMJ
    out = qs.join(F.broadcast(ranked), "query_id", "left")
    out, thr = _threshold_expr(out, threshold)
    is_match = F.col("top1_score") > thr
    return out.select(
        "query_id",
        F.when(is_match, F.col("top1_doc")).alias("matched_doc_id"),
        F.when(is_match, F.col("top1_score")).alias("matched_score"),
        # when Nil, the best rejected candidate is the "second best" the
        # reference keeps "in case we want 2nd best" (Matching.py:133-139)
        F.when(is_match, F.col("second_doc_id"))
        .otherwise(F.col("top1_doc")).alias("second_doc_id"),
        F.when(is_match, F.col("second_score"))
        .otherwise(F.col("top1_score")).alias("second_score"),
        F.coalesce(F.col("n_candidates"), F.lit(0)).alias("n_candidates"),
    )

"""Positional-consistency verification — the general engine twin of
the reference's time-offset histogram vote.

Reference parity (SURVEY §2.4 A4, §3.2): ``count_number_match``
(``/root/reference/utils/_Shazam_.py:309-351``) scores a candidate by
histogramming, over all matched fingerprint hashes, the offset deltas
``doc_anchor_time - query_anchor_time`` and taking the max bin — "how
many matched landmarks agree on ONE relative alignment". Here terms
replace hashes and token offsets replace anchor times: for every
(query, candidate) pair, every (query-position, doc-position) match of
a shared term votes for delta = doc_pos - query_pos; the result is the
best-aligned delta and its vote count. BM25 replaced the histogram as
the RANKING function per the brief; this operator preserves the
reference's verification SEMANTICS for arbitrary queries (round-1
verdict: the one reference semantic not generalized — the previous
``phrase_match`` hard-coded a single adjacent pair).

Physical plan: query term-positions are tiny → broadcast; postings
join on term; ``explode(positions)`` is the only row expansion; one
groupBy((query, doc, delta)) with map-side partial aggregation; one
window per (query, doc) for the argmax. No driver collection, no
quadratic blowup: work is O(matched postings × positions per posting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokens_col,
)


def query_term_positions(queries: DataFrame, id_col: str = "query_id",
                         text_col: str = "text") -> DataFrame:
    """(query_id, term, qpos) — every occurrence with its 0-based
    token offset (↔ the query-side shash, ``Matching.py:103-105``)."""
    return queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(tokens_col(F.col(text_col))).alias("qpos", "term"),
    ).select("query_id", "term", "qpos")


def positional_verify(postings: DataFrame, queries: DataFrame,
                      id_col: str = "query_id",
                      text_col: str = "text") -> DataFrame:
    """Per (query, candidate doc): the offset delta most matched-term
    occurrences agree on, and how many agree.

    ``postings`` must carry (doc_id, term, positions array) — a
    positions-storing ``SegmentIndex``'s ``merged_doc_terms()`` or
    its query-term read ``positions_for_query_terms`` (both JVM scans
    of its doc_terms columns).

    Output: (query_id, doc_id, best_delta, aligned_count), one row per
    candidate pair; ties break on smallest delta. ``aligned_count`` is
    the reference's ``max(histogram)`` score (``_Shazam_.py:343-347``).
    """
    qtp = query_term_positions(queries, id_col, text_col)
    occurrences = postings.select(
        "doc_id", "term", F.explode("positions").alias("pos")
    )
    deltas = (
        occurrences.join(F.broadcast(qtp), "term")
        .select(
            "query_id",
            "doc_id",
            (F.col("pos") - F.col("qpos")).cast("long").alias("delta"),
        )
    )
    # one exchange for histogram AND argmax window (guide §2.4):
    # hashing deltas by (query_id, doc_id) satisfies the
    # groupBy(query_id, doc_id, delta) clustering AND the window
    # partitioning, so the post-histogram re-shuffle disappears; delta
    # rows are barely wider than histogram rows (most bins hold 1-2
    # votes), so the single earlier exchange also ships fewer total
    # bytes than the two it replaces
    hist = deltas.repartition(
        F.col("query_id"), F.col("doc_id")
    ).groupBy("query_id", "doc_id", "delta").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    w = Window.partitionBy("query_id", "doc_id").orderBy(
        F.col("votes").desc(), F.col("delta").asc()
    )
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "doc_id",
            F.col("delta").alias("best_delta"),
            F.col("votes").alias("aligned_count"),
        )
    )

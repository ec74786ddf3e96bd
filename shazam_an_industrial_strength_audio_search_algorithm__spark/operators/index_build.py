"""Inverted-index construction — DataFrame-native.

Reference parity (SURVEY §2.4 A1/A2, §3.1): the reference builds, one
doc at a time in a single thread (``utils/Hashing.py:43-63``),
(a) a per-doc ``shash`` = {hash → positions set} (``_Shazam_.py:242-280``)
and (b) the global ``LUT`` = {hash → doc set} (``addLUT``,
``_Shazam_.py:462-469``), both pickled whole.

Here the same two artifacts are:

- ``doc_terms(doc_id, term, tf, positions, doc_len)`` — the per-doc
  term vector with positions (↔ shash; ``doc_len`` ↔ ``max_time``,
  ``_Shazam_.py:278``), computed **narrow** (zero shuffle): every
  token of a doc already lives in its row, so tf/positions/doc_len
  come out of one Arrow-batched pandas UDF — the 100 TB design point
  is that tokenization+counting never shuffles.
- flat postings = ``doc_terms`` viewed term-major; the only wide
  dependency in the whole build is the ``groupBy(term)`` that derives
  document frequencies / posting groups (↔ the addLUT fold-in), and
  at scale it is salted (see operators/segments.py for the
  skew-split, block-compressed, resumable builder).

Scale notes: docs are hashed to 64-bit ids JVM-side (``xxhash64`` —
the determinism contract the reference gets from unsalted int-tuple
``hash()``, ``_Shazam_.py:258-261``); empty docs are quarantined, not
dropped silently (↔ ``[None, None]`` sentinel guards,
``_Shazam_.py:463-465``, ``Matching.py:108-111``).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokenize_py,
)

KEY_COLS = ["repo", "path", "commit"]

DOC_TERM_STATS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.IntegerType()),
            T.StructField("positions", T.ArrayType(T.IntegerType())),
        ]
    )
)


def with_doc_id(corpus: DataFrame) -> DataFrame:
    """64-bit deterministic docID from the natural key (FIXTURES §1)."""
    return corpus.withColumn("doc_id", F.xxhash64(*KEY_COLS))


def dedup_last_wins(corpus: DataFrame, strict: bool = True,
                    assume_unique: bool = False) -> DataFrame:
    """Duplicate (repo,path,commit) keys: last-writer-wins — the dict
    semantics of the reference's ``wav.scp`` parse (``Hashing.py:30``,
    SURVEY §2.1 S1). "Last" is deterministic ONLY when a monotonic
    ``ingest_seq`` column is present (the reference's file order made
    explicit).

    Default (``strict=True``, since round 3): deterministic always —
    with ``ingest_seq`` the true last writer wins; without it the
    input must carry NO duplicate keys (pass-through), and duplicate
    keys raise loudly instead of silently resolving to a
    partition-layout-dependent winner. The uniqueness probe runs one
    cheap count job over the keys; batches that carry ``ingest_seq``
    skip it entirely.

    ``strict=False`` restores the pre-round-3 fallback: pick ONE row
    per key via ``monotonically_increasing_id`` — fine for
    dedup-to-single, NOT a stable last-writer (layout-dependent).

    ``assume_unique=True`` skips the strict-mode uniqueness probe
    entirely (pure pass-through) — for callers that ALREADY
    deduplicated by key (``stream_ingest`` dedupes every micro-batch
    before ``apply_updates``; paying a second groupBy/count probe per
    batch buys nothing). The trust is the caller's: a violated
    promise yields duplicate postings, not an error."""
    from pyspark.sql import Window

    if assume_unique and "ingest_seq" not in corpus.columns:
        return corpus
    if "ingest_seq" in corpus.columns:
        order = F.col("ingest_seq").desc()
    elif strict:
        dup = (
            corpus.groupBy(*KEY_COLS).count()
            .filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                "dedup_last_wins(strict=True): duplicate "
                f"{tuple(KEY_COLS)} keys but no ingest_seq column — "
                "'last' would be partition-layout-dependent. Add a "
                "monotonic ingest_seq, or pass strict=False to accept "
                "an arbitrary (non-reproducible) winner"
            )
        return corpus
    else:
        order = F.monotonically_increasing_id().desc()
    w = Window.partitionBy(*KEY_COLS).orderBy(order)
    return (
        corpus.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


DOC_TERM_TF_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("tf", T.IntegerType()),
        ]
    )
)


@F.pandas_udf(DOC_TERM_STATS_SCHEMA)
def doc_term_stats_udf(texts: pd.Series) -> pd.Series:
    """content → [(term, tf, positions)] per doc. Arrow-batched, pure
    per-row compute — the narrow fingerprinting step (↔ hashPeaks,
    ``_Shazam_.py:242-280``, positions-set dedup at :269-276; here
    positions are exact occurrence offsets, ascending)."""

    def stats(text):
        toks = tokenize_py(text)
        agg: dict[str, list[int]] = {}
        for pos, t in enumerate(toks):
            agg.setdefault(t, []).append(pos)
        return [
            {"term": t, "tf": len(ps), "positions": ps} for t, ps in agg.items()
        ]

    return texts.map(stats)


@F.pandas_udf(DOC_TERM_TF_SCHEMA)
def doc_term_tf_udf(texts: pd.Series) -> pd.Series:
    """content → [(term, tf)] per doc — the positions-free fast path
    (Counter is C-speed; no per-token Python loop, ~3× lighter Arrow
    payload, and the parquet doc_terms shrinks accordingly)."""
    from collections import Counter

    def stats(text):
        return [
            {"term": t, "tf": c} for t, c in Counter(tokenize_py(text)).items()
        ]

    return texts.map(stats)


def doc_term_stage(corpus: DataFrame, id_col: str = "doc_id",
                   text_col: str = "content",
                   with_positions: bool = True) -> DataFrame:
    """corpus → (doc_id, stats array<struct>, doc_len) — ONE tokenize
    pass producing everything phase A needs. Persist this frame to
    derive both the exploded ``doc_terms`` AND the per-doc ``doc_lens``
    without tokenizing twice (the 'tokenize once, ever' contract)."""
    udf = doc_term_stats_udf if with_positions else doc_term_tf_udf
    return corpus.select(
        F.col(id_col).alias("doc_id"),
        udf(F.col(text_col)).alias("stats"),
    ).withColumn(
        "doc_len", F.aggregate("stats", F.lit(0), lambda a, s: a + s["tf"])
    )


def explode_doc_terms(stage: DataFrame,
                      with_positions: bool = True) -> DataFrame:
    """(doc_id, stats, doc_len) → doc_terms(doc_id, term, tf
    [, positions], doc_len) — narrow explode of the staged pass."""
    cols = [
        "doc_id",
        F.col("s.term").alias("term"),
        F.col("s.tf").alias("tf"),
    ]
    if with_positions:
        cols.append(F.col("s.positions").alias("positions"))
    cols.append(F.col("doc_len"))
    return stage.select(
        "doc_id", "doc_len", F.explode("stats").alias("s")
    ).select(*cols)


def build_doc_terms(corpus: DataFrame, id_col: str = "doc_id",
                    text_col: str = "content",
                    with_positions: bool = True) -> DataFrame:
    """corpus → doc_terms(doc_id, term, tf[, positions], doc_len).

    Zero-shuffle: one projection + one explode. ``doc_len`` = total
    token count (BM25 length-normalization input, ↔ ``max_time``).
    Empty docs vanish here; surface them with ``unindexed_docs``.
    ``with_positions=False`` is the index-build fast path — BM25 needs
    only tf; positions are for phrase/proximity verification.
    """
    return explode_doc_terms(
        doc_term_stage(corpus, id_col, text_col, with_positions),
        with_positions,
    )


def unindexed_docs(corpus: DataFrame, id_col: str = "doc_id",
                   text_col: str = "content") -> DataFrame:
    """Quarantine side-output: docs that tokenize to nothing (↔ the
    reference's [None,None]-sentinel skip + ``Unmatched_Dict`` remark,
    ``Matching.py:108-111``)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
        tokens_col,
    )

    return corpus.filter(F.size(tokens_col(text_col)) == 0).select(
        id_col, F.lit("empty_after_tokenize").alias("reason")
    )


def term_stats(doc_terms: DataFrame) -> DataFrame:
    """term → document frequency. (doc_id, term) is unique in
    doc_terms, so df = count(*) — map-side partial agg + final, the
    one legitimate wide dep of the build."""
    return doc_terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


@dataclass
class InvertedIndex:
    """In-memory (DataFrame) form of the index — engine v1. The
    persisted, block-compressed, resumable form lives in
    operators/segments.py."""

    doc_terms: DataFrame
    term_stats: DataFrame
    n_docs: int
    avgdl: float

    @classmethod
    def build(cls, corpus: DataFrame, id_col: str = "doc_id",
              text_col: str = "content") -> "InvertedIndex":
        """Precondition: ``id_col`` is unique per corpus row — (N,
        avgdl) come from a distinct over the postings' (doc_id,
        doc_len), so two rows sharing an id and a length would count
        as one doc.

        The postings are persisted through the session owner (built
        inside a memoized fixture, they live as long as it)."""
        from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
            OWNER,
            spread_input,
        )

        if id_col == "doc_id" and "doc_id" not in corpus.columns:
            corpus = with_doc_id(corpus)
        # the tokenize UDF is the heavy per-row kernel of this build;
        # a single-row-group input otherwise runs it on one task
        corpus = spread_input(corpus)
        # (N, avgdl) off the persisted postings instead of a second
        # full-corpus tokenize pass: doc_len is functionally
        # determined by doc_id, so the distinct collapses map-side to
        # ~one row per doc (a doc's postings are co-located by the
        # explode) — a doc-count-sized shuffle, not the index. avg
        # over the int doc_len sums exactly in a long, so the double
        # result is order-independent.
        dt = OWNER.persist(build_doc_terms(corpus, id_col, text_col))
        row = (
            dt.select("doc_id", "doc_len").distinct()
            .agg(F.count(F.lit(1)).alias("n"),
                 F.avg("doc_len").alias("avgdl"))
            .collect()[0]
        )
        n, avgdl = int(row["n"] or 0), float(row["avgdl"] or 0.0)
        return cls(doc_terms=dt, term_stats=term_stats(dt), n_docs=n, avgdl=avgdl)

    def postings_for_query_terms(self, qt: DataFrame) -> DataFrame:
        """(term, doc_id, tf, doc_len, df) for every distinct term in
        ``qt`` — the same shape ``SegmentIndex.postings_for_query_terms``
        returns, so both index kinds feed ``topk.bm25_scores``. The
        query's df stats are tiny and broadcast into the postings
        scan."""
        stats = self.term_stats.join(
            F.broadcast(qt.select("term").distinct()), "term"
        )
        return self.doc_terms.join(F.broadcast(stats), "term").select(
            "term", "doc_id", "tf", "doc_len", "df"
        )

"""Inverted-index construction, phase A — DataFrame-native.

Reference parity (SURVEY §2.4 A1/A2, §3.1): the reference builds, one
doc at a time in a single thread (``utils/Hashing.py:43-63``),
(a) a per-doc ``shash`` = {hash → positions set} (``_Shazam_.py:242-280``)
and (b) the global ``LUT`` = {hash → doc set} (``addLUT``,
``_Shazam_.py:462-469``), both pickled whole.

Here the same two artifacts are:

- ``doc_terms(doc_id, term, tf[, positions], doc_len)`` — the per-doc
  term vector (↔ shash; ``doc_len`` ↔ ``max_time``,
  ``_Shazam_.py:278``), computed **narrow** (zero shuffle): every
  token of a doc already lives in its row, so tf/positions/doc_len
  come out of one Arrow-batched pandas UDF (``doc_term_stage`` +
  ``explode_doc_terms``) — the 100 TB design point is that
  tokenization+counting never shuffles.
- flat postings = ``doc_terms`` viewed term-major; the only wide
  dependency is the ``groupBy(term)`` that derives document
  frequencies (``term_stats``, ↔ the addLUT fold-in). The persisted,
  bucketed, skew-salted, resumable index that stores both is
  ``operators/segments.py``; every index read goes through it.

Scale notes: docs are hashed to 64-bit ids JVM-side (``xxhash64`` —
the determinism contract the reference gets from unsalted int-tuple
``hash()``, ``_Shazam_.py:258-261``); empty docs are quarantined, not
dropped silently (↔ ``[None, None]`` sentinel guards,
``_Shazam_.py:463-465``, ``Matching.py:108-111``).
"""
from __future__ import annotations

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


def dedup_last_wins(corpus: DataFrame,
                    assume_unique: bool = False) -> DataFrame:
    """Duplicate (repo,path,commit) keys: last-writer-wins — the dict
    semantics of the reference's ``wav.scp`` parse (``Hashing.py:30``,
    SURVEY §2.1 S1). "Last" is deterministic ONLY when a monotonic
    ``ingest_seq`` column is present (the reference's file order made
    explicit).

    Deterministic always: with ``ingest_seq`` the true last writer
    wins; without it the input must carry NO duplicate keys
    (pass-through), and duplicate keys raise loudly instead of
    silently resolving to a partition-layout-dependent winner. The
    uniqueness probe runs one cheap count job over the keys; batches
    that carry ``ingest_seq`` skip it entirely.

    ``assume_unique=True`` skips the uniqueness probe entirely (pure
    pass-through) — for callers that ALREADY deduplicated by key
    (``stream_ingest`` dedupes every micro-batch before
    ``apply_updates``; paying a second groupBy/count probe per batch
    buys nothing). The trust is the caller's: a violated promise
    yields duplicate postings, not an error."""
    from pyspark.sql import Window

    if "ingest_seq" not in corpus.columns:
        if assume_unique:
            return corpus
        dup = (
            corpus.groupBy(*KEY_COLS).count()
            .filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise ValueError(
                f"dedup_last_wins: duplicate {tuple(KEY_COLS)} keys but "
                "no ingest_seq column — 'last' would be "
                "partition-layout-dependent. Add a monotonic ingest_seq "
                "column, or deduplicate the keys first"
            )
        return corpus
    w = Window.partitionBy(*KEY_COLS).orderBy(F.col("ingest_seq").desc())
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
    doc_terms, so df = count(*) — map-side partial agg + final."""
    return doc_terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

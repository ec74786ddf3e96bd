"""Pre-tokenized postings paths (round-6 optimization): a segment
build fed ``doc_terms_df`` and an update fed ``add_doc_terms`` must
produce byte-identical segments and identical snapshot stats to the
tokenize paths — the frames are the same postings, so everything
downstream (encode, df, salts, block bounds) must not move. Both
seams reject a call that leaves nothing to index before writing."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    build_doc_terms,
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    build_segment_index,
)


def _seg_fingerprint(spark, index_dir):
    """Order-independent digest of every encoded block + the snapshot
    stats that feed scoring."""
    idx = SegmentIndex.open(spark, index_dir)
    rows = sorted(
        (
            r["bucket"], r["term"], r["salt"], r["block_seq"],
            r["df"], r["n_docs"], bytes(r["payload"]).hex(),
        )
        for r in idx.segments(None).select(
            "bucket", "term", "salt", "block_seq", "df", "n_docs",
            "payload",
        ).collect()
    )
    snap = idx.snapshot
    return rows, (snap["n_docs"], snap.get("sum_dl"), snap["avgdl"])


def test_doc_terms_df_build_identical(spark, corpus_df, tmp_path):
    corpus = with_doc_id(corpus_df)
    d_tok = str(tmp_path / "tok")
    d_pre = str(tmp_path / "pre")
    kw = dict(n_buckets=2, hot_df=8, block_size=16, store_positions=True)
    build_segment_index(spark, corpus, d_tok, **kw)
    dt = build_doc_terms(corpus, with_positions=True)
    build_segment_index(spark, None, d_pre, doc_terms_df=dt, **kw)
    assert _seg_fingerprint(spark, d_pre) == _seg_fingerprint(spark, d_tok)


def test_add_doc_terms_update_identical(spark, corpus_df, tmp_path):
    corpus = with_doc_id(corpus_df)
    ids = [r["doc_id"] for r in
           corpus.select("doc_id").orderBy("doc_id").limit(10).collect()]
    base = corpus.filter(~F.col("doc_id").isin(ids[:5]))
    batch = corpus.filter(F.col("doc_id").isin(ids))  # 5 new + 5 overwrite

    def build_and_update(d, pretokenized):
        build_segment_index(spark, base, d, n_buckets=2, hot_df=8,
                            block_size=16)
        apply_updates(
            spark, d, add_corpus=batch, mode="delta", explicit_ids=True,
            assume_unique=True,
            add_doc_terms=(
                build_doc_terms(batch, with_positions=False)
                if pretokenized else None
            ),
        )

    d_tok = str(tmp_path / "utok")
    d_pre = str(tmp_path / "upre")
    build_and_update(d_tok, pretokenized=False)
    build_and_update(d_pre, pretokenized=True)
    assert _seg_fingerprint(spark, d_pre) == _seg_fingerprint(spark, d_tok)


def test_build_without_input_raises_before_any_write(spark, tmp_path):
    d = tmp_path / "noinput"
    with pytest.raises(ValueError, match="corpus or a doc_terms_df"):
        build_segment_index(spark, None, str(d), n_buckets=2,
                            block_size=16)
    assert not d.exists()


def test_add_doc_terms_without_add_corpus_raises(spark, corpus_df,
                                                 tmp_path):
    corpus = with_doc_id(corpus_df).limit(10)
    d = str(tmp_path / "nocorpus")
    build_segment_index(spark, corpus, d, n_buckets=2, hot_df=8,
                        block_size=16)
    with pytest.raises(ValueError, match="pass add_corpus"):
        apply_updates(spark, d, mode="delta",
                      add_doc_terms=build_doc_terms(corpus))
    assert SegmentIndex.open(spark, d).version == 1
    assert sorted(os.listdir(f"{d}/manifests")) == ["init"]

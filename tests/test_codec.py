"""Property tests: decode∘encode == id for the posting-block codec
(FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.codec import (
    decode_block,
    encode_block,
    varint_decode,
    varint_encode,
    zigzag_decode,
    zigzag_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    out = varint_decode(varint_encode(arr))
    assert out.tolist() == vals


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_zigzag_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    assert zigzag_decode(zigzag_encode(arr)).tolist() == vals


@given(
    st.sets(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300),
    st.data(),
)
@settings(max_examples=200, deadline=None)
def test_block_roundtrip(ids, data):
    doc_ids = np.array(sorted(ids), dtype=np.int64)
    ints = st.lists(
        st.integers(min_value=1, max_value=10**6),
        min_size=len(doc_ids),
        max_size=len(doc_ids),
    )
    tfs = np.array(data.draw(ints), dtype=np.int64)
    dls = np.array(data.draw(ints), dtype=np.int64)
    d, t, dl = decode_block(encode_block(doc_ids, tfs, dls))
    assert d.tolist() == doc_ids.tolist()
    assert t.tolist() == tfs.tolist()
    assert dl.tolist() == dls.tolist()


def test_block_decode_ignores_trailing_section():
    """Indexes written before positions moved to the doc_terms columns
    append a positions section after doc_lens; the decoder reads the
    first 1 + 3n values and ignores the rest, so WAND still reads
    those payloads."""
    ids = np.array([-5, 2, 9], dtype=np.int64)
    tfs = np.array([2, 1, 3], dtype=np.int64)
    dls = np.array([7, 7, 40], dtype=np.int64)
    trailing = varint_encode(np.array([0, 4, 11, 1, 2, 9], dtype=np.uint64))
    d, t, dl = decode_block(encode_block(ids, tfs, dls) + trailing)
    assert d.tolist() == ids.tolist()
    assert t.tolist() == tfs.tolist()
    assert dl.tolist() == dls.tolist()


def test_block_rejects_unsorted():
    import pytest

    one = np.array([1, 1])
    with pytest.raises(ValueError):
        encode_block(np.array([3, 1], dtype=np.int64), one, one)
    with pytest.raises(ValueError):
        encode_block(np.array([1, 1], dtype=np.int64), one, one)


def test_compression_beats_raw():
    """Dense ascending ids (small gaps) must compress far below raw
    (8B id + 8B tf + 8B dl = 24B/posting)."""
    ids = np.arange(10_000, dtype=np.int64) * 7 + 123
    tfs = np.ones(10_000, dtype=np.int64)
    dls = np.full(10_000, 900, dtype=np.int64)
    payload = encode_block(ids, tfs, dls)
    assert len(payload) < 10_000 * 5  # ~4 bytes/posting vs 24 raw

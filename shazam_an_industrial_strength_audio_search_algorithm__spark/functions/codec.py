"""Delta-gap + varint posting-block codec (numpy-vectorized).

Replaces the reference's whole-object pickle of the LUT / per-doc
shash dicts (``utils/_helper_basics_.py:36-58`` ``dump_load_pickle``,
used at ``Hashing.py:52,65-67``, ``Matching.py:62-66``) with the
standard compressed-postings layout: doc_ids sorted ascending, first
id zigzag-encoded, successor gaps (+ tfs) as LEB128 varints.

Encode/decode are vectorized over numpy arrays — they run inside
Arrow-batched ``applyInPandas`` groups (no per-row Python), so a
hot term's million-posting block encodes in C speed.

Property (tests/test_codec.py): decode(encode(x)) == x for arbitrary
sorted int64 doc_id arrays + uint tf arrays, including negative ids
(xxhash64 output covers the full int64 range).
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10


def zigzag_encode(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64, copy=False)
    return ((x.astype(np.uint64) << np.uint64(1)) ^ (x >> np.int64(63)).astype(np.uint64))


def zigzag_decode(z: np.ndarray) -> np.ndarray:
    z = z.astype(np.uint64, copy=False)
    return ((z >> np.uint64(1)) ^ (-(z & np.uint64(1)).astype(np.int64)).astype(np.uint64)).astype(np.int64)


def varint_encode_with_ends(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64 array, vectorized (no Python loop over
    values — only over the ≤10 byte positions). Also returns the
    per-value cumulative byte END offsets, so callers encoding MANY
    logical blocks in one pass can slice the buffer at block
    boundaries (the batched-encode fast path)."""
    v = values.astype(np.uint64, copy=False)
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    # bytes needed per value: 1 + floor(bitlen/7) boundaries
    nb = np.ones(v.shape, dtype=np.int64)
    for j in range(1, _MAX_VARINT_BYTES):
        nb += (v >= (np.uint64(1) << np.uint64(7 * j))).astype(np.int64)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for j in range(_MAX_VARINT_BYTES):
        mask = nb > j
        if not mask.any():
            break
        chunk = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = ((nb[mask] > j + 1).astype(np.uint8)) << np.uint8(7)
        out[starts[mask] + j] = chunk | cont
    return out.tobytes(), ends


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_ends(values)[0]


def varint_decode(buf: bytes, count: int | None = None) -> np.ndarray:
    """Decode LEB128 buffer → uint64 array, vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    n = ends.size
    vals = np.zeros(n, dtype=np.uint64)
    nb = ends - starts + 1
    for j in range(int(nb.max())):
        mask = nb > j
        vals[mask] |= (b[starts[mask] + j].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * j)
    if count is not None and n != count:
        raise ValueError(f"decoded {n} varints, expected {count}")
    return vals


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray,
                 doc_lens: np.ndarray) -> bytes:
    """One posting block → binary payload.

    Layout: varint(n) | zigzag-varint(doc_ids[0]) | varint gaps[n-1]
    | varint tfs[n] | varint doc_lens[n].
    Requires doc_ids strictly ascending. ``doc_len`` is stored inline
    (≈1-2 bytes/posting after varint) so BM25 scoring needs NO join
    against a per-doc norms table — at 10^12 docs that join would
    shuffle the entire decoded posting stream.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    doc_lens = np.asarray(doc_lens, dtype=np.uint64)
    n = doc_ids.size
    if n == 0:
        return varint_encode(np.array([0], dtype=np.uint64))
    if n > 1 and not (doc_ids[1:] > doc_ids[:-1]).all():
        raise ValueError("doc_ids must be strictly ascending")
    # gaps in mod-2^64 arithmetic: the true gap of two ascending int64s
    # always fits uint64 even when it overflows int64
    gaps = doc_ids[1:].astype(np.uint64) - doc_ids[:-1].astype(np.uint64)
    return varint_encode(np.concatenate([
        np.array([n], dtype=np.uint64),
        zigzag_encode(doc_ids[:1]),
        gaps,
        tfs,
        doc_lens,
    ]))


def decode_block(payload: bytes) -> tuple[np.ndarray, ...]:
    """payload → (doc_ids int64 ascending, tfs int64, doc_lens int64).
    Values past the block's 1 + 3n (the positions section that older
    indexes appended) are ignored."""
    vals = varint_decode(payload)
    n = int(vals[0])
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    first = zigzag_decode(vals[1:2]).astype(np.uint64)
    gaps = vals[2:1 + n]
    # mod-2^64 cumsum mirrors the encoder's wraparound gap arithmetic
    doc_ids = np.concatenate((first, gaps)).cumsum(dtype=np.uint64)
    tfs = vals[1 + n:1 + 2 * n].astype(np.int64)
    doc_lens = vals[1 + 2 * n:1 + 3 * n].astype(np.int64)
    if tfs.size != n or doc_lens.size != n:
        raise ValueError("truncated block payload")
    return doc_ids.view(np.int64), tfs, doc_lens

"""Deterministic synthetic source-code corpus + query set.

Shape fixed by BASELINE.json input_hint:
``(repo:string, path:string, commit:string, lang:string, content:string)``.
Mirrors the reference's known-answer toy fixtures
(``/root/reference/data/database/wav.scp`` — 2 docs;
``data/query_short/wav.scp:1-6`` + ``data/query_long/wav.scp:1-2`` —
match / Nil query classes; ``wav_add.scp`` / ``wav_delete.scp`` —
upsert/delete fixtures) per FIXTURES.md §1-2.

Everything is seeded numpy — no wall clock, no external data. Content
is a Zipf-distributed token stream over a ~5k-term vocabulary (a few
stop-token-like hot terms → skew-split test) plus one rare
discriminative term per doc (→ rank-identity test).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["py", "java", "c", "go", "js", "md"]
VOCAB_SIZE = 5000
ZIPF_EXPONENT = 1.1


def _vocab() -> np.ndarray:
    return np.array([f"tok{i:04d}" for i in range(VOCAB_SIZE)])


def _zipf_probs() -> np.ndarray:
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    p = 1.0 / ranks**ZIPF_EXPONENT
    return p / p.sum()


def _zipf_cdf() -> np.ndarray:
    """Normalized cumulative distribution of ``_zipf_probs`` —
    hoisted out of the per-doc sampling loop. ``RandomState.choice``
    re-validates and re-cumsums the full probability vector on EVERY
    call (two O(VOCAB_SIZE) passes per doc); drawing via
    ``cdf.searchsorted(random_sample(n), side='right')`` consumes the
    identical RNG stream and reproduces ``choice``'s exact arithmetic
    (that IS its internal implementation), so the generated corpus is
    bit-identical while the per-doc cost drops to the draws alone."""
    cdf = _zipf_probs().cumsum()
    cdf /= cdf[-1]
    return cdf


def _zipf_draw(rng: np.random.RandomState, cdf: np.ndarray,
               size: int) -> np.ndarray:
    return cdf.searchsorted(rng.random_sample(size), side="right")


def make_corpus(n_docs: int = 500, seed: int = 42,
                min_len: int = 50, max_len: int = 2000) -> pd.DataFrame:
    """Generate the corpus table. Unique key: (repo, path, commit)."""
    rng = np.random.RandomState(seed)
    vocab, cdf = _vocab(), _zipf_cdf()
    rows = []
    for d in range(n_docs):
        repo = f"org{d % 7}/repo{d % 97}"
        lang = LANGS[d % len(LANGS)]
        path = f"src/mod{d % 13}/file{d}.{lang}"
        commit = hashlib.sha256(f"{repo}:{path}:rev0".encode()).hexdigest()[:40]
        n_tok = int(rng.randint(min_len, max_len + 1))
        toks = list(vocab[_zipf_draw(rng, cdf, n_tok)])
        # one rare discriminative term, repeated a few times at seeded spots
        uniq = f"uniq{d:05d}doc"
        for _ in range(3):
            toks[int(rng.randint(0, len(toks)))] = uniq
        rows.append((repo, path, commit, lang, " ".join(toks)))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def make_update_fixtures(corpus: pd.DataFrame, seed: int = 43):
    """(corpus_add, corpus_delete) per FIXTURES.md §1.

    corpus_add: 2 overwrites of existing keys (changed content — the
    reference's overwrite-by-key path, ``Hashing_update.py:60-63``) +
    3 brand-new docs. corpus_delete: 2 existing keys + 1 non-existent
    key (ignored-skip, ``Hashing_update.py:89-93``).
    """
    rng = np.random.RandomState(seed)
    vocab, cdf = _vocab(), _zipf_cdf()
    over = corpus.iloc[[0, 1]].copy()
    over["content"] = [
        " ".join(vocab[_zipf_draw(rng, cdf, 80)]) + f" rewritten{i}mark"
        for i in range(2)
    ]
    new_rows = []
    for i in range(3):
        repo, lang = f"orgnew/repo{i}", LANGS[i]
        path = f"src/new/file{i}.{lang}"
        commit = hashlib.sha256(f"{repo}:{path}:rev0".encode()).hexdigest()[:40]
        toks = list(vocab[_zipf_draw(rng, cdf, 120)]) + [f"brandnew{i}doc"] * 3
        new_rows.append((repo, path, commit, lang, " ".join(toks)))
    add = pd.concat(
        [over, pd.DataFrame(new_rows, columns=corpus.columns)], ignore_index=True
    )
    dele = corpus.iloc[[2, 3]][["repo", "path", "commit"]].copy()
    dele = pd.concat(
        [dele, pd.DataFrame([("org9/ghost", "src/ghost.py", "0" * 40)],
                            columns=["repo", "path", "commit"])],
        ignore_index=True,
    )
    return add, dele


def make_queries(corpus: pd.DataFrame, n_queries: int = 30, seed: int = 44,
                 window: int = 12) -> pd.DataFrame:
    """Query set with the reference's three classes (FIXTURES.md §2):
    (a) verbatim token windows (must match source doc),
    (b) windows + injected noise (must still rank source first),
    (c) out-of-vocabulary streams (must return Nil under threshold).

    Columns: query_id, text, query_class, expected_repo/path/commit
    (NULL for Nil class).
    """
    rng = np.random.RandomState(seed)
    rows = []
    classes = ["verbatim", "noisy", "nil"]
    for q in range(n_queries):
        cls = classes[q % 3]
        qid = f"q{q:03d}"
        if cls == "nil":
            text = " ".join(f"zzqvx{rng.randint(0, 10**6):06d}oov" for _ in range(window))
            rows.append((qid, text, cls, None, None, None))
            continue
        d = int(rng.randint(0, len(corpus)))
        src = corpus.iloc[d]
        toks = src["content"].split(" ")
        start = int(rng.randint(0, max(1, len(toks) - window)))
        w = toks[start:start + window]
        # guarantee the discriminative term is present so class (a)/(b)
        # have a unique best doc
        w[0] = f"uniq{d:05d}doc"
        if cls == "noisy":
            for j in range(2, len(w), 4):
                w[j] = f"zzqnoise{rng.randint(0, 10**6):06d}"
        rows.append((qid, " ".join(w), cls, src["repo"], src["path"], src["commit"]))
    return pd.DataFrame(
        rows,
        columns=["query_id", "text", "query_class",
                 "expected_repo", "expected_path", "expected_commit"],
    )


def distributed_corpus(spark, n_docs: int, seed: int = 42,
                       min_len: int = 50, max_len: int = 2000,
                       partitions: int | None = None,
                       start: int = 0):
    """Spark-distributed deterministic corpus generator (bench scale).

    Same schema and distributional shape as ``make_corpus`` but
    generated in parallel with ``mapInPandas``: each doc's tokens come
    from ``RandomState(seed ^ doc_index)`` so the output is identical
    regardless of partitioning or core count — the property the
    scaling benchmark depends on (same input at local[8] and
    local[32]).

    ``start`` shifts the id range to [start, start+n_docs): an update
    batch generated with ``start=N`` is disjoint from (and identically
    distributed to) the base corpus's docs 0..N — the scale-stress
    delta-update fixture.
    """
    import pandas as _pd
    from pyspark.sql import functions as F

    vocab, cdf = _vocab(), _zipf_cdf()

    def gen(batches):
        for pdf in batches:
            rows = []
            for d in pdf["id"].astype(int):
                rng = np.random.RandomState((seed ^ (d * 2654435761)) % (2**31))
                repo = f"org{d % 7}/repo{d % 97}"
                lang = LANGS[d % len(LANGS)]
                path = f"src/mod{d % 13}/file{d}.{lang}"
                commit = hashlib.sha256(
                    f"{repo}:{path}:rev0".encode()
                ).hexdigest()[:40]
                n_tok = int(rng.randint(min_len, max_len + 1))
                toks = list(vocab[_zipf_draw(rng, cdf, n_tok)])
                uniq = f"uniq{d:07d}doc"
                for _ in range(3):
                    toks[int(rng.randint(0, len(toks)))] = uniq
                rows.append((repo, path, commit, lang, " ".join(toks)))
            yield _pd.DataFrame(
                rows, columns=["repo", "path", "commit", "lang", "content"]
            )

    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(start, start + n_docs, numPartitions=parts)
    return base.mapInPandas(
        gen,
        schema="repo string, path string, commit string, lang string, "
               "content string",
    )

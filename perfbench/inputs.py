"""Seeded inputs: corpus shard, query pools and update batches.

Everything derives from the run's ``--seed``; the engine only ever
sees the generated frames. The corpus comes from the engine's own
``sources.corpus.distributed_corpus`` (Zipf text over ``tok0000`` ..
``tok4999`` plus one ``uniqNNNNNNNdoc`` term per doc); update batches
use the same token distribution.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd

VOCAB = np.array([f"tok{i:04d}" for i in range(5000)])
_P = 1.0 / np.arange(1, VOCAB.size + 1, dtype=np.float64) ** 1.1
ZIPF_CDF = _P.cumsum() / _P.sum()
UNIQ_RE = re.compile(r"uniq\d{7}doc")
KEY = ["repo", "path", "commit"]


def zipf_tokens(rng: np.random.RandomState, n: int) -> list[str]:
    return list(VOCAB[ZIPF_CDF.searchsorted(rng.random_sample(n), side="right")])


def load_corpus(path: str) -> pd.DataFrame:
    """The written shard as pandas (driver-side, no Spark), ordered by
    path, with each doc's discriminative term."""
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas().sort_values("path", ignore_index=True)
    df["uniq"] = df["content"].map(lambda s: UNIQ_RE.search(s).group(0))
    return df


def _window_query(rng, doc_tokens: list[str], uniq: str, window: int,
                  noisy: bool) -> str:
    start = int(rng.randint(0, max(1, len(doc_tokens) - window)))
    w = list(doc_tokens[start:start + window])
    w[0] = uniq
    if noisy:
        for j in range(2, len(w), 4):
            w[j] = f"zzqnoise{rng.randint(0, 10**6):06d}"
    return " ".join(w)


def _nil_query(rng, window: int) -> str:
    return " ".join(f"zzqvx{rng.randint(0, 10**6):06d}oov" for _ in range(window))


def query_frame(rows: list[tuple]) -> pd.DataFrame:
    """(query_id, text, cls, src) rows -> frame. ``src`` is the known
    answer: a doc_id that must rank first, None for a query that must
    return nothing, -1 for none known (checked against DuckDB only)."""
    q = pd.DataFrame(rows, columns=["query_id", "text", "cls", "src"])
    q["src"] = pd.Series([r[3] for r in rows], index=q.index, dtype=object)
    return q


def short_queries(rng, docs: pd.DataFrame, n: int, prefix: str, window: int = 8,
                  nil_share: float = 0.2, noisy_share: float = 0.4) -> pd.DataFrame:
    """8-token windows of random docs, each carrying its doc's
    discriminative term — verbatim, or noisy (every fourth token from
    the third swapped for an unknown one) — and out-of-vocabulary
    queries (must be Nil), in the given shares."""
    rows = []
    for i in range(n):
        u = rng.random_sample()
        qid = f"{prefix}{i:03d}"
        if u < nil_share:
            rows.append((qid, _nil_query(rng, window), "nil", None))
            continue
        noisy = u >= 1.0 - noisy_share
        d = docs.iloc[int(rng.randint(0, len(docs)))]
        text = _window_query(rng, d["content"].split(" "), d["uniq"], window, noisy)
        rows.append((qid, text, "noisy" if noisy else "verbatim", int(d["doc_id"])))
    return query_frame(rows)


def long_queries(rng, docs: pd.DataFrame, n: int, prefix: str,
                 window: int = 64) -> pd.DataFrame:
    """64-token verbatim windows — Zipf text, so mostly hot terms."""
    pool = docs[docs["content"].str.count(" ") >= window]
    rows = []
    for i in range(n):
        toks = pool.iloc[int(rng.randint(0, len(pool)))]["content"].split(" ")
        start = int(rng.randint(0, len(toks) - window + 1))
        rows.append((f"{prefix}{i:03d}", " ".join(toks[start:start + window]),
                     "long", -1))
    return query_frame(rows)


def _commit(repo: str, path: str) -> str:
    return hashlib.sha256(f"{repo}:{path}:rev0".encode()).hexdigest()[:40]


def _with_uniq(toks: list[str], uniq: str, rng) -> str:
    toks = list(toks)
    for _ in range(3):
        toks[int(rng.randint(0, len(toks)))] = uniq
    return " ".join(toks)


def update_batch(rng, alive: dict, cycle: int, n_new: int = 20,
                 n_dup: int = 5, n_over: int = 6, n_del: int = 6,
                 edit_rate: float = 0.01, max_len: int = 600):
    """One upsert batch against the live doc map ``alive`` (path ->
    row dict with repo/path/commit/lang/content/uniq).

    Returns (adds, deletes, injected) — ``adds`` holds ``n_new`` fresh
    docs, ``n_dup`` near-duplicate copies of some of them (each token
    replaced with probability ``edit_rate``, own discriminative term)
    and ``n_over`` overwrites of live keys; ``deletes`` names ``n_del``
    other live keys; ``injected`` lists the (source path, copy path)
    near-dup pairs."""
    adds, injected = [], []
    tag = f"c{cycle:03d}"
    repo = "orgupd/repo0"
    for j in range(n_new):
        path = f"src/upd/{tag}/new{j:02d}.py"
        toks = zipf_tokens(rng, int(rng.randint(50, max_len + 1)))
        uniq = f"upd{tag}n{j:02d}doc"
        adds.append(dict(repo=repo, path=path, commit=_commit(repo, path),
                         lang="py", content=_with_uniq(toks, uniq, rng),
                         uniq=uniq))
    # copies come from the longer half of the new docs: a short doc's
    # three discriminative-term swaps alone would push its copy under
    # the 0.8 Jaccard threshold, and the copy would not be a near-dup
    longer = sorted(range(n_new), key=lambda j: -len(adds[j]["content"]))[:n_new // 2]
    for j in range(n_dup):
        src = adds[longer[int(rng.randint(0, len(longer)))]]
        toks = np.array(src["content"].split(" "), dtype=object)
        is_uniq = toks == src["uniq"]
        edit = (rng.random_sample(toks.size) < edit_rate) & ~is_uniq
        toks[edit] = zipf_tokens(rng, int(edit.sum()))
        uniq = f"upd{tag}d{j:02d}doc"
        toks[is_uniq] = uniq
        path = f"src/upd/{tag}/dup{j:02d}.py"
        adds.append(dict(repo=repo, path=path, commit=_commit(repo, path),
                         lang="py", content=" ".join(toks), uniq=uniq))
        injected.append((src["path"], path))
    live = sorted(alive)
    picks = rng.choice(len(live), n_over + n_del, replace=False)
    for j, i in enumerate(picks[:n_over]):
        old = alive[live[i]]
        uniq = f"ovr{tag}j{j:02d}doc"
        toks = zipf_tokens(rng, int(rng.randint(50, max_len + 1)))
        adds.append(dict(old, content=_with_uniq(toks, uniq, rng), uniq=uniq))
    deletes = [{k: alive[live[i]][k] for k in KEY} for i in picks[n_over:]]
    return adds, deletes, injected

"""Dedup operators: exact groups, n-gram Jaccard, MinHash accuracy
vs exact Jaccard, SimHash self-consistency — over a corpus with
planted near-duplicates."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.dedup import (
    dedup_exact,
    embedding_neardup_pairs,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
    make_corpus,
)


@pytest.fixture(scope="module")
def dup_df(spark):
    """50 docs + planted dups: doc 100 = copy of doc 0, doc 101 = doc 1
    with one token changed (near-dup), doc 102 = unrelated."""
    base = make_corpus(n_docs=20, seed=42, min_len=60, max_len=120)
    rows = []
    for i, (_, r) in enumerate(base.iterrows()):
        rows.append((i, r["content"]))
    rows.append((100, rows[0][1]))  # exact copy of doc 0
    toks = rows[1][1].split(" ")
    toks[5] = "changedtoken"
    rows.append((101, " ".join(toks)))  # near-dup of doc 1
    rows.append((102, "completely different tiny text here"))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )


def test_exact_dup_groups_and_dedup(spark, dup_df):
    groups = exact_dup_groups(dup_df).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g["group_size"] == 2
    assert g["canonical_id"] == 0
    assert list(g["member_ids"]) == [0, 100]
    kept = dedup_exact(dup_df)
    assert kept.count() == dup_df.count() - 1
    assert kept.filter(F.col("doc_id") == 100).count() == 0  # min id kept


def test_exact_dup_groups_bounds_degenerate_membership(spark):
    """A mega-dup group (100k identical docs) must NOT build one row
    holding every member id: member_ids is capped at max_members
    (smallest ids first) while group_size stays the exact count."""
    n = 100_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("same text").alias("text")
    )
    g = exact_dup_groups(df, max_members=100).collect()
    assert len(g) == 1
    assert g[0]["group_size"] == n
    assert g[0]["canonical_id"] == 0
    assert list(g[0]["member_ids"]) == list(range(100))
    # unbounded opt-out still available
    full = exact_dup_groups(df.filter(F.col("doc_id") < 500),
                            max_members=None).collect()
    assert len(list(full[0]["member_ids"])) == 500


def test_last_wins_strict_default_is_deterministic(spark):
    """Unique keys pass through untouched; duplicate keys without
    ingest_seq raise instead of silently picking a
    partition-layout-dependent winner; with ingest_seq the true last
    writer wins."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
        dedup_last_wins,
    )

    cols = ["repo", "path", "commit", "content"]
    uniq = spark.createDataFrame(
        [("r", "a", "c1", "x"), ("r", "b", "c1", "y")], cols
    )
    assert dedup_last_wins(uniq).count() == 2

    dup = spark.createDataFrame(
        [("r", "a", "c1", "old"), ("r", "a", "c1", "new")], cols
    )
    with pytest.raises(ValueError, match="ingest_seq"):
        dedup_last_wins(dup).collect()

    seq = spark.createDataFrame(
        [("r", "a", "c1", "old", 1), ("r", "a", "c1", "new", 2)],
        cols + ["ingest_seq"],
    )
    rows = dedup_last_wins(seq).collect()
    assert len(rows) == 1 and rows[0]["content"] == "new"

    # assume_unique: pure pass-through, NO uniqueness probe job — the
    # trusted-caller fast path (stream_ingest pre-dedupes each batch).
    # Even duplicate keys sail through (the trust is the caller's).
    assert dedup_last_wins(uniq, assume_unique=True) is uniq
    assert dedup_last_wins(dup, assume_unique=True).count() == 2
    # ingest_seq still wins over assume_unique (deterministic anyway,
    # and the caller's promise is about MISSING order, not present)
    rows = dedup_last_wins(seq, assume_unique=True).collect()
    assert len(rows) == 1 and rows[0]["content"] == "new"


def test_ngram_jaccard_finds_planted_pairs(spark, dup_df):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard_micro"]
        for r in ngram_jaccard_pairs(dup_df, threshold=0.5).collect()
    }
    assert pairs[(0, 100)] == 1_000_000  # identical
    assert (1, 101) in pairs and pairs[(1, 101)] >= 500_000  # near-dup


def test_prefix_filter_matches_naive_kernel(spark, dup_df):
    """The AllPairs prefix+length-filtered path (threshold ≥ 0.5
    dispatch) must return EXACTLY the naive self-join kernel's pairs —
    the prefix theorem guarantees no recall loss and the verify step
    removes any hash-collision false candidates."""
    prefix = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard_micro"])
        for r in ngram_jaccard_pairs(dup_df, threshold=0.6).collect()
    }
    naive = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard_micro"])
        for r in ngram_jaccard_pairs(dup_df, threshold=0.0).collect()
        if r["jaccard_micro"] >= 600_000
    }
    assert prefix == naive


def test_minhash_estimates_match_exact(spark, dup_df):
    """LSH must surface the planted pairs; the MinHash estimate must
    be within ±0.15 of exact Jaccard for every surfaced pair."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.dedup import (
        minhash_expected_recall,
    )

    got = minhash_lsh_pairs(dup_df, threshold=0.5, verify=True).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in got}
    assert (0, 100) in pairs and (1, 101) in pairs
    for r in got:
        assert abs(r["est_jaccard_micro"] - r["jaccard_micro"]) <= 150_000, (
            f"estimate off: {r}"
        )
    # the expectation of finding the planted pairs is ANALYTIC, not
    # luck: the banding s-curve at their true Jaccard must make a
    # miss negligible at the default (16 bands × 4 rows) point
    for key in [(0, 100), (1, 101)]:
        j = pairs[key]["jaccard_micro"] / 1e6
        assert minhash_expected_recall(j) >= 0.99, (key, j)


def test_simhash_finds_planted_near_dups(spark, dup_df):
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_pairs(dup_df, max_hamming=10).collect()}
    assert got.get((0, 100)) == 0  # identical text → identical simhash
    assert (1, 101) in got  # one-token change → small hamming
    # unrelated doc must not pair with everything
    assert sum(1 for (a, b) in got if 102 in (a, b)) <= 2


def test_simhash_blocking_recall_complete(spark, dup_df):
    """The chunk blocking must be recall-COMPLETE for the requested
    threshold (round-1 bug: fixed 4 chunks silently dropped pairs with
    hamming 4–8). Ground truth = brute-force all-pairs hamming over
    the signatures; simhash_pairs must return exactly the pairs ≤ h,
    including ones beyond the old 4-chunk guarantee (h > 3)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.dedup import (
        simhash_signatures,
    )

    h = 7
    sigs = simhash_signatures(dup_df)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sb"))
    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= h)
        .collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_pairs(dup_df, max_hamming=h).collect()
    }
    assert got == brute
    # the old 4-chunk scheme only guaranteed hamming ≤ 3: the corpus
    # must contain at least one harder pair for this test to bite
    assert any(v > 3 for v in brute.values()), (
        "fixture too easy — no pair with hamming in 4..7"
    )


def test_embedding_neardup(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = embedding_neardup_pairs(emb.limit(100), threshold=0.99).collect()
    # self-pairs excluded by a < b; sanity: all surfaced pairs ≥ 0.99
    for r in pairs:
        assert r["cosine_micro"] >= 990_000


def test_embedding_neardup_blocked_equals_brute(spark):
    """The blocked matmul executor returns exactly the brute fold
    plan's pairs AND micro scores — including at a low threshold where
    many pairs sit near the rounding boundary, and across n_blocks
    choices (grid shape must not change results)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.dedup import (
        embedding_neardup_blocked,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    want = sorted(
        (r["vec_a"], r["vec_b"], r["cosine_micro"])
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    )
    assert want, "fixture too easy — threshold surfaces no pairs"
    for n_blocks in (1, 3, 8):
        got = sorted(
            (r["vec_a"], r["vec_b"], r["cosine_micro"])
            for r in embedding_neardup_blocked(
                emb, threshold=0.35, n_blocks=n_blocks
            ).collect()
        )
        assert got == want, f"n_blocks={n_blocks}"


def test_prefix_filter_property_random_corpora(spark):
    """Property: for ANY corpus and near-dup threshold, the prefix+
    length-filtered path returns exactly the naive kernel's pairs.
    Tiny alphabet + short docs force heavy shingle collisions — the
    regime where a buggy prefix bound would drop pairs."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    token = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
    doc = st.lists(token, min_size=3, max_size=12).map(" ".join)

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(docs=st.lists(doc, min_size=2, max_size=8),
           t=st.sampled_from([0.5, 0.7, 0.9]))
    def check(docs, t):
        df = spark.createDataFrame(
            [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
        )
        key = lambda r: (r["doc_a"], r["doc_b"])  # noqa: E731
        prefix = {key(r): (r["n_common"], r["jaccard_micro"])
                  for r in ngram_jaccard_pairs(df, threshold=t).collect()}
        naive = {key(r): (r["n_common"], r["jaccard_micro"])
                 for r in ngram_jaccard_pairs(df, threshold=0.0).collect()
                 if r["jaccard_micro"] >= int(t * 1_000_000)}
        assert prefix == naive

    check()


def test_simhash_small_hamming_chunk_widths(spark, dup_df):
    """Regression: max_hamming <= 1 produces 32- and 64-bit chunks —
    the mask/cast must stay LONG-safe (ANSI CAST_OVERFLOW crashed the
    int32 cast; the 64-bit single-chunk case has no representable
    mask literal at all)."""
    for h in (0, 1):
        got = {(r["doc_a"], r["doc_b"]) for r in
               simhash_pairs(dup_df, max_hamming=h).collect()}
        # the exact-copy pair (hamming 0) must survive at every h
        assert (0, 100) in got


@pytest.fixture(params=["local", "distributed"])
def cc_path(request, monkeypatch):
    """Runs a test on each of ``near_dup_clusters``' two paths: the
    local union-find, and (cap 0) the distributed min-label
    propagation that edge sets over ``LOCAL_CC_CAP`` take."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
        dedup,
    )

    if request.param == "distributed":
        monkeypatch.setattr(dedup, "LOCAL_CC_CAP", 0)
    return request.param


def test_near_dup_clusters_chain_and_star(spark, cc_path):
    """Both paths must close transitive chains (propagation: multiple
    rounds) and stars (one round), and label each component by its min
    id; a chain longer than ``max_iter`` rounds raises on the
    distributed path instead of returning split components."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.dedup import (
        near_dup_clusters,
    )

    # chain 1-2-3-4-5 (diameter 4), star 10-(11,12,13), pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (10, 12), (10, 13),
         (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in near_dup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 13: 10,
                   20: 20, 21: 20}
    if cc_path == "distributed":
        with pytest.raises(RuntimeError, match="did not converge"):
            near_dup_clusters(pairs.filter("doc_b <= 5"), max_iter=2)


def test_near_dup_clusters_random_graphs_match_union_find(spark, cc_path):
    """Randomized pin: both paths over arbitrary pair graphs must
    equal a union-find ground truth (components labeled by min
    member)."""
    import random

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.dedup import (
        near_dup_clusters,
    )

    rng = random.Random(1234)
    for trial in range(4):
        n = rng.randint(5, 40)
        m = rng.randint(1, 60)
        edges = set()
        while len(edges) < m:
            a, b = rng.randint(0, n - 1), rng.randint(0, n - 1)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        # union-find ground truth
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        want = {x: find(x) for x in sorted(touched)}

        pairs = spark.createDataFrame(
            sorted(edges), "doc_a long, doc_b long"
        )
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in near_dup_clusters(pairs).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"

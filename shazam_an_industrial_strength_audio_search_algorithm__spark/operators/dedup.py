"""Deduplication operators for a training-data pipeline: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale shapes (the part that must survive 100×):

- exact: one hash-groupBy on a 64-char digest — the classic
  map-side-combine agg; no content ever shuffles, only digests.
- n-gram Jaccard: shingle explode → self-equi-join on shingle →
  pair-count agg. Quadratic in the worst case; at scale you gate it
  behind LSH candidate generation (below) and only verify candidates.
- MinHash: signatures computed in one narrow pass (numpy pandas UDF,
  vectorized across perms), LSH bands hashed JVM-side; the only wide
  op is the band-bucket self-join — banding IS the blocking strategy,
  and band buckets are naturally balanced because signatures are
  near-uniform.
- SimHash: 64-bit signature from xxhash64(term) sign bits weighted by
  tf, chunked into 4×16-bit bands for candidate pairing (hamming ≤ 3
  within-band collision guarantee by pigeonhole).
- embedding near-dup: normalized vectors, cosine = dot; LSH sign
  buckets (seeded hyperplanes) for blocking, exact re-verify.

Determinism: every hash is Spark's xxhash64/Murmur3 or a seeded
affine transform of it — never Python ``hash()`` (the reference's
unsalted-``hash()`` determinism contract, ``_Shazam_.py:258-261``,
made explicit).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokens_col,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
    OWNER,
)

# MinHash parameters: affine permutations h_i(x) = (a_i*x + b_i) mod p
# over a Mersenne prime, seeded — public textbook construction.
MINHASH_PRIME = (1 << 61) - 1
DEFAULT_NUM_PERM = 64
DEFAULT_BANDS = 16
# near_dup_clusters: edge sets up to this size take the local union-find
LOCAL_CC_CAP = 2_000_000


def minhash_expected_recall(jaccard: float,
                            bands: int = DEFAULT_BANDS,
                            num_perm: int = DEFAULT_NUM_PERM) -> float:
    """P(a pair at the given Jaccard similarity shares at least one
    LSH band) — the banding s-curve 1 - (1 - j^r)^b with r =
    num_perm/bands rows per band (Broder '97 / Leskovec-Rajaraman-
    Ullman ch.3). The analysis prose in the driver query docstrings
    made assertable: tests compute the bound from the operating point
    instead of hard-coding a recall constant."""
    r = num_perm // bands
    j = min(1.0, max(0.0, float(jaccard)))
    return 1.0 - (1.0 - j ** r) ** bands


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dup_groups(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_members: int = 100) -> DataFrame:
    """Groups of byte-identical docs: (content_sha, group_size,
    canonical_id=min id, member ids sorted). Only digests shuffle.

    ``member_ids`` holds the ``max_members`` SMALLEST ids per group
    (``group_size`` stays the exact count): a pathological mega-dup
    group (10^8 empty files) must not build one multi-GB row. The
    bound holds in the AGG BUFFER too, not just the output — ids are
    rank-gated before ``collect_list`` (nulls aren't collected), so a
    degenerate group never materializes its full membership anywhere.
    The rank window shares the groupBy's hash partitioning, so this
    costs no extra shuffle. Pass ``max_members=None`` for unbounded
    (the pre-cap behavior). For full membership at scale use
    ``dedup_exact`` (exploded, one row per doc) instead."""
    hashed = df.select(F.col(id_col).alias("doc_id"),
                       F.sha2(F.col(text_col), 256).alias("content_sha"))
    if max_members is not None:
        w = Window.partitionBy("content_sha").orderBy(F.col("doc_id").asc())
        hashed = hashed.withColumn("_rn", F.row_number().over(w))
        member = F.when(F.col("_rn") <= max_members, F.col("doc_id"))
    else:
        member = F.col("doc_id")
    return (
        hashed
        .groupBy("content_sha")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.min("doc_id").alias("canonical_id"),
            F.sort_array(F.collect_list(member)).alias("member_ids"),
        )
        .filter(F.col("group_size") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per identical-content group."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(
        F.col(id_col).asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact pairwise over shingles)
# ---------------------------------------------------------------------------
def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Distinct token n-gram shingles per doc: (doc_id, shingle).

    The token array is materialized ONCE per row before the shingle
    HOF runs. Referencing the raw ``tokens_col(text)`` expression
    inside the ``transform`` lambda re-embeds the regex tokenizer into
    the lambda body, re-running it per array ELEMENT — O(tokens²) per
    doc (measured 15 s for 5 k docs at sf0.1; ~1 s staged)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        spread_input,
    )

    # regex tokenize + n-gram transform is the CPU kernel here; a
    # single-row-group input would run it on one task (no-op at scale)
    staged = spread_input(df).select(
        F.col(id_col).alias("doc_id"),
        tokens_col(F.col(text_col)).alias("__toks"),
    )
    # barrier projection: explode(sequence) references __toks as a
    # plain attribute, so Catalyst cannot CollapseProject the
    # tokenizer back into the per-element lambda
    t = F.col("__toks")
    grams = F.array_distinct(
        F.filter(
            F.transform(
                t,
                lambda _, i: F.when(
                    i + n <= F.size(t),
                    F.concat_ws(" ", *[F.element_at(t, i + j + 1)
                                       for j in range(n)]),
                ),
            ),
            lambda g: g.isNotNull(),
        )
    )
    return staged.select("doc_id", F.explode(grams).alias("shingle"))


def _jaccard_from_inter(inter: DataFrame, sizes: DataFrame,
                        threshold: float) -> DataFrame:
    """(doc_a, doc_b, n_common) + per-doc shingle sizes →
    (doc_a, doc_b, n_common, jaccard_micro ≥ threshold)."""
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard_micro",
            F.round(
                F.col("n_common") * F.lit(1_000_000.0)
                / (F.col("size_a") + F.col("size_b") - F.col("n_common"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_micro") >= int(threshold * 1_000_000))
        .select("doc_a", "doc_b", "n_common", "jaccard_micro")
    )


def _verify_pairs(sh: DataFrame, sizes: DataFrame, cand: DataFrame,
                  threshold: float) -> DataFrame:
    """Exact Jaccard for the given (doc_a, doc_b) pairs from
    precomputed shingles — work is O(candidate pairs × shingles per
    doc). Pairs sharing no shingle come back with n_common = 0."""
    inter = (
        cand.select("doc_a", "doc_b")
        .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
              ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    inter = (
        cand.select("doc_a", "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard ≥ threshold pairs (doc_a < doc_b) over n-gram
    shingle sets, plus the intersection/union sizes (integers — the
    driver-hash-stable form; jaccard_micro derived).

    Candidate generation uses AllPairs-style prefix + length filtering
    (Bayardo et al., WWW'07; PPJoin family) — EXACT, no recall loss:
    a pair with Jaccard ≥ t must (a) satisfy t·max(|a|,|b|) ≤
    min(|a|,|b|) and (b) share at least one shingle within each doc's
    first |s| − ⌈t·|s|⌉ + 1 shingles under a global canonical order.
    Ordering rarest-first (ascending corpus df, shingle tiebreak) puts
    only RARE shingles in prefixes, so the candidate self-join never
    touches the hot shingles that make the naive all-pairs join
    O(Σ df²). Candidates are then verified exactly. The join key is
    xxhash64(shingle) — collisions can only ADD candidates (removed by
    the exact verify), never drop true pairs.

    Below threshold 0.5 the prefix keeps most of every doc's shingles
    (p ≈ (1−t)·|s|) and the filter machinery costs more than it saves,
    so the plain self-join kernel runs instead — at such thresholds
    exact all-pairs is inherently quadratic and the scale answer is
    MinHash LSH blocking (``minhash_lsh_pairs``), not a better exact
    join. threshold == 0 likewise means every co-shingled pair."""
    # the shingle frame feeds df-count, ranking, and both verify
    # branches — persist so the regex tokenizer runs once, not 5×.
    # The returned frame is lazy, so the persist is registered with
    # the session owner, which releases it with the query. MEMORY_ONLY:
    # blocks are LRU-evicted under pressure (degrading to recompute)
    # instead of spilling to executor disks
    sh = OWNER.persist(shingles(df, id_col, text_col, n),
                       StorageLevel.MEMORY_ONLY)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    if threshold < 0.5:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        )
        return _jaccard_from_inter(inter, sizes, threshold)

    # the output filter keeps pairs with round(J·1e6) ≥ t_micro, i.e.
    # J ≥ (t_micro − 0.5)/1e6 — candidate generation must therefore
    # guarantee recall down to that HALF-MICRO-relaxed threshold, not
    # to t itself, or boundary pairs that round up get pruned. All
    # bounds below use the doubled-integer form (2·t_micro − 1)/2e6.
    t_micro = int(threshold * 1_000_000)  # same truncation as the
    # output filter (_jaccard_from_inter)
    t2 = 2 * t_micro - 1
    hashed = sh.withColumn("h", F.xxhash64("shingle"))
    # corpus df per shingle-hash: the canonical-order key. Counting on
    # the 8-byte hash (not the string) keeps the wide op narrow; a
    # hash collision merely merges two rare shingles' df — the order
    # stays a pure function of the shingle, which is all the prefix
    # theorem needs (shingle string is the tiebreak). A count window
    # over h attaches df in ONE exchange of the shingle frame; the
    # groupBy(h)+join form shipped the frame across two (partial-agg
    # counts up, then the full frame again as the join probe side —
    # and shingle df is near-unique, so partial agg collapsed nothing).
    w = Window.partitionBy("doc_id").orderBy(F.col("sdf").asc(),
                                             F.col("shingle").asc())
    # n_shingles rides the same doc_id exchange as the rank window —
    # no extra sizes join on this branch
    ranked = (
        hashed.withColumn(
            "sdf", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n_shingles",
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")),
        )
    )
    # prefix length |s| − ⌈t'·|s|⌉ + 1 at the relaxed t' = t2/2e6
    req = F.floor(
        (F.col("n_shingles") * t2 + (2_000_000 - 1)) / 2_000_000
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n_shingles") - req + F.lit(1)
    ).select("doc_id", "h", "n_shingles")
    a = prefix.select(F.col("doc_id").alias("doc_a"), "h",
                      F.col("n_shingles").alias("size_a"))
    b = prefix.select(F.col("doc_id").alias("doc_b"), "h",
                      F.col("n_shingles").alias("size_b"))
    cand = (
        a.join(b, "h")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            # length filter at the relaxed t': J ≥ t' ⇒ t'·max ≤ min
            & (F.least("size_a", "size_b") * F.lit(2_000_000)
               >= F.greatest("size_a", "size_b") * F.lit(t2))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_pairs(sh, sizes, cand, threshold)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def _minhash_params(num_perm: int, seed: int = 7):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MINHASH_PRIME, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, MINHASH_PRIME, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       num_perm: int = DEFAULT_NUM_PERM,
                       seed: int = 7,
                       shingle_df: DataFrame | None = None) -> DataFrame:
    """(doc_id, sig: array<long>[num_perm]) — shingles hashed JVM-side
    (xxhash64), permutations applied vectorized in one pandas UDF.
    ``shingle_df`` lets a caller that already materialized the shingle
    frame (``minhash_lsh_pairs`` persists it for the verify stage)
    reuse it instead of re-running the tokenizer."""
    a, b = _minhash_params(num_perm, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(hashes: pd.Series) -> pd.Series:
        def one(hs):
            if hs is None or len(hs) == 0:
                return None
            x = np.asarray(hs, dtype=np.int64).astype(np.uint64)[:, None]
            # (n_shingles, num_perm) affine transform mod prime
            vals = (x * a[None, :] + b[None, :]) % np.uint64(MINHASH_PRIME)
            return vals.min(axis=0).astype(np.int64)

        return hashes.map(one)

    sh = shingle_df if shingle_df is not None else shingles(
        df, id_col, text_col, n
    )
    hashed = (
        sh.select("doc_id", F.xxhash64("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("hs"))
    )
    return hashed.select(
        "doc_id", sig_udf(F.col("hs")).alias("sig")
    ).filter(F.col("sig").isNotNull())


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      num_perm: int = DEFAULT_NUM_PERM,
                      bands: int = DEFAULT_BANDS,
                      threshold: float = 0.8, seed: int = 7,
                      verify: bool = True) -> DataFrame:
    """Near-dup candidate pairs via banded LSH over MinHash
    signatures; optionally verified with exact shingle Jaccard
    (the scale path: LSH blocks, exact check only on candidates).

    Output: (doc_a, doc_b, est_jaccard_micro[, jaccard_micro])."""
    rows_per_band = num_perm // bands
    # ONE tokenize+shingle pass and ONE signature-UDF pass for the
    # whole pipeline: sh feeds the signature build AND the exact
    # verify (previously a third full shingle pass); sigs feeds the
    # banding AND both sides of the estimate join (exchange reuse
    # deduplicated the shuffle but re-ran the 64-perm UDF above it per
    # consumer). Owner-registered and MEMORY_ONLY, like
    # ngram_jaccard's shingle persist.
    sh = OWNER.persist(shingles(df, id_col, text_col, n),
                       StorageLevel.MEMORY_ONLY)
    sigs = OWNER.persist(minhash_signatures(
        df, id_col, text_col, n, num_perm, seed, shingle_df=sh
    ), StorageLevel.MEMORY_ONLY)
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[F.element_at("sig", i * rows_per_band + j + 1)
                          for j in range(rows_per_band)],
                    )
                )
                for i in range(bands)
            ])
        ).alias("band", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))

    def attach_est(pairs: DataFrame) -> DataFrame:
        # sigs has exactly one row per doc (groupBy doc_id) and every
        # candidate doc has one (banding reads sigs), so these inner
        # joins neither drop nor duplicate pair rows
        return pairs.join(sa, "doc_a").join(sb, "doc_b").withColumn(
            "est_jaccard_micro",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                ) * F.lit(1_000_000.0) / F.lit(num_perm)
            ).cast("long"),
        )

    if not verify:
        return attach_est(cand).select("doc_a", "doc_b",
                                       "est_jaccard_micro")
    # exact check on CANDIDATES ONLY — verification work is
    # O(|candidates| × shingles/doc), never the all-pairs self-join;
    # reuses the persisted shingle frame instead of re-tokenizing.
    # The estimate attaches AFTER the threshold filter: the output is
    # inner-join-identical either way (see attach_est), but the two
    # signature joins then process only the surviving near-dup pairs
    # instead of every LSH candidate — at scale candidates outnumber
    # survivors by orders of magnitude
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    exact = _verify_pairs(sh, sizes, cand, threshold)
    return attach_est(exact).select(
        "doc_a", "doc_b", "est_jaccard_micro", "n_common", "jaccard_micro"
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def sha60_term_hash(term_col):
    """60-bit term hash from the sha256 hex prefix — bit-identical in
    Spark (`conv`) and DuckDB (`CAST('0x…' AS BIGINT)`), so a SimHash
    built on it is SQL-oracle-reproducible. Slower than xxhash64;
    use only where cross-engine reproducibility matters."""
    return F.conv(F.substring(F.sha2(term_col, 256), 1, 15), 16, 10).cast("long")


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       term_hash=F.xxhash64) -> DataFrame:
    """64-bit SimHash per doc from tf-weighted term-hash sign bits.
    Term hashes are JVM-side (xxhash64 by default; pass
    ``sha60_term_hash`` for the DuckDB-reproducible variant — its top
    4 bits are constant-zero, which only shrinks the code space);
    the bit fold is a pandas UDF."""

    @F.pandas_udf(T.LongType())
    def fold(hashes: pd.Series, tfs: pd.Series) -> pd.Series:
        def one(args):
            hs, ws = args
            if hs is None or len(hs) == 0:
                return 0
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            w = np.asarray(ws, dtype=np.float64)
            bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.float64)
            acc = ((bits * 2 - 1) * w[:, None]).sum(axis=0)
            sig = np.uint64(0)
            for i in np.flatnonzero(acc > 0):
                sig |= np.uint64(1) << np.uint64(i)
            return int(sig.astype(np.int64).view(np.int64))

        return pd.Series(map(one, zip(hashes, tfs)))

    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        spread_input,
    )

    toks = tokens_col(F.col(text_col))
    terms = (
        # regex tokenize dominates this stage; spread a narrow input
        # so it doesn't run on one task (no-op at scale)
        spread_input(df)
        .select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("doc_id")
        .agg(
            F.collect_list(term_hash(F.col("term"))).alias("hs"),
            F.collect_list("tf").alias("ws"),
        )
    )
    return terms.select(
        "doc_id", fold(F.col("hs"), F.col("ws")).alias("simhash")
    )


def _chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """Split 64 bits into n_chunks contiguous (offset, width) spans,
    widths as equal as possible."""
    base, rem = divmod(64, n_chunks)
    bounds, off = [], 0
    for i in range(n_chunks):
        w = base + (1 if i < rem else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 3,
                  term_hash=F.xxhash64) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming — COMPLETE
    recall: blocking uses ``max_hamming + 1`` bit-chunks, so by
    pigeonhole any pair within the threshold shares at least one
    chunk. (Round-1 bug: fixed 4 chunks only guaranteed hamming ≤ 3
    while callers asked for 8.) More chunks = narrower chunks = more
    candidate collisions; keep max_hamming small (≤ 3 is the
    published near-dup operating point for 64-bit SimHash)."""
    n_chunks = min(max_hamming + 1, 64)

    def chunk_expr(off: int, w: int):
        # chunks stay LONG: a 32-bit chunk can exceed int32 (ANSI-mode
        # CAST_OVERFLOW), and the 64-bit single-chunk case (pigeonhole
        # degenerate max_hamming=0 → whole signature) has no
        # representable mask literal at all
        shifted = F.shiftrightunsigned(F.col("simhash"), off)
        if w >= 64:
            return shifted
        return shifted.bitwiseAND(F.lit((1 << w) - 1))

    # both sides of the chunk self-join consume sigs: exchange reuse
    # dedupes the underlying shuffle but the bit-fold UDF above it
    # would re-run per side — persist so it folds once (owner-
    # registered, MEMORY_ONLY: LRU-evictable, lazily recomputable)
    sigs = OWNER.persist(
        simhash_signatures(df, id_col, text_col, term_hash=term_hash),
        StorageLevel.MEMORY_ONLY,
    )
    chunked = sigs.select(
        "doc_id", "simhash",
        F.posexplode(
            F.array(*[
                chunk_expr(off, w) for off, w in _chunk_bounds(n_chunks)
            ])
        ).alias("chunk_idx", "chunk"),
    )
    a = chunked.alias("a")
    b = chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
            .cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------
def _cosine_micro_col(va, vb, na, nb):
    """THE cosine-micro expression — every exact embedding-similarity
    plan (brute and blocked) must score through this one helper so the
    fold order, micro scale, and rounding can never drift apart (the
    blocked executor's output-identity proof depends on it)."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    # zero-norm guard: a zero vector has no direction — score 0 (never
    # >= a positive threshold) instead of NaN, which ANSI mode (Spark 4
    # default) turns into a cast error on round().cast('long')
    return F.when(
        (na * nb) > 0,
        F.round(dot * F.lit(1_000_000.0) / (na * nb)).cast("long"),
    ).otherwise(F.lit(0).cast("long"))


def _prep_vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, v double[], norm) — shared vector prep for both plans."""
    return emb.select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "norm",
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)),
    )


def embedding_neardup_pairs(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.95) -> DataFrame:
    """Exact cosine ≥ threshold pairs. Brute-force path (all-pairs
    within norm-compatible candidates); the blocking variant lives in
    operators/similarity.py (sign-LSH buckets + verify)."""
    v = _prep_vectors(emb, id_col, vec_col)
    a, b = v.alias("a"), v.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn(
            "cosine_micro",
            _cosine_micro_col(F.col("a.v"), F.col("b.v"),
                              F.col("a.norm"), F.col("b.norm")),
        )
        .filter(F.col("cosine_micro") >= int(threshold * 1_000_000))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine_micro",
        )
    )


def embedding_neardup_blocked(emb: DataFrame, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.95,
                              n_blocks: int = 8) -> DataFrame:
    """Exact cosine ≥ threshold pairs via blocked all-pairs matmul —
    the scale executor for :func:`embedding_neardup_pairs` (identical
    output, pinned by tests/test_dedup.py).

    The brute plan evaluates the 64-term fold expression per PAIR
    (O(n²·d) interpreted Catalyst work — 26 s on 2 k×64 vectors); here
    each vector hashes into one of ``n_blocks`` blocks, every vector
    replicates to the ≤ ``n_blocks`` grid cells its block touches, and
    one ``applyInPandas`` per cell (i ≤ j) finds candidates with a
    numpy matmul at BLAS speed. Candidates then re-score through the
    SAME JVM fold expression as the brute path and filter at the true
    threshold, so float summation order never shifts a micro-rounding
    boundary (matmul differs from the left fold only at ~1e-15
    relative; the candidate margin of 1e-4 cosine absorbs that).

    Scale shape: work per cell is (n/n_blocks)²·d at matmul speed;
    shuffle volume is n·n_blocks vector rows. At 10^12 vectors the
    same grid runs with block-pruned storage (cells stream pairwise) —
    the grid IS the standard distributed exact all-pairs layout;
    probabilistic blocking (sign-LSH, operators/similarity.py) is the
    cheaper-but-approximate alternative.
    """
    id_type = dict(emb.dtypes).get(id_col)
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"embedding_neardup_blocked requires an integral id column "
            f"(got {id_col}: {id_type}); add a surrogate id (e.g. "
            f"xxhash64) or use embedding_neardup_pairs"
        )
    v = _prep_vectors(
        emb.withColumn(id_col, F.col(id_col).cast("long")), id_col, vec_col
    ).withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(n_blocks)).cast("int")
    )
    # cells for a vector in block b: (0,b)..(b-1,b), (b,b), (b,b+1)..
    # — pairwise distinct by construction, one row per cell
    cells = F.transform(
        F.sequence(F.lit(0), F.lit(n_blocks - 1)),
        lambda o: F.struct(
            F.least(F.col("blk"), o).alias("ci"),
            F.greatest(F.col("blk"), o).alias("cj"),
        ),
    )
    exploded = (
        v.withColumn("cell", F.explode(cells))
        .select("vec_id", "v", "blk",
                F.col("cell.ci").alias("ci"), F.col("cell.cj").alias("cj"))
    )
    margin = threshold - 1e-4

    def find_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
        ci, cj = int(pdf["ci"].iloc[0]), int(pdf["cj"].iloc[0])
        mat = np.stack(pdf["v"].to_numpy())
        ids = pdf["vec_id"].to_numpy(np.int64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        unit = mat / np.where(norms == 0.0, 1.0, norms)[:, None]
        if ci == cj:
            cos = unit @ unit.T
            ai, bi = np.nonzero(np.triu(cos >= margin, k=1))
        else:
            a_side = pdf["blk"].to_numpy() == ci
            cos = unit[a_side] @ unit[~a_side].T
            ra, rb = np.nonzero(cos >= margin)
            ai = np.flatnonzero(a_side)[ra]
            bi = np.flatnonzero(~a_side)[rb]
        va, vb = ids[ai], ids[bi]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi})

    cand = (
        exploded.groupBy("ci", "cj")
        .applyInPandas(find_candidates, schema="vec_a long, vec_b long")
    )
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                 F.col("norm").alias("na"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                 F.col("norm").alias("nb"))
    return (
        cand.join(a, "vec_a").join(b, "vec_b")
        .withColumn(
            "cosine_micro",
            _cosine_micro_col(F.col("va"), F.col("vb"),
                              F.col("na"), F.col("nb")),
        )
        .filter(F.col("cosine_micro") >= int(threshold * 1_000_000))
        .select("vec_a", "vec_b", "cosine_micro")
    )


# ---------------------------------------------------------------------------
# near-dup clustering (connected components over similarity pairs)
# ---------------------------------------------------------------------------
def near_dup_clusters(pairs: DataFrame, max_iter: int = 50,
                      a_col: str = "doc_a", b_col: str = "doc_b") -> DataFrame:
    """Connected components over near-dup pair edges → (doc_id,
    cluster_id) with cluster_id = min doc_id in the component — the
    step a training-data pipeline runs AFTER pair generation: group
    transitive duplicates, keep one canonical doc per cluster.

    Algorithm: iterative min-label propagation (each round every node
    takes the min of its own and its neighbors' labels), converging in
    O(component diameter) rounds — near-dup components are shallow in
    practice (stars around popular templates), so a handful of rounds
    suffices; exceeding ``max_iter`` RAISES rather than returning
    silently split components. Each round is
    one join + one groupBy (all distributed); the driver sees only a
    1-row convergence aggregate, never data. Lineage is cut per round
    with ``localCheckpoint`` so the plan doesn't grow with iterations.
    At extreme scale the round count drops further with the
    large-star/small-star rewrite (Kiveris et al.) — same dataflow
    shape, alternating edge orientations; the simple propagation is
    kept here for auditability.

    Only docs that appear in ≥1 pair come out (singletons are their
    own cluster trivially — callers left_anti join to find survivors).
    """
    # both orientations via ONE explode instead of a self-union: the
    # union's two branches each re-evaluated the whole pair-generation
    # subtree above its last exchange (candidate verify joins included)
    # — explode emits (a,b) and (b,a) from a single evaluation
    edges = (
        pairs.select(
            F.explode(F.array(
                F.struct(F.col(a_col).alias("src"), F.col(b_col).alias("dst")),
                F.struct(F.col(b_col).alias("src"), F.col(a_col).alias("dst")),
            )).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Size-gated local kernel (the broadcast-join dispatch pattern):
    # a delta-sized edge set pays O(rounds × jobs) of pure scheduling
    # overhead through the distributed loop, while union-find over
    # the collected edges is one bounded collect. Components and
    # min-labels are identical by construction (min-label propagation
    # computes exactly the per-component minimum); past the cap the
    # distributed propagation below runs unchanged.
    if edges.count() <= LOCAL_CC_CAP:
        from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
            local_rows_df,
        )

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            s, d = int(row["src"]), int(row["dst"])
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        comp_min: dict[int, int] = {}
        for n in parent:
            r = find(n)
            comp_min[r] = min(comp_min.get(r, n), n)
        rows = sorted((n, comp_min[find(n)]) for n in parent)
        return local_rows_df(
            edges.sparkSession, rows, "doc_id long, cluster_id long"
        )
    labels = (
        edges.select(F.col("src").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "old"), "doc_id"
            )
            .filter(F.col("label") != F.col("old"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning intermediate labels would silently split
        # components (duplicates survive dedup) — fail loudly instead
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds "
            "(a component's diameter exceeds max_iter — raise max_iter, "
            "or this pair graph has pathological chain structure)"
        )
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id")
    )

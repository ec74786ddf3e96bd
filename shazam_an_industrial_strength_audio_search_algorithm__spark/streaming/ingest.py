"""Streaming index ingestion — the optional extension of the
reference's batch-incremental maintenance (SURVEY §1.6, §2.8: the
reference has no streaming; its ``Hashing_update.py`` add/delete is a
manual batch step).

Design: a file-source stream of corpus rows feeds ``foreachBatch``;
each micro-batch applies the SAME snapshot-committing upsert as batch
maintenance (``operators/maintenance.apply_updates``), by default as
a merge-on-read delta layer (O(batch) write cost, optional
policy-driven ``compact()``). Exactly-once comes from the pairing of (a) Structured
Streaming's checkpointed source offsets and (b) by-key idempotent
snapshot commits — a replayed batch re-applies the same keys and the
tombstone-supersession (delta) / overwrite (rebuild) semantics land
on the same logical index state.

Also included: a watermarked event-time aggregation
(``streaming_term_counts``) showing the engine's term statistics
maintained continuously — watermark + window + groupBy, the canonical
late-data-tolerant shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from shazam_an_industrial_strength_audio_search_algorithm__spark.functions.tokenize import (
    tokens_col,
)

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    mode: str = "delta",
    compact_policy=None,
):
    """Ingest corpus parquet files appearing under ``source_dir`` into
    the segment index at ``index_dir`` (which must already hold a
    committed snapshot — build the initial index first).

    ``mode="delta"`` (default) is the streaming-native shape: each
    micro-batch lands as an O(batch) merge-on-read layer + tombstones
    — per-batch cost tracks BATCH size, not index size, which is what
    keeps a continuous stream viable against a 100 TB index.
    ``compact_policy`` (a ``maintenance.CompactionPolicy``) folds the
    accumulated layers back into one generation by MEASURED state —
    layer count / accumulated delta volume — after each batch
    (wand_topk serves layered snapshots exactly, but pruning sharpness
    and the tombstone set both degrade as layers pile up — the policy
    keeps serving at peak; ``max_layers=1`` compacts after every
    batch). Leave it None and run ``maintenance.compact()`` on your
    own schedule. ``mode="rebuild"``
    runs the compaction merge on each staged batch, re-encoding its
    affected buckets (copy-on-write; keeps the index single-layer at
    all times at much higher write amplification).

    Exactly-once still holds in delta mode: a replayed micro-batch
    re-applies the same keys, whose tombstone supersession makes the
    re-add idempotent by key — the snapshot version may advance but
    the logical index state cannot diverge.

    Returns the StreamingQuery. With ``trigger_available_now`` the
    query drains everything currently available and stops (the batch
    test/replay mode); otherwise it runs continuously.
    """
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        apply_updates,
    )

    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # replay-deterministic intra-batch dedup: if one micro-batch
        # carries the same (repo, path, commit) twice with different
        # content, the winner must not depend on partition layout —
        # otherwise a crash + Structured Streaming replay of this batch
        # could commit
        # DIFFERENT postings than the first attempt. Keep the row with
        # the lexicographically greatest content sha: arbitrary but
        # identical on every replay.
        from pyspark.sql import Window

        w = Window.partitionBy("repo", "path", "commit").orderBy(
            F.sha2(F.col("content"), 256).desc()
        )
        deduped = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # assume_unique: the window above just deduped by key — skip
        # apply_updates' per-batch uniqueness probe job
        apply_updates(spark, index_dir, add_corpus=deduped, mode=mode,
                      assume_unique=True, auto_compact=compact_policy)

    writer = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EMB_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)


def stream_vector_ingest(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    schema: T.StructType | None = None,
):
    """Ingest embedding parquet files appearing under ``source_dir``
    into a persisted ANN layout at ``index_dir`` (built first with
    ``lsh_persist``/``ivf_persist``; the layout's snapshot names its
    kind) — the vector-store twin of ``stream_ingest``. Each
    micro-batch becomes exactly ONE ``vector_upsert`` generation,
    committed through the snapshot protocol every persisted index
    shares (``operators/snapshot.py``), so a concurrent prober sees
    every batch completely or not at all.

    Exactly-once on replay: a crashed-and-replayed micro-batch
    re-upserts the same vec_ids as a NEW generation whose tombstones
    supersede the first attempt's rows — generation numbers advance
    but the logical vector set cannot diverge (the same argument as
    ``stream_ingest``'s by-key idempotence). Intra-batch duplicate
    vec_ids are resolved replay-deterministically (greatest
    serialized-embedding sha wins), never by partition layout.

    ``compact_every=N`` runs ``vector_compact`` after every N batches.
    A compaction commits a new snapshot too, so probes keep running
    through it. Returns the StreamingQuery."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.similarity import (
        vector_compact,
        vector_upsert,
    )

    # file streams need a declared schema; default double vectors —
    # pass schema= for float32 sources (parquet is strict about the
    # element type)
    reader = spark.readStream.schema(schema or EMB_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from pyspark.sql import Window

        w = Window.partitionBy("vec_id").orderBy(
            F.sha2(F.to_json(F.col("embedding")), 256).desc()
        )
        deduped = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        vector_upsert(spark, index_dir, add=deduped)
        if compact_every and (batch_id + 1) % compact_every == 0:
            vector_compact(spark, index_dir)

    writer = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen_shas", T.ArrayType(T.StringType())),
        # per-sha last-seen processing time (ms) — the TTL/eviction
        # clock; parallel to seen_shas
        T.StructField("seen_ms", T.ArrayType(T.LongType())),
    ]
)

DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("content_sha", T.StringType()),
    ]
)


def streaming_dedup_first_wins(
    docs: DataFrame,
    n_shards: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    ttl_ms: int | None = None,
    max_entries_per_shard: int | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator: exact dedup over an
    unbounded stream — emit a doc only the FIRST time its content
    sha256 is seen, across micro-batches (the training-data pipeline's
    streaming dedup; batch twin is ``operators/dedup.dedup_exact``).

    Built on ``applyInPandasWithState``: state is partitioned by a
    sha-derived shard (``pmod(xxhash64(sha), n_shards)``), so each
    group's state holds ~1/n_shards of the digest set — at scale you
    raise ``n_shards`` so per-group state stays RAM-sized; digests are
    64-char strings only, never content. The dedup DECISION (exactly
    one survivor per sha) is deterministic; WHICH duplicate survives a
    single micro-batch is not — rows reach the shard group through a
    hash shuffle that does not preserve source order, so same-batch
    duplicates race (the batch twin ``dedup_exact`` instead keeps
    min(doc_id) deterministically). Across batches the state map wins,
    so replays of already-seen shas are stable.

    State growth is BOUNDED when asked: by default every sha ever seen
    stays in state forever (exact dedup, unbounded — raise
    ``n_shards`` so each group's slice stays RAM-sized). ``ttl_ms``
    evicts entries not seen for that long (refresh-on-sight: content
    recurring faster than the TTL is always deduped; content dormant
    longer may be re-emitted once — the standard bounded-staleness
    trade). ``max_entries_per_shard`` hard-caps each shard's entry
    count, evicting least-recently-seen first. Both bounds make the
    guarantee "first wins within the retention window" instead of
    "first wins ever" — the production shape for unbounded streams.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        now = int(state.getCurrentProcessingTimeMs())
        if state.exists:
            row = state.get
            shas = row[0] or []
            # checkpoints written before seen_ms existed carry a
            # one-field state row — treat every legacy sha as
            # last-seen "now" so an upgraded pipeline restarts from
            # its old checkpoint instead of crashing on unpack
            stamps = (
                row[1] if len(row) > 1 and row[1] is not None
                else [now] * len(shas)
            )
            seen = dict(zip(shas, stamps))
        else:
            seen = {}
        # evict BEFORE scanning the batch: an entry already past its
        # TTL must count as forgotten for this batch's rows, not get
        # refreshed into immortality by the very row it should re-emit
        if ttl_ms is not None:
            cutoff = now - int(ttl_ms)
            seen = {s: t for s, t in seen.items() if t >= cutoff}
        out = []
        for pdf in pdfs:
            for doc_id, sha in zip(pdf["doc_id"], pdf["content_sha"]):
                if sha not in seen:
                    out.append((int(key[0]), int(doc_id), sha))
                seen[sha] = now  # refresh-on-sight
        if (max_entries_per_shard is not None
                and len(seen) > max_entries_per_shard):
            kept = sorted(seen.items(), key=lambda kv: (-kv[1], kv[0]))
            seen = dict(kept[:max_entries_per_shard])
        state.update((list(seen.keys()),
                      [int(t) for t in seen.values()]))
        import pandas as pd  # local import: runs on executors

        yield pd.DataFrame(out, columns=["shard", "doc_id", "content_sha"])

    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(F.col(text_col), 256).alias("content_sha"),
    ).withColumn(
        "shard", F.pmod(F.xxhash64("content_sha"), F.lit(n_shards)).cast("int")
    )
    return hashed.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_term_counts(
    events: DataFrame,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Continuous per-window term frequencies with late-data handling:
    watermark + tumbling event-time window + explode(tokens) +
    count — the streaming twin of the batch ``term_stats`` agg.
    Attach to any streaming DataFrame with (ts, text) columns."""
    return (
        events.withWatermark(ts_col, watermark)
        .select(F.col(ts_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(F.window(ts_col, window_duration).alias("win"), "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "term",
            "tf",
        )
    )

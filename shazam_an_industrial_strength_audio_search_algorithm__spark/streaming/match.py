"""Streaming query matching — the reference's resumable query loop,
re-expressed as Structured Streaming.

The reference processes its query list in a driver loop that
checkpoints progress every ``milestone_idx=100`` queries so an
interrupted run resumes without re-matching
(``/root/reference/utils/Matching.py:21,46-57``), and parallelizes by
splitting the query file across ``nj=32`` background jobs
(``/root/reference/path.sh:49-50``, ``README.md:51,58-66``). The
Spark-first twin is a checkpointed file-source stream: query files
appearing under a directory are matched per micro-batch with
block-max WAND (``wand_topk``, the one pruned executor, which serves
compacted and layered snapshots alike, so every batch writes one
schema), source offsets checkpoint per batch, and a restart
resumes at the first unprocessed FILE — the milestone granularity the
reference hand-rolls, provided by the engine.

Exactly-once output: each micro-batch overwrites its own
``batch_id=N`` partition of the result sink, so a batch replayed
after a crash rewrites identical rows instead of appending
duplicates (idempotent per-batch commit — the same pairing as
``stream_ingest``'s snapshot commits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUERY_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def stream_match(
    spark: SparkSession,
    queries_dir: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 10,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    micro: bool = False,
):
    """Match query parquet files appearing under ``queries_dir``
    against the committed snapshot at ``index_dir``; top-k rows land
    under ``out_dir/batch_id=N/``. Returns the StreamingQuery.

    With ``trigger_available_now`` the stream drains everything
    currently available and stops (the batch/replay mode); otherwise
    it runs continuously, matching new query files as they arrive.

    ``micro=True`` scores in exact integer micro-units (the
    driver-gate convention): the result column is ``score_micro``
    (long) instead of ``score`` (double), so streamed output
    hash-matches the batch engines row for row.
    """
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )

    reader = spark.readStream.schema(QUERY_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(queries_dir)

    def match_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # reopen per batch: a concurrent stream_ingest may have
        # committed new snapshots (possibly delta layers) mid-stream
        idx = SegmentIndex.open(spark, index_dir)
        res = wand_topk(idx, batch_df, k=k, micro=micro)
        # idempotent per-batch commit: a replay of batch N rewrites
        # out_dir/batch_id=N with identical content
        res.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    writer = (
        stream.writeStream.foreachBatch(match_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_match_results(spark: SparkSession, out_dir: str,
                       micro: bool = False) -> DataFrame:
    """All matched results across batches (batch_id recovered from the
    directory layout). Before the first non-empty batch commits there
    are no ``batch_id=N`` dirs — return an empty frame instead of a
    PATH_NOT_FOUND error so monitoring can poll safely. Pass the same
    ``micro`` the stream was started with so the empty-path schema
    matches committed batches (score vs score_micro)."""
    import glob as _glob

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        result_schema,
    )

    if not _glob.glob(f"{out_dir}/batch_id=*"):
        empty = spark.createDataFrame([], result_schema(micro))
        return empty.withColumn("batch_id", F.lit(None).cast("long"))
    return (
        spark.read.option("basePath", out_dir)
        .parquet(f"{out_dir}/batch_id=*")
        .withColumn("batch_id", F.col("batch_id").cast("long"))
    )

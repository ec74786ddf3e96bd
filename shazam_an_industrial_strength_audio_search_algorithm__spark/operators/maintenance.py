"""Incremental index maintenance: upsert / delete / restore.

Reference parity (``utils/Hashing_update.py``, SURVEY §3.3):

- add with overwrite-by-key (``:60-81``: existing utt overwritten,
  new appended)            → ``apply_updates(add_corpus=...)``
- delete with ignored-skip of missing keys (``:83-100``, skip msg
  ``:89-93``; ``removeLUT`` pops empty hash keys ``_Shazam_.py:
  470-481``)               → ``apply_updates(delete_keys=...)``
  (empty terms disappear because their posting groups become empty)
- backup-then-rewrite of all catalogs (``:102-108``) → a real
  snapshot commit: only affected buckets are rebuilt, every other
  bucket is inherited by path; ``restore()`` is a CURRENT-pointer
  flip (the reference's manual backup restore, for free).

Scale analysis: an update touching D docs with T distinct terms
rebuilds only the buckets those terms hash into — work is
O(postings in affected buckets), not O(index). The removed-docs
probe is a predicate-pushed scan of ``doc_terms`` (at 10^12 scale
you'd add a doc_id bloom per file; the dataflow is unchanged).
Global stats (n_docs, avgdl) are recomputed from the incrementally
maintained doc_lens table and stored in the snapshot; stored
block bounds stay safe because WAND recomputes bounds from raw
(max_tf, min_dl) under the current avgdl (see segments.py).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    KEY_COLS,
    dedup_last_wins,
    doc_term_stage,
    explode_doc_terms,
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    SegmentIndex,
    _atomic_write_json,
    _read_current,
    _write_current,
    as_doc_terms,
    bucket_col,
    build_buckets_batch,
    read_snapshot,
)


def _next_version(index_dir: str, base_version: int) -> int:
    """Smallest version above EVERY existing snapshot, not just the
    base: after restore() the base may be an old snapshot while newer
    ones are still retained — reusing their version would overwrite
    data generations those snapshots reference (static overwrites of
    dt/removed staging + dynamic overwrites of seg partitions), i.e.
    silently corrupt retained history."""
    versions = [base_version]
    sdir = f"{index_dir}/snapshots"
    if os.path.isdir(sdir):
        versions += [
            int(n[1:-5]) for n in os.listdir(sdir)
            if n.startswith("v") and n.endswith(".json")
        ]
    return max(versions) + 1


@dataclass
class UpdateReport:
    snapshot_version: int | None
    affected_buckets: list[int]
    built_buckets: list[int]
    skipped_buckets: list[int]
    n_docs: int
    avgdl: float


def apply_updates(
    spark: SparkSession,
    index_dir: str,
    add_corpus: DataFrame | None = None,
    delete_keys: DataFrame | None = None,
    resume: bool = False,
    mode: str = "rebuild",
    assume_unique: bool = False,
    auto_compact: "CompactionPolicy | None" = None,
    explicit_ids: bool = False,
) -> UpdateReport:
    """MERGE-equivalent maintenance producing snapshot v+1.

    ``add_corpus``: rows shaped like the corpus table; existing
    (repo, path, commit) keys are overwritten, new keys appended.
    ``delete_keys``: rows with (repo, path, commit); missing keys are
    silently skipped. Resumable per affected bucket, like the build.

    ``mode`` picks the write-amplification trade (the Iceberg
    copy-on-write vs merge-on-read split):

    - ``"rebuild"`` (copy-on-write): every bucket any touched term
      hashes into is re-encoded whole. Queries stay single-layer
      (WAND-ready), but a 10-doc update rewrites multi-GB buckets at
      10^12-file scale.
    - ``"delta"`` (merge-on-read): the update writes ONLY its own
      postings as a new delta layer plus a doc-id tombstone set —
      write cost O(delta), zero base rewrites. Readers resolve
      layers at query time (``SegmentIndex._postings``:
      tombstone supersession + exact df recompute over query-term
      postings); ``maintenance.compact()`` later multi-way-merges
      the layers back to one generation (Lucene segment-merge
      analog, the reference's ``Combine.py:55-62`` consolidation).

    ``auto_compact``: a ``CompactionPolicy`` — after this update
    commits, ``maybe_compact`` runs under it, so a continuously
    upserting pipeline keeps ``wand_topk`` at peak speed without manual
    compaction calls (the policy-fired compactions appear in the
    snapshot log with ``trigger="policy:..."``).
    """
    if mode not in ("rebuild", "delta"):
        raise ValueError(f"mode must be 'rebuild' or 'delta', got {mode!r}")
    base = SegmentIndex.open(spark, index_dir)
    if mode == "rebuild" and base.has_deltas:
        raise ValueError(
            "rebuild-mode update on a layered snapshot would read "
            "unresolved doc_terms — run compact() first, or keep using "
            "mode='delta'"
        )
    new_version = _next_version(index_dir, base.version)
    gen = f"u{new_version}"
    mdir = f"{index_dir}/manifests/{gen}"
    os.makedirs(mdir, exist_ok=True)
    params_path = f"{mdir}/params.json"

    dtdelta_path = f"{index_dir}/data/dtdelta_{gen}"
    removed_path = f"{index_dir}/data/removed_{gen}"
    dl_path = f"{index_dir}/data/dl_{gen}"

    phase_a_done = resume and os.path.exists(params_path)
    if not phase_a_done:
        # --- doc ids being replaced or deleted -------------------------
        # explicit_ids: the caller's rows already carry a stable
        # ``doc_id`` (an index built with an explicit id_col — e.g.
        # the driver corpus's own ids); hash mode derives it from the
        # natural key, matching with_doc_id-built indexes
        removed_parts = []
        if delete_keys is not None:
            removed_parts.append(
                delete_keys.select("doc_id") if explicit_ids
                else with_doc_id(delete_keys.select(*KEY_COLS))
                .select("doc_id")
            )
        if add_corpus is not None:
            # assume_unique: trusted pre-deduped batches (streaming
            # ingest dedupes per micro-batch) skip the per-batch
            # uniqueness probe job (round-3 advice)
            add_corpus = dedup_last_wins(add_corpus,
                                         assume_unique=assume_unique)
            if not explicit_ids:
                add_corpus = with_doc_id(add_corpus)
            elif "doc_id" not in add_corpus.columns:
                raise ValueError(
                    "explicit_ids=True requires a doc_id column on "
                    "add_corpus"
                )
            # overwrite-by-key: any incoming doc_id that already exists
            removed_parts.append(
                add_corpus.select("doc_id").join(
                    base.doc_lens().select("doc_id"), "doc_id", "left_semi"
                )
            )
        removed = None
        rem_obs = None
        if removed_parts:
            removed = removed_parts[0]
            for p in removed_parts[1:]:
                removed = removed.unionByName(p)
            removed = removed.distinct()
            if mode == "delta":
                # the delta-mode stats accounting needs (n, Σdoc_len)
                # of the removed docs actually alive — ride the
                # removed write as an Observation over a doc_lens left
                # join (count of non-null dl ≡ the alive semi-join)
                # instead of re-reading the just-written parquet in a
                # separate aggregation job
                from pyspark.sql import Observation

                rem_obs = Observation(f"rem_{gen}")
                removed = (
                    removed.join(
                        base.doc_lens().select("doc_id", "doc_len"),
                        "doc_id", "left",
                    )
                    .observe(rem_obs,
                             F.count("doc_len").alias("n"),
                             F.sum("doc_len").alias("s"))
                )
            removed.select("doc_id").write.mode("overwrite")\
                .parquet(removed_path)

        # --- delta doc_terms for added docs (schema must match the
        # base snapshot's doc_terms: positions present or not) --------
        has_delta_rows = False
        stage = None
        if add_corpus is not None:
            from pyspark import StorageLevel

            store_pos = base.snapshot.get("store_positions", False)
            # ONE tokenize pass for the whole update (the build's
            # phase-A contract applied to deltas): the persisted stage
            # feeds the delta doc_terms explode below AND the doc_lens
            # projection further down
            stage = doc_term_stage(
                add_corpus, with_positions=store_pos,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            delta = as_doc_terms(
                explode_doc_terms(stage, with_positions=store_pos)
                .withColumn("bucket", bucket_col(F.col("term"), base.n_buckets)),
                store_pos,
            )
            delta_read_path = (
                f"{index_dir}/data/dt_{gen}" if mode == "delta"
                else dtdelta_path
            )
            if mode == "delta":
                # the delta IS this generation's doc_terms: partition
                # by bucket so the layer's bucket→path map prunes
                (
                    delta.write.mode("overwrite")
                    .partitionBy("bucket")
                    .parquet(delta_read_path)
                )
            else:
                delta.write.mode("overwrite").parquet(dtdelta_path)
            # a batch whose docs all tokenize to empty produces ZERO
            # part files (partitionBy writes none for 0 rows) — reading
            # that back would fail schema inference. Legitimate input
            # (e.g. binary/whitespace files): record a no-op/delete-only
            # update instead of crashing.
            has_delta_rows = any(
                f.endswith(".parquet")
                for _, _, files in os.walk(delta_read_path)
                for f in files
            )

        # --- affected buckets ------------------------------------------
        affected = set()
        if has_delta_rows:
            if mode == "delta":
                # the partitioned write just materialized one
                # ``bucket=K`` dir per affected bucket — read the
                # answer off the directory names instead of running a
                # distinct-aggregation job over the delta parquet
                affected.update(
                    int(name.split("=", 1)[1])
                    for name in os.listdir(delta_read_path)
                    if name.startswith("bucket=")
                )
            else:
                affected.update(
                    r["bucket"]
                    for r in spark.read.parquet(delta_read_path)
                    .select("bucket").distinct().collect()
                )
        if removed is not None and mode == "rebuild":
            # delta mode never touches base buckets — deletes are
            # tombstones applied at read; removal-affected buckets
            # matter only to compaction
            removed_ids = spark.read.parquet(removed_path)
            affected.update(
                r["bucket"]
                for r in base.doc_terms()
                .join(F.broadcast(removed_ids), "doc_id", "left_semi")
                .select("bucket").distinct().collect()
            )
        affected = sorted(affected)

        # --- doc_lens + global stats -----------------------------------
        # narrow off the persisted tokenize stage (doc_len = Σtf, the
        # same total-token count) — no second tokenizer pass
        new_dl = None
        if stage is not None:
            new_dl = (
                stage.select("doc_id", "doc_len")
                .filter(F.col("doc_len") > 0)
            )
        if mode == "rebuild":
            dl = base.doc_lens()
            if removed is not None:
                dl = dl.join(
                    F.broadcast(spark.read.parquet(removed_path)),
                    "doc_id", "left_anti",
                )
            if new_dl is not None:
                dl = dl.unionByName(new_dl)
            # n/sum ride the write job as an Observation — the
            # read-back aggregation was a whole extra job for two
            # scalars the writer already streams past
            from pyspark.sql import Observation

            obs = Observation(f"dl_{gen}")
            dl.observe(
                obs, F.count(F.lit(1)).alias("n"),
                F.sum("doc_len").alias("s"),
            ).write.mode("overwrite").parquet(dl_path)
            row = obs.get
            n_docs_new = int(row["n"] or 0)
            sum_dl_new = int(row["s"] or 0)
        else:
            # delta: write ONLY the added docs' lens; update stats by
            # exact incremental accounting — the full doc_lens table
            # is never rewritten (it would be the one remaining
            # O(index) write in an otherwise O(delta) update)
            base_sum = base.snapshot.get("sum_dl")
            base_n = base.n_docs
            if base_sum is None:  # pre-sum_dl snapshot: one-time scan
                row = base.doc_lens().agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("doc_len").alias("s"),
                ).collect()[0]
                base_n, base_sum = int(row["n"] or 0), int(row["s"] or 0)
            rem_n = rem_sum = 0
            if removed is not None:
                # dl of the docs actually alive among the removed set
                # (ghost delete keys have no doc_lens row and count 0)
                # — captured by the Observation on the removed write
                row = rem_obs.get
                rem_n, rem_sum = int(row["n"] or 0), int(row["s"] or 0)
            add_n = add_sum = 0
            if new_dl is not None:
                # n/sum ride the write job as an Observation (one job,
                # not count-then-write); an all-empty batch's dir is
                # dropped after the fact so no schema-less/0-row delta
                # scan ever attaches to the layer
                from pyspark.sql import Observation

                obs = Observation(f"dl_delta_{gen}")
                new_dl.observe(
                    obs, F.count(F.lit(1)).alias("n"),
                    F.sum("doc_len").alias("s"),
                ).write.mode("overwrite").parquet(dl_path)
                row = obs.get
                add_n, add_sum = int(row["n"] or 0), int(row["s"] or 0)
                if add_n == 0:
                    import shutil as _shutil

                    _shutil.rmtree(dl_path, ignore_errors=True)
                    new_dl = None
            n_docs_new = base_n - rem_n + add_n
            sum_dl_new = base_sum - rem_sum + add_sum
        _atomic_write_json(
            params_path,
            {
                "base_version": base.version,
                "n_docs": n_docs_new,
                "sum_dl": sum_dl_new,
                "avgdl": (sum_dl_new / n_docs_new) if n_docs_new else 0.0,
                "affected_buckets": affected,
                "has_removed": removed is not None,
                "has_delta": bool(has_delta_rows),
                "has_dl_delta": bool(new_dl is not None),
                "mode": mode,
            },
        )
        if stage is not None:
            stage.unpersist()
    params = json.load(open(params_path))
    if params.get("mode", "rebuild") != mode:
        raise ValueError(
            f"resuming update {gen} with mode={mode!r} but it was "
            f"started with mode={params.get('mode', 'rebuild')!r}"
        )
    affected = params["affected_buckets"]
    n_docs, avgdl = params["n_docs"], params["avgdl"]
    base_snap = read_snapshot(index_dir, params["base_version"])

    skipped = [
        b for b in affected
        if resume and os.path.exists(f"{mdir}/bucket_{b}.json")
    ]
    built = [b for b in affected if b not in skipped]
    if built and mode == "rebuild":
        # updated doc_terms for the batch = old minus removed + delta,
        # written partitionBy(bucket) in one job
        dt = base.doc_terms(built)
        if params["has_removed"]:
            dt = dt.join(
                F.broadcast(spark.read.parquet(removed_path)),
                "doc_id", "left_anti",
            )
        if params["has_delta"]:
            dt = dt.unionByName(
                spark.read.parquet(dtdelta_path)
                .filter(F.col("bucket").isin(built))
                .select(*dt.columns)
            )
        (
            dt.repartition(max(1, len(built)), "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/data/dt_{gen}")
        )
    if built:
        # delta mode: dt_{gen} already holds exactly this update's
        # postings — encode them as a new (small) layer, zero base IO
        build_buckets_batch(
            spark, index_dir, gen, built,
            dt_path=f"{index_dir}/data/dt_{gen}",
            avgdl=avgdl, n_docs=n_docs,
            hot_df=base_snap["hot_df"],
            max_salt_bits=base_snap["max_salt_bits"],
            block_size=base_snap["block_size"],
        )

    done = all(
        os.path.exists(f"{mdir}/bucket_{b}.json") for b in affected
    )
    version = None
    if done:
        version = new_version
        gen_map = {
            str(b): {
                "doc_terms": f"data/dt_{gen}/bucket={b}",
                "segments": f"data/seg_{gen}/bucket={b}",
            }
            for b in affected
        }
        if mode == "rebuild":
            buckets_map = dict(base_snap["buckets"])
            buckets_map.update(gen_map)
            layers = base_snap.get("layers") or []
            doc_lens_rel = f"data/dl_{gen}"
        else:
            buckets_map = dict(base_snap["buckets"])
            layer = {"gen": gen, "buckets": gen_map}
            if params["has_removed"]:
                layer["tombstones"] = f"data/removed_{gen}"
            if params.get("has_dl_delta"):
                layer["doc_lens_delta"] = f"data/dl_{gen}"
            layers = (base_snap.get("layers") or []) + [layer]
            doc_lens_rel = base_snap["doc_lens"]  # never rewritten
        _atomic_write_json(
            f"{index_dir}/snapshots/v{version}.json",
            {
                "n_docs": n_docs,
                "sum_dl": params.get("sum_dl"),
                "avgdl": avgdl,
                "n_buckets": base_snap["n_buckets"],
                "block_size": base_snap["block_size"],
                "hot_df": base_snap["hot_df"],
                "max_salt_bits": base_snap["max_salt_bits"],
                "store_positions": base_snap.get("store_positions", False),
                "doc_lens": doc_lens_rel,
                "buckets": buckets_map,
                "layers": layers,
                "parent": params["base_version"],
                "operation": f"update_{mode}",
            },
        )
        _write_current(index_dir, version)
    if version is not None and auto_compact is not None:
        report = maybe_compact(spark, index_dir, auto_compact)
        if report is not None and report.snapshot_version is not None:
            version = report.snapshot_version
    return UpdateReport(
        snapshot_version=version,
        affected_buckets=affected,
        built_buckets=built,
        skipped_buckets=skipped,
        n_docs=n_docs,
        avgdl=avgdl,
    )


@dataclass
class CompactReport:
    snapshot_version: int | None
    affected_buckets: list[int]
    built_buckets: list[int]
    skipped_buckets: list[int]
    n_layers_merged: int


def compact(
    spark: SparkSession,
    index_dir: str,
    resume: bool = False,
    n_buckets: int | str | None = None,
    block_size: int | str | None = None,
    trigger: str = "manual",
) -> CompactReport:
    """Multi-way sorted merge of the delta layers back into one
    generation — the Lucene segment-merge / reference consolidation
    step (``Combine.py:55-62``), Spark-first and re-tokenization-free.

    How the merge is expressed: ``merged_doc_terms`` scans every
    generation's stored doc_terms columns (JVM only, no decode) and
    drops tombstone-superseded rows, and the salted
    ``repartition(bucket, term, salt) + sortWithinPartitions`` in
    ``build_buckets_batch`` IS the k-way merge — the merged order is
    declared and Tungsten's sort-based shuffle produces it; the
    one-pass numpy encoder re-blocks the merged runs. Because the
    encoder re-derives df, salts and block boundaries from the merged
    postings, the output is **bit-identical** to a from-scratch
    rebuild of the same logical corpus (test_compaction pins payload
    sha equality) — but the corpus is never read, let alone
    re-tokenized.

    Only buckets any layer touches (delta postings OR tombstoned base
    docs) are merged; the rest inherit by path. Resumable per bucket
    via manifests, like the build. Global stats are unchanged (the
    updates maintained doc_lens/n_docs/avgdl exactly).

    RE-BUCKETING (round 5): ``n_buckets``/``block_size`` accept an
    int, ``"auto"`` (the data-aware policy ``segments.auto_n_buckets``
    / ``auto_block_size`` evaluated at the CURRENT doc count), or
    None (keep the base layout). When the resolved target differs
    from the base, the compaction re-shards: every term re-hashes
    into the new bucket count, so ALL buckets rebuild in one pass —
    the corpus is still never re-tokenized (the merge input is the
    stored doc_terms). This is how a growing index keeps per-bucket
    posting volume ~constant (the serving-latency driver measured in
    the round-4 knob study) without hand-tuning.

    ``trigger`` is recorded in the snapshot (``"manual"`` vs
    ``"policy"`` from ``maybe_compact``) so the snapshot log shows
    which compactions the auto-policy fired.
    """
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        auto_block_size,
        auto_n_buckets,
    )

    base = SegmentIndex.open(spark, index_dir)
    snap = base.snapshot
    layers = snap.get("layers") or []
    target_buckets = (
        auto_n_buckets(base.n_docs) if n_buckets == "auto"
        else int(n_buckets) if n_buckets is not None
        else snap["n_buckets"]
    )
    target_block = (
        auto_block_size(base.n_docs) if block_size == "auto"
        else int(block_size) if block_size is not None
        else snap["block_size"]
    )
    rebucket = (target_buckets != snap["n_buckets"]
                or target_block != snap["block_size"])
    if not layers and not rebucket:
        return CompactReport(
            snapshot_version=None, affected_buckets=[], built_buckets=[],
            skipped_buckets=[], n_layers_merged=0,
        )
    new_version = _next_version(index_dir, base.version)
    gen = f"c{new_version}"
    mdir = f"{index_dir}/manifests/{gen}"
    os.makedirs(mdir, exist_ok=True)
    params_path = f"{mdir}/params.json"
    dt_path = f"{index_dir}/data/dt_{gen}"

    phase_a_done = resume and os.path.exists(params_path)
    if not phase_a_done:
        if rebucket:
            # re-shard: every term may move — all target buckets build
            affected_l = list(range(target_buckets))
            merged = base.merged_doc_terms(None).drop("bucket")
            merged = merged.withColumn(
                "bucket", bucket_col(F.col("term"), target_buckets)
            )
        else:
            affected: set[int] = set()
            for layer in layers:
                affected.update(int(b) for b in layer.get("buckets", {}))
            tomb = base.tombstones()
            if tomb is not None:
                # buckets whose BASE postings lost docs: probe the base
                # generation's doc_terms (layer buckets are in already)
                base_dt = base._scan_map("doc_terms", snap["buckets"],
                                         strict=True)
                if base_dt is not None:
                    affected.update(
                        r["bucket"]
                        for r in base_dt.join(
                            F.broadcast(tomb.select("doc_id").distinct()),
                            "doc_id", "left_semi",
                        ).select("bucket").distinct().collect()
                    )
            affected_l = sorted(affected)
            merged = base.merged_doc_terms(affected_l)
        # the merge: every generation's doc_terms minus tombstoned
        # rows, written once as the new generation's doc_terms
        (
            merged
            .repartition(max(1, len(affected_l)), "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(dt_path)
        )
        # consolidate doc_lens if any layer carried a dl delta
        has_dl_layers = any(
            layer.get("doc_lens_delta") or layer.get("tombstones")
            for layer in layers
        )
        if has_dl_layers:
            base.doc_lens().write.mode("overwrite").parquet(
                f"{index_dir}/data/dl_{gen}"
            )
        _atomic_write_json(
            params_path,
            {
                "base_version": base.version,
                "affected_buckets": affected_l,
                "dl_consolidated": has_dl_layers,
                "n_buckets": target_buckets,
                "block_size": target_block,
                "rebucket": rebucket,
            },
        )
    params = json.load(open(params_path))
    affected = params["affected_buckets"]
    base_snap = read_snapshot(index_dir, params["base_version"])
    # a resumed compaction uses the layout it was STARTED with
    target_buckets = params.get("n_buckets", base_snap["n_buckets"])
    target_block = params.get("block_size", base_snap["block_size"])
    rebucket = params.get("rebucket", False)

    skipped = [
        b for b in affected
        if resume and os.path.exists(f"{mdir}/bucket_{b}.json")
    ]
    built = [b for b in affected if b not in skipped]
    if built:
        build_buckets_batch(
            spark, index_dir, gen, built,
            dt_path=dt_path,
            avgdl=base_snap["avgdl"], n_docs=base_snap["n_docs"],
            hot_df=base_snap["hot_df"],
            max_salt_bits=base_snap["max_salt_bits"],
            block_size=target_block,
        )

    done = all(
        os.path.exists(f"{mdir}/bucket_{b}.json") for b in affected
    )
    version = None
    if done:
        version = new_version
        if rebucket:
            # bucket assignment changed: nothing inherits by path
            buckets_map = {
                str(b): {
                    "doc_terms": f"data/dt_{gen}/bucket={b}",
                    "segments": f"data/seg_{gen}/bucket={b}",
                }
                for b in range(target_buckets)
            }
        else:
            buckets_map = dict(base_snap["buckets"])
            for b in affected:
                buckets_map[str(b)] = {
                    "doc_terms": f"data/dt_{gen}/bucket={b}",
                    "segments": f"data/seg_{gen}/bucket={b}",
                }
        _atomic_write_json(
            f"{index_dir}/snapshots/v{version}.json",
            {
                "n_docs": base_snap["n_docs"],
                "sum_dl": base_snap.get("sum_dl"),
                "avgdl": base_snap["avgdl"],
                "n_buckets": target_buckets,
                "block_size": target_block,
                "hot_df": base_snap["hot_df"],
                "max_salt_bits": base_snap["max_salt_bits"],
                "store_positions": base_snap.get("store_positions", False),
                "doc_lens": (
                    f"data/dl_{gen}" if params.get("dl_consolidated")
                    else base_snap["doc_lens"]
                ),
                "buckets": buckets_map,
                "layers": [],
                "parent": params["base_version"],
                "operation": "compact",
                "trigger": trigger,
                "rebucketed": rebucket,
            },
        )
        _write_current(index_dir, version)
    return CompactReport(
        snapshot_version=version,
        affected_buckets=list(affected),
        built_buckets=built,
        skipped_buckets=skipped,
        n_layers_merged=len(layers),
    )


@dataclass
class CompactionPolicy:
    """When to fold delta layers back into one generation.

    ``wand_topk`` serves layered snapshots exactly (round 5), so
    compaction no longer gates servability — but each layer adds
    pseudo-terms and tombstone work to every query, pruning loses
    sharpness (stale block bounds keep dead postings' slack), and the
    tombstone closure shipped to kernels is capped. The policy keeps
    a continuously upserting pipeline at peak serving speed.

    - ``max_layers``: compact when the snapshot holds ≥ this many
      delta layers (each layer adds a per-query union + tombstone
      resolve to merge-on-read paths).
    - ``max_delta_frac``: compact when accumulated delta postings
      exceed this fraction of the base size (proxied by the
      snapshot's ``sum_dl`` total-token count — exact delta posting
      counts come from the layers' committed manifests, so the check
      reads a handful of small json files, never data).
    - ``rebucket``: also re-evaluate the data-aware bucket/block
      policy at compaction time (``"auto"``), so a corpus that grew
      past a policy threshold re-shards in the same pass; None keeps
      the base layout.
    """

    max_layers: int = 3
    max_delta_frac: float = 0.25
    rebucket: str | None = "auto"


def _delta_postings(index_dir: str, layers: list[dict]) -> int:
    total = 0
    for layer in layers:
        gen = layer.get("gen")
        for b in layer.get("buckets", {}):
            p = f"{index_dir}/manifests/{gen}/bucket_{b}.json"
            try:
                total += int(json.load(open(p)).get("n_postings", 0))
            except (OSError, ValueError):
                # missing/corrupt manifest: treat as over-threshold —
                # compacting is always safe, serving layered is not
                return 1 << 62
    return total


def should_compact(spark: SparkSession, index_dir: str,
                   policy: CompactionPolicy | None = None) -> str | None:
    """Reason string if the policy says compact now, else None."""
    policy = policy or CompactionPolicy()
    snap = read_snapshot(index_dir, _read_current_version(index_dir))
    layers = snap.get("layers") or []
    if not layers:
        return None
    if len(layers) >= policy.max_layers:
        return f"layers={len(layers)}>=max_layers={policy.max_layers}"
    base_size = int(snap.get("sum_dl") or 0)
    if base_size > 0:
        delta = _delta_postings(index_dir, layers)
        if delta > policy.max_delta_frac * base_size:
            return (f"delta_postings={delta}>"
                    f"{policy.max_delta_frac}*sum_dl={base_size}")
    return None


def maybe_compact(spark: SparkSession, index_dir: str,
                  policy: CompactionPolicy | None = None,
                  ) -> CompactReport | None:
    """Policy-gated compaction: the hook a continuously-upserting
    pipeline calls after each commit (or passes to ``apply_updates``
    via ``auto_compact=``). Fires ``compact(trigger="policy")`` —
    visible in ``snapshot_log`` — when ``should_compact`` says so."""
    policy = policy or CompactionPolicy()
    reason = should_compact(spark, index_dir, policy)
    if reason is None:
        return None
    return compact(
        spark, index_dir,
        n_buckets=policy.rebucket, block_size=policy.rebucket,
        trigger=f"policy:{reason}",
    )


def restore(index_dir: str, version: int) -> None:
    """Time-travel rollback: point CURRENT at an older snapshot (the
    reference's backup-file restore, ``Hashing_update.py:102-108``,
    as a pointer flip; no data moves)."""
    if not os.path.exists(f"{index_dir}/snapshots/v{version}.json"):
        raise FileNotFoundError(f"snapshot v{version} does not exist")
    _write_current(index_dir, version)


def vacuum(index_dir: str, keep_last: int = 2) -> dict:
    """Expire old snapshots and delete data generations no kept
    snapshot references (Iceberg expire_snapshots/remove_orphans
    analog). CURRENT's snapshot is always kept. Returns a report of
    what was removed.

    Safe by construction: referenced paths are collected from the kept
    snapshots' bucket maps + doc_lens pointers; only data/ and
    manifests/ entries referenced by NO kept snapshot are deleted.
    """
    import shutil

    current = _read_current_version(index_dir)
    log = snapshot_log(index_dir)
    versions = [s["version"] for s in log]
    keep = sorted(set(versions[-keep_last:]) | {current})
    kept_snaps = [s for s in log if s["version"] in keep]

    def _collect(snaps):
        dirs: set[str] = set()
        gens: set[str] = set()
        for s in snaps:
            dirs.add(s["doc_lens"].split("/")[1])
            for paths in s["buckets"].values():
                for p in paths.values():
                    dirs.add(p.split("/")[1])  # e.g. dt_u2
            for layer in s.get("layers") or []:
                gens.add(layer["gen"])
                for key in ("tombstones", "doc_lens_delta"):
                    if layer.get(key):
                        dirs.add(layer[key].split("/")[1])
            for layer in s.get("layers") or []:
                for paths in layer.get("buckets", {}).values():
                    for p in paths.values():
                        dirs.add(p.split("/")[1])
        for d in dirs:
            gens.add(d.split("_", 1)[1])  # init / uN
        return dirs, gens

    referenced_dirs, referenced_gens = _collect(kept_snaps)
    # an IN-PROGRESS generation (manifests/<gen> exists but no snapshot
    # anywhere references it yet — e.g. a concurrent update between its
    # phase A and its snapshot commit) must survive vacuum: deleting
    # its staging would fail the running job or, worse, let it commit a
    # snapshot pointing at vanished paths
    _, committed_gens = _collect(log)
    if os.path.isdir(f"{index_dir}/manifests"):
        for name in os.listdir(f"{index_dir}/manifests"):
            if name not in committed_gens:
                referenced_gens.add(name)
                referenced_dirs.update({
                    f"dt_{name}", f"dl_{name}", f"seg_{name}",
                })
    # update generations also reference their delta/removed staging
    for gen in referenced_gens:
        referenced_dirs.update({f"dtdelta_{gen}", f"removed_{gen}"})

    removed_data, removed_snaps = [], []
    for name in sorted(os.listdir(f"{index_dir}/data")):
        if name not in referenced_dirs:
            shutil.rmtree(f"{index_dir}/data/{name}", ignore_errors=True)
            removed_data.append(name)
    for s in log:
        if s["version"] not in keep:
            os.remove(f"{index_dir}/snapshots/v{s['version']}.json")
            removed_snaps.append(s["version"])
    for name in sorted(os.listdir(f"{index_dir}/manifests")):
        if name not in referenced_gens:
            shutil.rmtree(f"{index_dir}/manifests/{name}", ignore_errors=True)
    return {
        "kept_versions": keep,
        "removed_versions": removed_snaps,
        "removed_data_dirs": removed_data,
    }


def _read_current_version(index_dir: str) -> int:
    return _read_current(index_dir)


def snapshot_log(index_dir: str) -> list[dict]:
    """Snapshot lineage, oldest→newest (Iceberg history analog)."""
    out = []
    for name in sorted(os.listdir(f"{index_dir}/snapshots")):
        if name.startswith("v") and name.endswith(".json"):
            snap = json.load(open(f"{index_dir}/snapshots/{name}"))
            snap["version"] = int(name[1:-5])
            out.append(snap)
    return sorted(out, key=lambda s: s["version"])

"""Incremental index maintenance: upsert / delete / compact / restore.

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
  flip (the reference's manual backup restore, for free). ``restore``,
  ``vacuum`` and ``snapshot_log`` live in ``snapshot.py``, shared with
  the vector layouts, and are re-exported here.

Every update stages its batch the same way: the removed doc ids, then
the added docs' doc_terms (partitioned by bucket) and their doc_lens
through the build's own phase A (``segments.stage_corpus``), with
n_docs / avgdl from exact integer accounting. A delta-mode update
encodes and commits that staging as a new layer (merge-on-read). A
rebuild-mode update is the compaction merge applied to the staged
batch: the would-be layered snapshot goes through ``_merge`` — the
one copy-on-write path, ``compact()``'s merge (the reference's
``Combine.py:55-62`` consolidation) — which rewrites the touched
buckets into one generation. Both modes and the merge commit through
the build's phase B (``segments.commit_generation``).

Scale analysis: an update touching D docs with T distinct terms
rebuilds only the buckets those terms hash into — work is
O(postings in affected buckets), not O(index). The removed-docs
probe is a predicate-pushed scan of ``doc_terms`` (at 10^12 scale
you'd add a doc_id bloom per file; the dataflow is unchanged).
Stored block bounds stay safe under a changed avgdl because WAND
recomputes bounds from raw (max_tf, min_dl) (see segments.py).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    KEY_COLS,
    dedup_last_wins,
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
    TOMBSTONES_SCHEMA,
    SegmentIndex,
    as_schema,
    auto_block_size,
    auto_n_buckets,
    bucket_col,
    bucket_paths,
    commit_generation,
    manifested,
    stage_corpus,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.snapshot import (  # noqa: F401 (re-exported)
    CommitConflict,
    _atomic_write_json,
    abandon,
    read_snapshot,
    reserve_generation,
    restore,
    snapshot_log,
    vacuum,
)

# snapshot fields an update or a compaction inherits from its base
_LAYOUT_KEYS = ("n_buckets", "block_size", "hot_df", "max_salt_bits",
                "store_positions")


def _resumed_params(mdir: str, resume: bool) -> dict | None:
    """The generation's params.json when resuming past its phase A."""
    path = f"{mdir}/params.json"
    if resume and os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


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

    Both modes stage the batch alike: the removed doc ids, the added
    docs' doc_terms partitioned by bucket, and their doc_lens.
    ``mode`` picks the write-amplification trade (the Iceberg
    copy-on-write vs merge-on-read split):

    - ``"rebuild"`` (copy-on-write): the compaction merge applied to
      the staged batch — the base plus the staged layer, held in
      memory and never committed, is merged by ``compact()``'s
      ``_merge``: every bucket a staged posting or a removed doc
      touches is re-encoded whole, and one layer-free snapshot
      commits. Queries stay single-layer, but a 10-doc
      update rewrites multi-GB buckets at 10^12-file scale.
    - ``"delta"`` (merge-on-read): the staging IS the new layer — the
      update's postings are encoded as a small layer beside a doc-id
      tombstone set, write cost O(delta), zero base rewrites. Readers
      resolve layers at query time (``SegmentIndex._postings``:
      tombstone supersession + exact df recompute over query-term
      postings); ``compact()`` later merges the layers back to one
      generation.

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
            "rebuild-mode updates apply to a single-layer snapshot — "
            "run compact() first, or keep using mode='delta'"
        )
    new_version = reserve_generation(index_dir, "u", resume)
    gen = f"u{new_version}"
    mdir = f"{index_dir}/manifests/{gen}"
    # delta mode stages straight into its layer's dt_/dl_ dirs; rebuild
    # mode stages beside them, since its merge writes dt_/dl_
    if mode == "delta":
        dt_root, dl_rel = f"dt_{gen}", f"data/dl_{gen}"
    else:
        dt_root, dl_rel = f"dtdelta_{gen}", f"data/dldelta_{gen}"
    removed_rel = f"data/removed_{gen}"

    params = _resumed_params(mdir, resume)
    if params is not None:
        if params.get("mode", "rebuild") != mode:
            raise ValueError(
                f"resuming update {gen} with mode={mode!r} but it was "
                f"started with mode={params.get('mode', 'rebuild')!r}"
            )
        base = SegmentIndex.open(spark, index_dir, params["base_version"])
        staging = params
    else:
        staging, removed_ids = _stage_batch(
            spark, base, gen, add_corpus, delete_keys, assume_unique,
            explicit_ids, f"{index_dir}/data/{dt_root}",
            f"{index_dir}/{dl_rel}", f"{index_dir}/{removed_rel}",
            keep_removed_ids=mode == "rebuild",
        )
        staging["mode"] = mode
        if mode == "delta":
            _atomic_write_json(f"{mdir}/params.json", staging)

    layer = {
        "gen": gen,
        "buckets": {
            str(b): bucket_paths(gen, b, dt_root)
            for b in staging["layer_buckets"]
        },
    }
    if staging["has_removed"]:
        layer["tombstones"] = removed_rel
    if staging["has_dl_delta"]:
        layer["doc_lens_delta"] = dl_rel
    snapshot = {
        **{k: base.snapshot.get(k, False) for k in _LAYOUT_KEYS},
        "n_docs": staging["n_docs"],
        "sum_dl": staging["sum_dl"],
        "avgdl": staging["avgdl"],
        "doc_lens": base.snapshot["doc_lens"],
        "buckets": base.snapshot["buckets"],
        "layers": base.layers + [layer],
    }

    if mode == "rebuild":
        layered = SegmentIndex(spark, index_dir,
                               {**snapshot, "version": base.version})
        if params is None:
            # the staged layer's tombstones are exactly the removed ids
            # the staging observed: hand them to the merge instead of
            # re-reading the parquet just written
            layered._tomb["arrays"] = None if removed_ids is None else (
                removed_ids,
                np.full(len(removed_ids), len(layered.layers), np.int64),
            )
        merge = _merge(
            spark, layered, gen, new_version,
            {"operation": "update_rebuild"},
            params=params, staging=staging,
        )
        version, affected = merge.snapshot_version, merge.affected_buckets
        built, skipped = merge.built_buckets, merge.skipped_buckets
    else:
        affected = staging["layer_buckets"]
        skipped = manifested(index_dir, gen, affected) if params else []
        # dt_{gen} holds exactly this update's postings — encode them as
        # a new (small) layer, zero base IO
        built, version = commit_generation(
            spark, index_dir, gen, affected, skipped,
            f"{index_dir}/data/{dt_root}",
            {**snapshot, "parent": base.version, "operation": "update_delta"},
            new_version,
        )
    if version is not None and auto_compact is not None:
        report = maybe_compact(spark, index_dir, auto_compact)
        if report is not None and report.snapshot_version is not None:
            version = report.snapshot_version
    return UpdateReport(
        snapshot_version=version,
        affected_buckets=affected,
        built_buckets=built,
        skipped_buckets=skipped,
        n_docs=staging["n_docs"],
        avgdl=staging["avgdl"],
    )


def _stage_batch(spark, base, gen, add_corpus, delete_keys, assume_unique,
                 explicit_ids, dt_path, dl_path, removed_path,
                 keep_removed_ids) -> tuple[dict, np.ndarray | None]:
    """Phase A of an update: write the batch's removed doc ids, its
    doc_terms ``partitionBy("bucket")`` and its docs' lens. Returns the
    staging params — the new (n_docs, sum_dl, avgdl) by exact integer
    accounting and the buckets the staged doc_terms touch — and, with
    ``keep_removed_ids``, the sorted removed ids (None when there are
    none), observed on their write."""
    # a driver-held batch (a local relation) scans as up to
    # defaultParallelism partitions: one writer task keeps the staged
    # layer at one file per touched bucket
    add_corpus, delete_keys = (
        f.coalesce(1) if f is not None and f.isLocal() else f
        for f in (add_corpus, delete_keys)
    )
    # --- doc ids being replaced or deleted -----------------------------
    # explicit_ids: the caller's rows already carry a stable ``doc_id``
    # (an index built with an explicit id_col — e.g. the driver
    # corpus's own ids); hash mode derives it from the natural key,
    # matching with_doc_id-built indexes
    removed_parts = []
    # the base's alive docs, built once for both joins below
    alive = (base.doc_lens() if add_corpus is not None
             or delete_keys is not None else None)
    if delete_keys is not None:
        removed_parts.append(
            delete_keys.select("doc_id") if explicit_ids
            else with_doc_id(delete_keys.select(*KEY_COLS)).select("doc_id")
        )
    if add_corpus is not None:
        # assume_unique: trusted pre-deduped batches (streaming ingest
        # dedupes per micro-batch) skip the per-batch uniqueness probe
        # job (round-3 advice)
        add_corpus = dedup_last_wins(add_corpus, assume_unique=assume_unique)
        if not explicit_ids:
            add_corpus = with_doc_id(add_corpus)
        elif "doc_id" not in add_corpus.columns:
            raise ValueError(
                "explicit_ids=True requires a doc_id column on add_corpus"
            )
        # overwrite-by-key: any incoming doc_id that already exists
        removed_parts.append(
            add_corpus.select("doc_id").join(
                alive.select("doc_id"), "doc_id", "left_semi"
            )
        )
    rem_n = rem_sum = 0
    removed_ids = None
    if removed_parts:
        removed = removed_parts[0]
        for p in removed_parts[1:]:
            removed = removed.unionByName(p)
        # (n, Σdoc_len) of the removed docs actually alive (ghost delete
        # keys have no doc_lens row and count 0) ride the removed write
        # as an Observation over a doc_lens left join — count of
        # non-null dl ≡ the alive semi-join — instead of re-reading the
        # just-written parquet in a separate aggregation job
        rem_obs = Observation(f"rem_{gen}")
        metrics = [F.count("doc_len").alias("n"), F.sum("doc_len").alias("s")]
        if keep_removed_ids:
            metrics.append(F.collect_set("doc_id").alias("ids"))
        as_schema(
            removed.distinct().join(alive, "doc_id", "left")
            .observe(rem_obs, *metrics),
            TOMBSTONES_SCHEMA,
        ).write.mode("overwrite").parquet(removed_path)
        row = rem_obs.get
        rem_n, rem_sum = int(row["n"] or 0), int(row["s"] or 0)
        if keep_removed_ids and row["ids"]:
            removed_ids = np.sort(np.asarray(row["ids"], np.int64))

    # --- staged doc_terms + doc_lens of the added docs, in the base's
    # layout (positions stored or not). A batch whose docs all tokenize
    # to empty (binary/whitespace files) touches no bucket: a
    # no-op/delete-only update, not a crash; its empty doc_lens dir is
    # dropped so no 0-row scan ever attaches to the layer. The full
    # doc_lens table is never rewritten here.
    layer_buckets: list[int] = []
    add_n = add_sum = 0
    if add_corpus is not None:
        add_n, add_sum, layer_buckets = stage_corpus(
            add_corpus, dt_path, dl_path, base.n_buckets, base.store_positions,
        )
        if add_n == 0:
            shutil.rmtree(dl_path, ignore_errors=True)

    base_n, base_sum = base.n_docs, base.snapshot.get("sum_dl")
    if base_sum is None:  # pre-sum_dl snapshot: one-time scan
        row = base.doc_lens().agg(
            F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("s"),
        ).collect()[0]
        base_n, base_sum = int(row["n"] or 0), int(row["s"] or 0)
    n_docs = base_n - rem_n + add_n
    sum_dl = base_sum - rem_sum + add_sum
    return {
        "base_version": base.version,
        "n_docs": n_docs,
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n_docs) if n_docs else 0.0,
        "layer_buckets": layer_buckets,
        "has_removed": bool(removed_parts),
        "has_dl_delta": add_n > 0,
    }, removed_ids


@dataclass
class CompactReport:
    snapshot_version: int | None
    affected_buckets: list[int]
    built_buckets: list[int]
    skipped_buckets: list[int]
    n_layers_merged: int


def _merge(
    spark: SparkSession,
    index: SegmentIndex,
    gen: str,
    version: int,
    meta: dict,
    params: dict | None = None,
    n_buckets: int | None = None,
    block_size: int | None = None,
    staging: dict | None = None,
) -> CompactReport:
    """The one copy-on-write merge: fold ``index``'s delta layers into
    generation ``gen`` and commit it as layer-free snapshot ``version``
    (with ``meta``: operation, trigger) whose parent is ``index``.

    Phase A (skipped when ``params``, a resumed generation's
    params.json, is given): the touched buckets — every layer's
    buckets plus the base buckets holding a tombstoned doc, or all of
    them when the layout (``n_buckets``/``block_size``, default
    ``index``'s) changes — are read as ``merged_doc_terms`` and written
    once as ``dt_{gen}``; doc_lens is consolidated to ``dl_{gen}`` when
    a layer changed it; params.json (with ``staging``'s fields) is
    written last. Phase B encodes each touched bucket, resumable per
    bucket via its manifest."""
    index_dir = index.index_dir
    snap = index.snapshot
    mdir = f"{index_dir}/manifests/{gen}"
    dt_path = f"{index_dir}/data/dt_{gen}"
    resumed = params is not None
    if params is None:
        n_buckets = n_buckets or snap["n_buckets"]
        block_size = block_size or snap["block_size"]
        rebucket = (n_buckets != snap["n_buckets"]
                    or block_size != snap["block_size"])
        if rebucket:
            # re-shard: every term may move — all target buckets build
            affected = list(range(n_buckets))
            merged = index.merged_doc_terms(None).drop("bucket").withColumn(
                "bucket", bucket_col(F.col("term"), n_buckets)
            )
        else:
            touched = {int(b) for layer in index.layers
                       for b in layer.get("buckets", {})}
            tomb = index._tombstone_rows()
            if tomb is not None:
                # buckets whose BASE postings lost docs: probe the base
                # generation's doc_terms (layer buckets are in already)
                # with the tombstone frame the merge itself drops by
                base_dt = index._scan_map("doc_terms", snap["buckets"],
                                          strict=True)
                if base_dt is not None:
                    touched.update(
                        r["bucket"]
                        for r in base_dt.join(
                            F.broadcast(tomb.select("doc_id")),
                            "doc_id", "left_semi",
                        ).select("bucket").distinct().collect()
                    )
            affected = sorted(touched)
            merged = index.merged_doc_terms(affected)
        # the merge: every generation's doc_terms minus tombstoned
        # rows, written once as the new generation's doc_terms
        (
            merged
            .repartition(max(1, len(affected)), "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(dt_path)
        )
        dl_consolidated = any(
            layer.get("doc_lens_delta") or layer.get("tombstones")
            for layer in index.layers
        )
        if dl_consolidated:
            index.doc_lens().write.mode("overwrite").parquet(
                f"{index_dir}/data/dl_{gen}"
            )
        params = {
            **(staging or {}),
            "base_version": index.version,
            "affected_buckets": affected,
            "dl_consolidated": dl_consolidated,
            "n_buckets": n_buckets,
            "block_size": block_size,
            "rebucket": rebucket,
        }
        _atomic_write_json(f"{mdir}/params.json", params)
    # a resumed merge uses the layout it was STARTED with; a re-shard
    # changed every bucket's assignment (all of them are affected), so
    # nothing inherits by path
    affected, rebucket = params["affected_buckets"], params["rebucket"]
    buckets_map = {} if rebucket else dict(snap["buckets"])
    buckets_map.update({str(b): bucket_paths(gen, b) for b in affected})
    skipped = manifested(index_dir, gen, affected) if resumed else []
    built, committed = commit_generation(
        spark, index_dir, gen, affected, skipped, dt_path,
        {
            **{k: snap.get(k, False) for k in _LAYOUT_KEYS},
            "n_buckets": params["n_buckets"],
            "block_size": params["block_size"],
            "n_docs": snap["n_docs"],
            "sum_dl": snap.get("sum_dl"),
            "avgdl": snap["avgdl"],
            "doc_lens": (
                f"data/dl_{gen}" if params["dl_consolidated"]
                else snap["doc_lens"]
            ),
            "buckets": buckets_map,
            "layers": [],
            "parent": params["base_version"],
            "rebucketed": rebucket,
            **meta,
        },
        version,
    )
    return CompactReport(
        snapshot_version=committed,
        affected_buckets=list(affected),
        built_buckets=built,
        skipped_buckets=skipped,
        n_layers_merged=len(index.layers),
    )


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
    This is ``_merge`` applied to the current snapshot; a rebuild-mode
    ``apply_updates`` is the same merge applied to its staged batch.

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

    A compaction that another writer's commit overtook removes its
    reservation and staging (``snapshot.abandon``) and raises
    ``CommitConflict``; re-run it on the new snapshot.
    """
    base = SegmentIndex.open(spark, index_dir)
    snap = base.snapshot
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
    if not base.layers and target_buckets == snap["n_buckets"] \
            and target_block == snap["block_size"]:
        return CompactReport(
            snapshot_version=None, affected_buckets=[], built_buckets=[],
            skipped_buckets=[], n_layers_merged=0,
        )
    new_version = reserve_generation(index_dir, "c", resume)
    gen = f"c{new_version}"
    params = _resumed_params(f"{index_dir}/manifests/{gen}", resume)
    if params is not None:
        base = SegmentIndex.open(spark, index_dir, params["base_version"])
    try:
        return _merge(
            spark, base, gen, new_version,
            {"operation": "compact", "trigger": trigger},
            params=params, n_buckets=target_buckets, block_size=target_block,
        )
    except CommitConflict:
        # its parent is no longer CURRENT, so ``gen`` can never commit
        abandon(index_dir, gen)
        raise


@dataclass
class CompactionPolicy:
    """When to fold delta layers back into one generation.

    ``wand_topk`` serves layered snapshots exactly (round 5), so
    compaction no longer gates servability — but each layer adds a
    generation to every postings scan and tombstone work to every
    query, and every WAND request ships the snapshot's whole tombstone
    set into its kernel: compaction is what bounds that set. The policy
    keeps a continuously upserting pipeline at peak serving speed.

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
    snap = read_snapshot(index_dir)
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

#!/usr/bin/env python
"""Scale-stress harness — the per-round large-corpus evidence runs
behind BENCH/BASELINE.md's "Scale-stress" sections, as a committed
script instead of ad-hoc sessions.

Each subcommand is ONE leg meant to run in its own fresh process
(`python scripts/scale_stress.py <cmd> ...`): the 500k-doc sessions
showed JVM heap residue from a build doubles query latency measured in
the same process, so legs never share a JVM. Every leg prints exactly
one JSON line for the bench log.

    gen     --docs N --out DIR            deterministic corpus -> parquet
    build   --corpus DIR --index DIR      parquet-backed segment build
    queries --corpus DIR --out FILE [--n 256]  sampled query batch
    query   --index DIR --queries FILE [--wand]  batch top-k timing
    update  --index DIR --start N [--add 10000] [--mode delta]
    compact --index DIR

Standard knobs (the 500k/1M sessions' settings): local[32],
shuffle=64, n_buckets=32, hot_df=2048, block_size=128, 48g driver
(exported as SPARK_DRIVER_MEMORY before the JVM starts).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

# env-overridable so serving-knob experiments (e.g. the round-4
# n_buckets/block_size sweep) reuse the committed harness verbatim
N_BUCKETS = int(os.environ.get("SCALE_N_BUCKETS", "32"))
HOT_DF = int(os.environ.get("SCALE_HOT_DF", "2048"))
BLOCK_SIZE = int(os.environ.get("SCALE_BLOCK_SIZE", "128"))


def _spark(cores: int = 32, shuffle: int = 64,
           extra_conf: dict | None = None):
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        get_spark,
    )

    return get_spark("scale_stress", cores=cores, shuffle_partitions=shuffle,
                     extra_conf=extra_conf)


def _emit(d: dict) -> None:
    print(json.dumps(d))


def cmd_gen(args) -> None:
    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        distributed_corpus,
    )

    spark = _spark(args.cores, shuffle=args.shuffle)
    t0 = time.monotonic()
    distributed_corpus(spark, args.docs, start=args.start).write.mode(
        "overwrite"
    ).parquet(args.out)
    _emit({"leg": "gen", "docs": args.docs, "start": args.start,
           "sec": round(time.monotonic() - t0, 1), "out": args.out})


def cmd_build(args) -> None:
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        build_segment_index,
    )

    # memory-bound, not CPU-bound, at the top end: N workers × one
    # Arrow batch each is the peak-RSS term, so per-task batch size
    # must SHRINK as the corpus grows (fixed box, growing data — on a
    # cluster, executor count grows instead). The 2M-doc leg OOMed the
    # 128 GB box at the engine defaults (64k-doc batches × 32 workers);
    # 64 MB input splits + 16k-doc Arrow batches bound it.
    conf = {}
    if args.max_partition_bytes:
        conf["spark.sql.files.maxPartitionBytes"] = str(args.max_partition_bytes)
    if args.arrow_batch:
        conf["spark.sql.execution.arrow.maxRecordsPerBatch"] = str(args.arrow_batch)
    spark = _spark(args.cores, shuffle=args.shuffle,
                   extra_conf=conf or None)
    corpus = spark.read.parquet(args.corpus)
    # --buckets lo:hi (half-open) bounds a phase-B pass to a bucket
    # subset: the single-pass 4M shuffle exceeded one box's scratch
    # (ENOSPC at the segment write), and K passes of n_buckets/K each
    # cut the resident map-output + staged-write footprint ~K× while
    # committing the identical snapshot once the last pass lands the
    # final manifest. Pair with --resume so later passes skip phase A
    # and already-built buckets.
    buckets = None
    if args.buckets:
        lo, hi = (int(x) for x in args.buckets.split(":"))
        buckets = list(range(lo, hi))
        if not args.resume:
            # a fresh (non-resume) build rmtree's the generation's
            # seg/ + manifests/ dirs — forgetting --resume on pass 2+
            # of a multi-pass bounded-scratch build would silently
            # wipe pass 1's committed buckets (round-5 advice)
            import glob as _glob

            prior = (_glob.glob(f"{args.index}/manifests/init/bucket_*.json")
                     or _glob.glob(f"{args.index}/manifests/rb*/bucket_*.json"))
            if prior:
                raise SystemExit(
                    f"--buckets {args.buckets} without --resume, but "
                    f"{args.index} already holds {len(prior)} committed "
                    "bucket manifest(s) — a fresh build would destroy "
                    "them. Pass --resume to continue the staged build."
                )
    t0 = time.monotonic()
    rep = build_segment_index(
        spark, corpus, args.index,
        # --auto: exercise the data-aware layout policy (round-5
        # item 2) — n_buckets/block_size resolve from the corpus count
        n_buckets=None if args.auto else N_BUCKETS,
        hot_df=HOT_DF,
        block_size=None if args.auto else BLOCK_SIZE,
        store_positions=False,
        resume=args.resume,
        buckets=buckets,
    )
    wall = time.monotonic() - t0
    if rep.snapshot_version is None:
        # bounded pass over a subset: snapshot not committed yet
        _emit({
            "leg": "build-pass", "index": args.index,
            "sec": round(wall, 1), "built": len(rep.built_buckets),
            "skipped": len(rep.skipped_buckets),
            "buckets": args.buckets, "snapshot": None,
        })
        return
    idx = SegmentIndex.open(spark, args.index)  # commit sanity check
    tot = {"n_postings": 0, "n_terms": 0}
    import glob as _glob

    for mp in _glob.glob(f"{args.index}/manifests/init/bucket_*.json"):
        m = json.load(open(mp))
        for k in tot:
            tot[k] += int(m.get(k, 0))
    # docs_per_sec only for a full from-scratch build: the final
    # committing pass of a resumed multi-pass build would divide the
    # FULL corpus by ONE pass's wall time — an inflated figure
    # (round-5 advice)
    full_build = not args.resume and buckets is None
    _emit({
        "leg": "build", "index": args.index, "n_docs": rep.n_docs,
        "sec": round(wall, 1),
        "docs_per_sec": round(rep.n_docs / wall, 1) if full_build else None,
        "n_buckets": idx.n_buckets,
        "block_size": idx.snapshot["block_size"],
        "postings_per_bucket": round(tot["n_postings"] / idx.n_buckets)
        if tot["n_postings"] else 0,
        "timings": {k: round(v, 1) for k, v in (rep.timings or {}).items()},
        **tot,
    })


def cmd_queries(args) -> None:
    """Deterministic 256-query batch: 4 consecutive mid-document
    tokens from docs 0..n-1 (every query matches its source doc plus
    the zipf-shared-term candidates — the realistic selective shape)."""
    from pyspark.sql import functions as F

    spark = _spark(args.cores, shuffle=args.shuffle)
    docs = (
        spark.read.parquet(args.corpus)
        .withColumn(
            "fno",
            F.regexp_extract(F.col("path"), r"file(\d+)\.", 1).cast("long"),
        )
        .filter(F.col("fno") < args.n)
        .select("path", "content")
    )
    rows = docs.collect()
    out = []
    for r in rows:
        toks = r["content"].split(" ")
        mid = len(toks) // 2
        out.append((f"q_{r['path']}", " ".join(toks[mid:mid + 4])))
    spark.createDataFrame(out, "query_id string, text string")\
        .coalesce(1).write.mode("overwrite").parquet(args.out)
    _emit({"leg": "queries", "n": len(out), "out": args.out})


def cmd_query(args) -> None:
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        segment_topk,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
        wand_topk,
    )

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
        query_terms,
    )

    spark = _spark(args.cores, shuffle=args.shuffle)
    idx = SegmentIndex.open(spark, args.index)
    qs = spark.read.parquet(args.queries)
    nq = qs.count()
    # log the scratch-guard's estimate at every scale point (round-5
    # item 8): this is the number that said 'brute is infeasible'
    # BEFORE the 4M ENOSPC would have
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        estimate_brute_materialization,
    )

    est = estimate_brute_materialization(idx, query_terms(qs, "query_id", "text"))
    t0 = time.monotonic()
    if args.wand:
        res = wand_topk(idx, qs, k=10)
    else:
        res = segment_topk(idx, qs, k=10)
    n = res.count()
    wall = time.monotonic() - t0
    _emit({
        "leg": "query", "mode": "wand" if args.wand else "brute",
        "index": args.index, "n_queries": nq, "rows": n,
        "sec": round(wall, 1), "ms_per_query": round(1000 * wall / nq, 1),
        "layered": idx.has_deltas,
        "brute_est_rows": est["rows"],
        "brute_est_gb": round(est["bytes"] / 1e9, 2),
    })


def cmd_update(args) -> None:
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        apply_updates,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        distributed_corpus,
    )

    spark = _spark(args.cores, shuffle=args.shuffle)
    add = distributed_corpus(spark, args.add, start=args.start)
    t0 = time.monotonic()
    rep = apply_updates(spark, args.index, add_corpus=add, mode=args.mode)
    _emit({
        "leg": "update", "mode": args.mode, "added": args.add,
        "sec": round(time.monotonic() - t0, 1),
        "snapshot": rep.snapshot_version, "n_docs": rep.n_docs,
    })


def cmd_compact(args) -> None:
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
        compact,
    )

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
    )

    spark = _spark(args.cores, shuffle=args.shuffle)
    t0 = time.monotonic()
    rep = compact(
        spark, args.index,
        # --rebucket: re-evaluate the data-aware layout policy at the
        # CURRENT doc count during the merge (round-5 item 2's second
        # half) — how a grown index returns to ~constant per-bucket
        # posting volume without re-reading the corpus
        n_buckets="auto" if args.rebucket else None,
        block_size="auto" if args.rebucket else None,
    )
    idx = SegmentIndex.open(spark, args.index)
    _emit({
        "leg": "compact", "sec": round(time.monotonic() - t0, 1),
        "snapshot": rep.snapshot_version,
        "merged_layers": rep.n_layers_merged,
        "n_buckets": idx.n_buckets,
        "block_size": idx.snapshot["block_size"],
    })


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="scale_stress")
    p.add_argument("--cores", type=int, default=32)
    p.add_argument("--shuffle", type=int, default=64)
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen")
    g.add_argument("--docs", type=int, required=True)
    g.add_argument("--start", type=int, default=0)
    g.add_argument("--out", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--max-partition-bytes", type=int, default=None)
    b.add_argument("--arrow-batch", type=int, default=None)
    b.add_argument("--auto", action="store_true",
                   help="data-aware n_buckets/block_size policy")
    b.add_argument("--resume", action="store_true",
                   help="skip phase A and already-built buckets")
    b.add_argument("--buckets", default=None,
                   help="lo:hi half-open bucket range — one "
                        "bounded-scratch phase-B pass (see cmd_build)")

    qs = sub.add_parser("queries")
    qs.add_argument("--corpus", required=True)
    qs.add_argument("--out", required=True)
    qs.add_argument("--n", type=int, default=256)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True)
    q.add_argument("--wand", action="store_true")

    u = sub.add_parser("update")
    u.add_argument("--index", required=True)
    u.add_argument("--start", type=int, required=True)
    u.add_argument("--add", type=int, default=10000)
    u.add_argument("--mode", choices=["rebuild", "delta"], default="delta")

    c = sub.add_parser("compact")
    c.add_argument("--index", required=True)
    c.add_argument("--rebucket", action="store_true",
                   help="re-evaluate the data-aware layout policy at "
                        "the current doc count during the merge")

    args = p.parse_args(argv)
    {"gen": cmd_gen, "build": cmd_build, "queries": cmd_queries,
     "query": cmd_query, "update": cmd_update,
     "compact": cmd_compact}[args.cmd](args)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

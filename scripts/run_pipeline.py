#!/usr/bin/env python
"""spark-submit entry point for the full pipeline (north rule: the
whole pipeline runs via ``spark-submit --py-files`` on multi-executor
clusters).

Package the engine once::

    cd /root/repo && zip -qr /tmp/engine.zip \
        shazam_an_industrial_strength_audio_search_algorithm__spark

Build an index::

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        build --corpus /data/corpus_parquet --index /data/index \
        --n-buckets 512 [--resume]

Inputs accept three spec forms (see ``read_input``): a parquet path,
``table:<catalog table>`` (the Iceberg path — add ``--packages
org.apache.iceberg:iceberg-spark-runtime-<ver>`` and a catalog conf
to spark-submit and the corpus scans as a real Iceberg table), or
``sql:<query>`` (e.g. Iceberg time travel / snapshot reads)::

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
        --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
        --conf spark.sql.catalog.lake.type=hive \
        --py-files /tmp/engine.zip scripts/run_pipeline.py \
        build --corpus table:lake.db.source_code --index /data/index

Incremental maintenance (copy-on-write, or merge-on-read with
``--mode delta`` followed eventually by ``compact``)::

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        update --index /data/index --add /data/new_docs_parquet \
        [--delete /data/delete_keys_parquet] [--mode delta]

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        compact --index /data/index

Query (batch of queries from a parquet/csv with query_id, text)::

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        query --index /data/index --queries /data/queries.parquet \
        --out /data/results --k 10 [--threshold 2.0] [--wand]

Rollback::

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        restore --index /data/index --version 3

Vector store (same lifecycle over the persisted ANN layouts —
sign-LSH or IVF; updates commit as atomic merge-on-read generations,
and ann-update / ann-compact read the layout's kind from its
snapshot)::

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        ann-build --vectors /data/embeddings --index /data/annidx \
        [--layout lsh|ivf]

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        ann-update --index /data/annidx --add /data/new_vecs \
        [--delete /data/deleted_vec_ids]

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        ann-query --index /data/annidx --queries /data/qvecs \
        --out /data/ann_results --k 10

    spark-submit --py-files /tmp/engine.zip scripts/run_pipeline.py \
        ann-compact --index /data/annidx

On a cluster, drop the ``local[*]`` session default by passing
``--master``/executor confs to spark-submit as usual — this script
only calls ``SparkSession.builder.getOrCreate()`` and inherits them.
"""

from __future__ import annotations

import argparse
import os
import sys

# run from anywhere: the engine package sits one level above scripts/
# (under spark-submit --py-files the zip is already on the path)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName("shazam_spark_pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def read_input(spark, spec: str):
    """Resolve a ``--corpus``/``--add``/``--delete``/``--queries``
    input spec to a DataFrame. The engine is format-agnostic below
    this point (every operator takes DataFrames), so the TABLE FORMAT
    lives entirely in this one seam:

    - ``table:<identifier>`` — read a catalog table via
      ``spark.read.table``. This is the Iceberg path on a real
      cluster (north rule: the corpus is an Iceberg table of
      source-code repositories): launch with ``--packages
      org.apache.iceberg:iceberg-spark-runtime-<ver>`` and a catalog
      configured, and ``table:cat.db.corpus`` scans the Iceberg table
      with its native partition pruning, hidden-partitioning and
      snapshot isolation — no engine change needed. In this sandbox
      (no Iceberg jars, no network) the same seam is exercised with
      session-catalog tables.
    - ``sql:<query>`` — any SQL text, e.g. Iceberg time travel
      (``sql:SELECT * FROM cat.db.corpus VERSION AS OF 42``) or a
      pushed-down filter (``WHERE lang = 'py'`` — Catalyst pushes it
      into the scan either way).
    - anything else — a parquet path (the sandbox default).
    """
    if spec.startswith("table:"):
        return spark.read.table(spec[len("table:"):])
    if spec.startswith("sql:"):
        return spark.sql(spec[len("sql:"):])
    return spark.read.parquet(spec)


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="run_pipeline")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--n-buckets", type=int, default=64)
    b.add_argument("--hot-df", type=int, default=2048)
    b.add_argument("--block-size", type=int, default=128)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--verify-inputs", action="store_true",
                   help="with --resume: recompute each skipped "
                        "bucket's input_digest from the checkpointed "
                        "doc_terms and rebuild on mismatch")
    b.add_argument("--store-positions", action="store_true")

    u = sub.add_parser("update")
    u.add_argument("--index", required=True)
    u.add_argument("--add")
    u.add_argument("--delete")
    u.add_argument("--resume", action="store_true")
    u.add_argument("--mode", choices=["rebuild", "delta"], default="rebuild",
                   help="rebuild = copy-on-write (re-encode affected "
                        "buckets); delta = merge-on-read "
                        "(O(delta) layer + tombstones; compact later)")

    c = sub.add_parser("compact",
                       help="multi-way sorted merge of delta layers back "
                            "to one generation (never re-tokenizes)")
    c.add_argument("--index", required=True)
    c.add_argument("--resume", action="store_true")

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--queries", required=True)
    q.add_argument("--out", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--threshold", type=float, default=None)
    q.add_argument("--wand", action="store_true")

    r = sub.add_parser("restore")
    r.add_argument("--index", required=True)
    r.add_argument("--version", type=int, required=True)

    # vector store: the same build/update/compact/query lifecycle over
    # the persisted ANN layouts (sign-LSH bucket-partitioned or IVF
    # cell-partitioned). --vectors/--add/--delete/--queries accept the
    # same table:/sql:/parquet input specs as the index commands.
    ab = sub.add_parser("ann-build",
                        help="persist an ANN layout from an embedding "
                             "table (vec_id, embedding)")
    ab.add_argument("--vectors", required=True)
    ab.add_argument("--index", required=True)
    ab.add_argument("--layout", choices=["lsh", "ivf"], default="lsh")
    ab.add_argument("--n-planes", type=int, default=16)
    ab.add_argument("--n-cells", type=int, default=64)
    ab.add_argument("--seed", type=int, default=13)

    au = sub.add_parser("ann-update",
                        help="O(delta) upsert/delete: one atomically "
                             "committed generation (merge-on-read)")
    au.add_argument("--index", required=True)
    au.add_argument("--add")
    au.add_argument("--delete",
                    help="input spec of a one-column (vec_id) table")

    ac = sub.add_parser("ann-compact",
                        help="fold the generations back into one "
                             "(probes keep running)")
    ac.add_argument("--index", required=True)

    aq = sub.add_parser("ann-query")
    aq.add_argument("--index", required=True)
    aq.add_argument("--layout", choices=["lsh", "ivf"], default="lsh")
    aq.add_argument("--queries", required=True,
                    help="input spec of a (query_id, qvec) table")
    aq.add_argument("--out", required=True)
    aq.add_argument("--k", type=int, default=10)
    aq.add_argument("--probe-flips", type=int, default=1)
    aq.add_argument("--n-probe", type=int, default=4)

    # resumable query matching: query parquet files appearing under
    # --queries flow through WAND under a Structured Streaming
    # checkpoint; a restart matches only unprocessed files (the
    # reference's milestone-resume loop, Matching.py:46-57)
    sm = sub.add_parser("stream-match")
    sm.add_argument("--index", required=True)
    sm.add_argument("--queries", required=True)
    sm.add_argument("--out", required=True)
    sm.add_argument("--checkpoint", required=True)
    sm.add_argument("--k", type=int, default=10)
    sm.add_argument("--continuous", action="store_true",
                    help="keep running; default drains available files "
                         "and stops (availableNow)")

    args = p.parse_args(argv)

    if args.cmd == "restore":
        from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
            restore,
        )

        restore(args.index, args.version)
        print(f"CURRENT -> v{args.version}")
        return 0

    spark = _spark()

    if args.cmd == "stream-match":
        from shazam_an_industrial_strength_audio_search_algorithm__spark.streaming.match import (
            stream_match,
        )

        sq = stream_match(
            spark, args.queries, args.index, args.out, args.checkpoint,
            k=args.k, trigger_available_now=not args.continuous,
        )
        sq.awaitTermination()
        print(f"stream-match drained -> {args.out} (checkpoint "
              f"{args.checkpoint})")
        return 0

    if args.cmd.startswith("ann-"):
        from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
            similarity as sim,
        )

        if args.cmd == "ann-build":
            vecs = read_input(spark, args.vectors)
            if args.layout == "lsh":
                sim.lsh_persist(vecs, args.index,
                                n_planes=args.n_planes, seed=args.seed)
            else:
                sim.ivf_persist(vecs, args.index, n_cells=args.n_cells)
            print(f"ann-build layout={args.layout} -> {args.index}")
            return 0
        if args.cmd == "ann-update":
            version = sim.vector_upsert(
                spark, args.index,
                add=read_input(spark, args.add) if args.add else None,
                delete_ids=(read_input(spark, args.delete)
                            if args.delete else None),
            )
            print(f"ann-update committed v{version}")
            return 0
        if args.cmd == "ann-compact":
            version = sim.vector_compact(spark, args.index)
            print(f"ann-compact committed v{version}" if version
                  else "ann-compact: nothing to fold")
            return 0
        # ann-query
        qs = read_input(spark, args.queries)
        if args.layout == "lsh":
            top = sim.lsh_topk_persisted(
                spark, args.index, qs, k=args.k,
                probe_flips=args.probe_flips,
            )
        else:
            top = sim.ivf_topk_persisted(
                spark, args.index, qs, k=args.k, n_probe=args.n_probe,
            )
        top.write.mode("overwrite").parquet(f"{args.out}/topk")
        print(f"wrote {args.out}/topk (layout={args.layout})")
        return 0

    if args.cmd == "build":
        from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
            build_segment_index,
        )

        corpus = read_input(spark, args.corpus)
        rep = build_segment_index(
            spark, corpus, args.index,
            n_buckets=args.n_buckets, hot_df=args.hot_df,
            block_size=args.block_size, resume=args.resume,
            store_positions=args.store_positions,
            verify_inputs=args.verify_inputs,
        )
        print(
            f"built={rep.built_buckets} skipped={rep.skipped_buckets} "
            f"snapshot={rep.snapshot_version} n_docs={rep.n_docs}"
        )
        return 0

    if args.cmd == "update":
        from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
            apply_updates,
        )

        rep = apply_updates(
            spark, args.index,
            add_corpus=read_input(spark, args.add) if args.add else None,
            delete_keys=read_input(spark, args.delete) if args.delete else None,
            resume=args.resume,
            mode=args.mode,
        )
        print(
            f"snapshot={rep.snapshot_version} affected={rep.affected_buckets} "
            f"n_docs={rep.n_docs} mode={args.mode}"
        )
        return 0

    if args.cmd == "compact":
        from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
            compact,
        )

        rep = compact(spark, args.index, resume=args.resume)
        print(
            f"snapshot={rep.snapshot_version} merged_layers="
            f"{rep.n_layers_merged} buckets={rep.affected_buckets}"
        )
        return 0

    # query
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        segment_topk,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.topk import (
        decide,
    )

    idx = SegmentIndex.open(spark, args.index)
    queries = read_input(spark, args.queries)
    if args.wand:
        from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.wand import (
            wand_topk,
        )

        top = wand_topk(idx, queries, k=args.k)
    else:
        top = segment_topk(idx, queries, k=args.k)
    top.write.mode("overwrite").parquet(f"{args.out}/topk")
    if args.threshold is not None and not args.wand:
        decide(top, queries, args.threshold).write.mode("overwrite").parquet(
            f"{args.out}/decisions"
        )
    print(f"wrote {args.out}/topk (snapshot v{idx.version})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

#!/usr/bin/env python
"""Driver vs grouped WAND placement crossover — the measurement behind
``wand.DRIVER_MAX_QUERIES`` and ``wand.DRIVER_MAX_QUERY_DOCS``.

For each index size it builds a perfbench-shaped index (the benchmark's
corpus generator, ``max_len`` 600, default layout), then for each batch
size times interleaved pairs of the same driver-held query batch (the
benchmark's 8-token query mix: verbatim, noisy and out-of-vocabulary
windows) answered by both placements of ``wand_topk``:

- ``driver``: the local frame, with the placement limit lifted to the
  batch size, so the driver answers it;
- ``grouped``: the same frame ``coalesce(1)``-ed, which is not local,
  so the grouped broadcast path answers it.

Each request is timed end to end (frame built, ``wand_topk``,
``collect()``); the pair order alternates, and one unmeasured pair
warms each shape. Both placements must return the same rows, or the
script fails. It prints one markdown row per index size: the median
speed-up of the driver over the grouped placement at each batch size,
with the pairs the driver won.

    python scripts/wand_crossover.py --docs 600,5000,20000 \\
        --batches 4,8,16,32,64 --pairs 8 [--cores 4] [--json out.json]

Every leg runs in this one Spark session (cores from ``--cores``, or
$SPARK_GRAFT_CPUS, or all; a 2g driver unless SPARK_DRIVER_MEMORY is
set); the indexes live in a temp dir removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")

MAX_LEN = 600  # perfbench's corpus doc length cap
K = 10
Q_SCHEMA = "query_id string, text string"


def _ints(s: str) -> list[int]:
    return [int(x) for x in s.split(",") if x]


def build_index(spark, n_docs: int, seed: int, root: str):
    """A perfbench-shaped index over ``n_docs`` generated docs, and the
    docs (pandas, with doc ids) to draw queries from."""
    from perfbench import inputs
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
        with_doc_id,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        build_segment_index,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        distributed_corpus,
    )

    corpus_path, index_dir = f"{root}/corpus{n_docs}", f"{root}/index{n_docs}"
    distributed_corpus(spark, n_docs, seed=seed, max_len=MAX_LEN)\
        .write.mode("overwrite").parquet(corpus_path)
    docs = inputs.load_corpus(corpus_path)
    ids = dict(with_doc_id(spark.read.parquet(corpus_path))
               .select("path", "doc_id").collect())
    docs["doc_id"] = docs["path"].map(ids)
    build_segment_index(spark, spark.read.parquet(corpus_path), index_dir)
    return SegmentIndex.open(spark, index_dir), docs


def timed(fn) -> tuple[float, list]:
    t0 = time.perf_counter()
    rows = fn()
    return time.perf_counter() - t0, rows


def measure(spark, index, rows: list[tuple], pairs: int) -> dict:
    """``pairs`` interleaved (driver, grouped) timings of one batch;
    raises when the placements disagree."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
        wand,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        local_rows_df,
    )

    def driver():
        limit = wand.DRIVER_MAX_QUERIES
        wand.DRIVER_MAX_QUERIES = max(limit, len(rows))
        try:
            frame = local_rows_df(spark, rows, Q_SCHEMA)
            return wand.wand_topk(index, frame, k=K).collect()
        finally:
            wand.DRIVER_MAX_QUERIES = limit

    def grouped():
        frame = local_rows_df(spark, rows, Q_SCHEMA).coalesce(1)
        assert not frame.isLocal()
        return wand.wand_topk(index, frame, k=K).collect()

    legs = {"driver": driver, "grouped": grouped}
    got = {name: sorted(map(tuple, fn())) for name, fn in legs.items()}
    if got["driver"] != got["grouped"]:
        raise AssertionError(
            f"placements disagree on a {len(rows)}-query batch over "
            f"{index.n_docs} docs")
    times: dict[str, list[float]] = {"driver": [], "grouped": []}
    for p in range(pairs):
        order = ("driver", "grouped") if p % 2 == 0 else ("grouped", "driver")
        for name in order:
            t, out = timed(legs[name])
            if sorted(map(tuple, out)) != got[name]:
                raise AssertionError(f"{name} answer changed between runs")
            times[name].append(t)
    speedups = [g / d for d, g in zip(times["driver"], times["grouped"])]
    return {
        "driver_s": statistics.median(times["driver"]),
        "grouped_s": statistics.median(times["grouped"]),
        "speedup": statistics.median(speedups),
        "won": sum(s > 1.0 for s in speedups),
        "pairs": pairs,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--docs", default="600,5000,20000",
                    help="index sizes, comma-separated")
    ap.add_argument("--batches", default="4,8,16,32,64",
                    help="query batch sizes, comma-separated")
    ap.add_argument("--pairs", type=int, default=8)
    ap.add_argument("--seed", type=int, default=1101)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--json", default=None, help="also write the results here")
    args = ap.parse_args()

    import numpy as np

    from perfbench import inputs
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        get_spark,
    )

    cores = args.cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) \
        or os.cpu_count()
    spark = get_spark("wand_crossover", cores=cores, shuffle_partitions=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    root = tempfile.mkdtemp(prefix="wand_crossover_")
    batches = _ints(args.batches)
    results = []
    try:
        for n_docs in _ints(args.docs):
            index, docs = build_index(spark, n_docs, args.seed, root)
            rng = np.random.RandomState(args.seed + n_docs)
            row = {"docs": index.n_docs, "batches": {}}
            for n_q in batches:
                q = inputs.short_queries(rng, docs, n_q, f"q{n_q}_")
                rows = list(zip(q["query_id"], q["text"]))
                measure(spark, index, rows, 1)  # warm the shape
                row["batches"][n_q] = measure(spark, index, rows, args.pairs)
                print(json.dumps({"docs": index.n_docs, "queries": n_q,
                                  **row["batches"][n_q]}), flush=True)
            results.append(row)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    print()
    print("| index size | " + " | ".join(f"{b} queries" for b in batches) + " |")
    print("|---" * (len(batches) + 1) + "|")
    for row in results:
        cells = [f"{r['speedup']:.2f}× ({r['won']}/{r['pairs']})"
                 for r in row["batches"].values()]
        print(f"| {row['docs']} docs | " + " | ".join(cells) + " |")
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"cores": cores, "pairs": args.pairs, "seed": args.seed,
                       "results": results}, f, indent=1)


if __name__ == "__main__":
    main()

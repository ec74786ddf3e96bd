"""Regenerate PLANS.md: formatted physical plans of the headline
queries with the properties each plan must exhibit (the same
properties tests/test_plans.py asserts). Run from the repo root:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def main() -> None:
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api
    from shazam_an_industrial_strength_audio_search_algorithm__spark.plans.audit import (
        audit,
        plan_string,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        get_spark,
    )

    spark = get_spark("plans", cores=8, shuffle_partitions=8)

    entries = [
        (
            "bm25_topk — flagship BM25 top-k (segment index, "
            "brute spine)",
            api.q_bm25_topk(spark, SF),
            "Query side broadcasts (BroadcastHashJoin); one query_id "
            "exchange for scores and the rank window. No corpus "
            "sort, no driver collect.",
        ),
        (
            "bm25_segment — same query behind segment_topk's scratch "
            "guard",
            api.q_bm25_segment(spark, SF),
            "Bucket partitions prune DYNAMICALLY from the broadcast "
            "query-term side (dynamicpruning subquery in the scan's "
            "PartitionFilters); postings are a plain doc_terms "
            "column scan, no Python.",
        ),
        (
            "wand_topk — pruned executor (block-max WAND, "
            "query-group batching, micro scoring)",
            api.q_wand_topk(spark, SF),
            "doc_terms posting rows join the per-(group,term) query "
            "map as a BROADCAST and shuffle once per GROUP (repartition by "
            "grp), never once per query; the interval-at-a-time "
            "kernel runs in applyInPandas.",
        ),
        (
            "wand_layered — pruned executor over a layered "
            "merge-on-read snapshot (overwrites + adds + deletes "
            "as delta generations)",
            api.q_wand_layered(spark, SF),
            "Same WAND shape as wand_topk: posting rows from EVERY "
            "generation join the broadcast query map and shuffle "
            "once per GROUP; the kernel drops tombstone-superseded "
            "rows vectorized and blocks each term's survivors — no "
            "compaction barrier between upsert and serve.",
        ),
        (
            "bool_query — boolean retrieval (must / must-not / "
            "prefix) over the segment index",
            api.q_bool_query(spark, SF),
            "Each clause rides a pruned access path: must/must-not "
            "postings decode behind the broadcast (bucket, term) "
            "join; the prefix clause is a term-dictionary range "
            "scan with StartsWith in the parquet PushedFilters; "
            "clause results equi-join on (query_id, doc_id) — no "
            "corpus-wide work anywhere.",
        ),
        (
            "ngram_jaccard — exact near-dup pairs via AllPairs "
            "prefix+length filtering",
            api.q_ngram_jaccard(spark, SF),
            "The self-join key is xxhash64(shingle) over PREFIX rows "
            "only (rarest-first canonical order), so hot shingles "
            "never enter the candidate join; candidates verify "
            "against full shingle sets.",
        ),
        (
            "ann_ivf_disk — persisted IVF ANN (cell-partitioned "
            "layout)",
            api.q_ann_ivf_disk(spark, SF),
            "The vector scan joins its PARTITION column against the "
            "broadcast probe cells — dynamic partition pruning reads "
            "only n_probe/n_cells of the files.",
        ),
        (
            "ann_lsh_disk — persisted sign-LSH ANN "
            "(bucket-partitioned layout)",
            api.q_ann_lsh_disk(spark, SF),
            "The vector scan joins its PARTITION column (bucket) "
            "against the broadcast multi-probe set — dynamic "
            "partition pruning reads only the probed buckets' files, "
            "never re-bucketing the corpus per batch.",
        ),
        (
            "ann_lsh_delta — persisted LSH ANN with pending upsert "
            "generations (merge-on-read)",
            api.q_ann_lsh_delta(spark, SF),
            "The probe join's dynamic partition pruning pushes "
            "through the base∪delta union AND the tombstone "
            "left-join: BOTH the base scan and the delta-generation "
            "scan carry dynamicpruningexpression on their partition "
            "column — merge-on-read costs the tombstone broadcast, "
            "never the pruning.",
        ),
        (
            "emb_neardup — exact embedding near-dup via blocked "
            "matmul grid",
            api.q_emb_neardup(spark, SF),
            "No NestedLoop/Cartesian pair join: candidates come out "
            "of the block-grid groupBy (numpy matmul per cell inside "
            "applyInPandas), then re-score through the same JVM fold "
            "expression as the brute plan via equi-joins only.",
        ),
        (
            "local_peaks — strict ±w local maxima over per-user "
            "event sequences",
            api.q_local_peaks(spark, SF),
            "Two frame-bounded window maxima share ONE sort: exactly "
            "one Exchange, no self-join.",
        ),
        (
            "scan_agg — TPC-H Q1-shaped scan→filter→agg",
            api.q_scan_agg(spark, SF),
            "Filter pushed to the parquet scan (PushedFilters), "
            "columns pruned (ReadSchema), partial aggregation "
            "map-side before the single exchange.",
        ),
        (
            "positional_segment — offset-histogram verification from "
            "the persisted positions section",
            api.q_positional_segment(spark, SF),
            "Positions explode INSIDE the decode kernel (flat pos "
            "long column via np.repeat — no array cells through "
            "Arrow); one groupBy(query,doc,delta) with map-side "
            "partial agg, one argmax window.",
        ),
        (
            "search_verified — the reference's two-phase lifecycle "
            "(coarse BM25 → candidate-gated positional verify)",
            api.q_search_verified(spark, SF),
            "Verification postings SEMI-JOIN the broadcast top-k doc "
            "set before the position explode: verify cost follows k, "
            "not candidate count ('cheap filter first, expensive "
            "verify second').",
        ),
        (
            "search_verified_segment — the same lifecycle on the "
            "persisted index (WAND coarse top-k → varint positional "
            "verify)",
            api.q_search_verified_segment(spark, SF),
            "WAND's block-max pruned top-k feeds the SAME semi-join "
            "gate; positions decode from the varint payload only for "
            "query terms, then semi-join the broadcast top-k docs "
            "before the verify join.",
        ),
    ]

    lines = [
        "# PLANS.md — physical plans of the headline queries",
        "",
        "Auto-generated by `python scripts/dump_plans.py` at sf0.01. "
        "Each section states the plan properties the 100 TB design "
        "depends on (the same ones `tests/test_plans.py` asserts), "
        "then the `explain('formatted')` output.",
        "",
    ]
    for title, df, why in entries:
        a = audit(df, execute=True)
        lines += [
            f"## {title}",
            "",
            f"**Why this plan:** {why}",
            "",
            f"**Audit:** shuffles={a['shuffles']}, "
            f"broadcast_join={a['broadcast_join']}, "
            f"codegen_stages={a['codegen_stages']}, "
            f"pushed_filters={a['pushed_filters'][:4]}",
            "",
            "```",
            plan_string(df).strip(),
            "```",
            "",
        ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(entries)} plans)")


if __name__ == "__main__":
    main()

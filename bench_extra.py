"""Extra benchmarks for the optimization round (bench.py is FROZEN for
measurement — this file holds the finer-grained instrumentation:
battery_setup sub-phase timing, per-query noop-sink isolation, and
.explain("formatted") capture for plans/r06/).

Usage:
    python bench_extra.py setup            # battery_setup sub-phases
    python bench_extra.py queries [names]  # per-query collect() timing
    python bench_extra.py plans  [names]   # dump plans to plans/r06/
    python bench_extra.py engine           # engine-suite phase timing
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _mk_spark():
    from shazam_an_industrial_strength_audio_search_algorithm__spark.session import (
        get_spark,
    )

    return get_spark(
        "bench_extra", cores=CORES, shuffle_partitions=max(8, CORES),
        extra_conf={"spark.driver.memory":
                    os.environ.get("SPARK_DRIVER_MEMORY", "48g")},
    )


def timed(label, fn, out):
    t0 = time.monotonic()
    r = fn()
    out[label] = round(time.monotonic() - t0, 3)
    print(f"  {label}: {out[label]}s", flush=True)
    return r


def main_setup(spark):
    """battery_setup decomposed (mirrors bench.run_battery's setup)."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    out = {}
    spark.sparkContext.setJobDescription("setup: docs_segment_index")
    timed("docs_segment_index", lambda: api.docs_segment_index(spark, SF_DIR), out)
    spark.sparkContext.setJobDescription("setup: ivf_persist")
    timed("ivf_persist", lambda: api.ivf_disk_dir(spark, SF_DIR), out)
    spark.sparkContext.setJobDescription("setup: ivf_disk_query")
    timed("ivf_disk_query", lambda: api.q_ann_ivf_disk(spark, SF_DIR).collect(), out)
    spark.sparkContext.setJobDescription("setup: lsh_persist")
    timed("lsh_persist", lambda: api.lsh_disk_dir(spark, SF_DIR), out)
    spark.sparkContext.setJobDescription("setup: lsh_disk_query")
    timed("lsh_disk_query", lambda: api.q_ann_lsh_disk(spark, SF_DIR).collect(), out)
    spark.sparkContext.setJobDescription("setup: ivf_delta")
    timed("ivf_delta", lambda: api.q_ann_ivf_delta(spark, SF_DIR).collect(), out)
    spark.sparkContext.setJobDescription("setup: lsh_delta")
    timed("lsh_delta", lambda: api.q_ann_lsh_delta(spark, SF_DIR).collect(), out)
    out["TOTAL"] = round(sum(v for k, v in out.items() if k != "TOTAL"), 3)
    print(json.dumps(out))


def main_queries(spark, names):
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    # setup first so queries are timed clean (mirrors run_battery)
    api.docs_segment_index(spark, SF_DIR)
    api.q_ann_ivf_disk(spark, SF_DIR)
    api.q_ann_lsh_disk(spark, SF_DIR)
    api.q_ann_ivf_delta(spark, SF_DIR)
    api.q_ann_lsh_delta(spark, SF_DIR)
    out = {}
    comp = {}
    for name, fn in api.QUERIES.items():
        for cname, cfn in api.BENCH_COMPONENTS.get(name, [(name, fn)]):
            comp[cname] = cfn
    todo = names or list(comp)
    for cname in todo:
        cfn = comp[cname]
        spark.sparkContext.setJobDescription(f"q: {cname}")
        timed(cname, lambda cfn=cfn: cfn(spark, SF_DIR).collect(), out)
    print(json.dumps(out))


def main_plans(spark, names):
    from shazam_an_industrial_strength_audio_search_algorithm__spark import api

    api.docs_segment_index(spark, SF_DIR)
    api.q_ann_ivf_disk(spark, SF_DIR)
    api.q_ann_lsh_disk(spark, SF_DIR)
    api.q_ann_ivf_delta(spark, SF_DIR)
    api.q_ann_lsh_delta(spark, SF_DIR)
    comp = {}
    for name, fn in api.QUERIES.items():
        for cname, cfn in api.BENCH_COMPONENTS.get(name, [(name, fn)]):
            comp[cname] = cfn
    tag = os.environ.get("PLAN_TAG", "before")
    os.makedirs("plans/r06", exist_ok=True)
    for cname in (names or list(comp)):
        try:
            df = comp[cname](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            with open(f"plans/r06/{cname}_{tag}.txt", "w") as f:
                f.write(plan)
            print(f"  wrote plans/r06/{cname}_{tag}.txt", flush=True)
        except Exception as e:  # noqa: BLE001
            print(f"  {cname}: FAILED {e}", flush=True)


def main_engine(spark):
    import bench

    out = bench.run_engine_suite(spark, bench.BENCH_DOCS)
    print(json.dumps({k: round(v, 3) for k, v in out.items()}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "setup"
    names = sys.argv[2:]
    spark = _mk_spark()
    if mode == "setup":
        main_setup(spark)
    elif mode == "queries":
        main_queries(spark, names)
    elif mode == "plans":
        main_plans(spark, names)
    elif mode == "engine":
        main_engine(spark)
    else:
        raise SystemExit(f"unknown mode {mode}")

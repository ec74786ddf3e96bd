"""Pins the event-log parser and the span attribution on a tiny job
with known jobs, stages and tasks.

    python3 perfbench/eventlog_check.py
    python3 -m pytest perfbench/eventlog_check.py -q

It starts, and then stops, its own Spark driver, so it must run in a
process that has no Spark session: the file name keeps it out of a
plain ``pytest`` run's collection.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
from operator import add

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import BENCH_DIR, ROOT, stop_spark  # noqa: E402
from perfbench.trace import Tracer, parse_event_log  # noqa: E402


def test_parser_counts_a_tiny_job():
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    assert SparkContext._active_spark_context is None, "needs a process without Spark"

    scratch = os.path.join(BENCH_DIR, ".scratch", f"test-eventlog-{os.getpid()}")
    os.makedirs(f"{scratch}/eventlog")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    spark = (
        SparkSession.builder.master("local[2]").appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", f"{scratch}/spark-local")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{scratch}/eventlog")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        tr = Tracer(sc)
        pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(add, 2)
        with tr.span("first", "a") as first:
            assert sorted(pairs.collect()) == [(0, 34), (1, 33), (2, 33)]
        with tr.span("again", "b") as again:
            pairs.collect()  # the map stage's shuffle output is reused
    finally:
        stop_spark(spark)
    try:
        jobs = parse_event_log(glob.glob(f"{scratch}/eventlog/*")[0])
        assert [(j["jobs"], j["stages"], j["tasks"]) for j in jobs] == [(1, 2, 6), (1, 1, 2)]
        assert jobs[0]["shuffle_bytes"] > 0 and jobs[1]["shuffle_bytes"] == 0
        assert jobs[0]["busy_s"] > 0 and jobs[0]["retries"] == 0
        assert [j["group"] for j in jobs] == [f"span{first['id']}", f"span{again['id']}"]
        counts = tr.op_counts(jobs)
        assert counts["first/a"] == {"jobs": 1, "stages": 2, "tasks": 6,
                                     "shuffle_bytes": jobs[0]["shuffle_bytes"]}
        assert counts["again/b"]["tasks"] == 2
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    test_parser_counts_a_tiny_job()
    print("eventlog_check: ok")

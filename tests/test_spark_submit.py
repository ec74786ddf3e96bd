"""North-rule evidence: the whole pipeline runs via ``spark-submit
--py-files`` (BASELINE.json north_rule; reference runs per-process
drivers via shell, README.md:29-90 — ours ships one zip to a cluster).

The test packages the engine into a zip with :mod:`zipfile`, copies
ONLY ``scripts/run_pipeline.py`` into an empty temp dir, and runs
``spark-submit --py-files engine.zip`` from there with ``PYTHONPATH``
scrubbed — so every engine import in the subprocess can only resolve
from the zip, exactly as on a real cluster. It then checks the
subprocess-built index answers queries rank-identically (docIDs AND
scores) to the single-node oracle.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import zipfile

import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "shazam_an_industrial_strength_audio_search_algorithm__spark"
SPARK_SUBMIT = shutil.which("spark-submit")


def _submit(workdir: str, zip_path: str, *argv: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=3g",
        "--py-files", zip_path,
        os.path.join(workdir, "scripts", "run_pipeline.py"),
        *argv,
    ]
    return subprocess.run(
        cmd, capture_output=True, text=True, timeout=900, env=env, cwd=workdir
    )


@pytest.mark.slow
@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_pipeline_via_spark_submit_py_files(tmp_path, spark, corpus_df,
                                            corpus_pdf, queries_pdf):
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
        with_doc_id,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.oracle import (
        OracleIndex,
        oracle_topk_frame,
    )

    work = str(tmp_path)
    os.makedirs(os.path.join(work, "scripts"))
    shutil.copy(os.path.join(REPO, "scripts", "run_pipeline.py"),
                os.path.join(work, "scripts", "run_pipeline.py"))

    # package the engine exactly as the docstring in run_pipeline.py says
    zip_path = os.path.join(work, "engine.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        pkg_root = os.path.join(REPO, PKG)
        for root, _dirs, files in os.walk(pkg_root):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, REPO))

    corpus_path = os.path.join(work, "corpus")
    queries_path = os.path.join(work, "queries")
    index_path = os.path.join(work, "index")
    out_path = os.path.join(work, "out")
    corpus_pdf.to_parquet(corpus_path, index=False)
    queries_pdf[["query_id", "text"]].to_parquet(queries_path, index=False)

    built = _submit(work, zip_path, "build",
                    "--corpus", corpus_path, "--index", index_path,
                    "--n-buckets", "4")
    assert built.returncode == 0, built.stderr[-3000:]
    assert "built=[0, 1, 2, 3] skipped=[]" in built.stdout, built.stdout

    queried = _submit(work, zip_path, "query",
                      "--index", index_path, "--queries", queries_path,
                      "--out", out_path, "--k", "5")
    assert queried.returncode == 0, queried.stderr[-3000:]
    assert "wrote" in queried.stdout, queried.stdout

    got = pd.read_parquet(os.path.join(out_path, "topk"))

    # rank-identity vs the single-node oracle (north rule: top-k docIDs
    # AND BM25 scores), using the engine's own deterministic doc ids
    id_map = with_doc_id(corpus_df).select(
        "doc_id", "repo", "path", "commit").toPandas()
    oracle_docs = id_map.merge(corpus_pdf, on=["repo", "path", "commit"])
    oracle = OracleIndex.build(oracle_docs, id_col="doc_id",
                               text_col="content")
    want = oracle_topk_frame(oracle, queries_pdf, k=5)

    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    want = want.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert list(got["query_id"]) == list(want["query_id"])
    assert list(got["doc_id"]) == list(want["doc_id"])
    for g, w in zip(got["score"], want["score"]):
        assert abs(g - w) <= 1e-6 * max(1.0, abs(w))


def test_read_input_table_and_sql_specs(spark, corpus_df):
    """The pipeline's input seam resolves all three spec forms; the
    ``table:`` form is what binds an Iceberg catalog table on a real
    cluster (north rule) — format-agnostic below this one function."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_mod", os.path.join(REPO, "scripts", "run_pipeline.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    corpus_df.createOrReplaceTempView("corpus_tbl")
    via_table = rp.read_input(spark, "table:corpus_tbl")
    assert via_table.count() == corpus_df.count()
    assert set(corpus_df.columns) <= set(via_table.columns)

    via_sql = rp.read_input(
        spark, "sql:SELECT * FROM corpus_tbl WHERE lang = 'py'"
    )
    assert via_sql.count() == corpus_df.filter("lang = 'py'").count()


def test_ann_cli_lifecycle_matches_library(spark, tmp_path):
    """The vector-store CLI (ann-build / ann-update / ann-query /
    ann-compact) run in-process must produce exactly the library
    path's answers at every lifecycle step — one surface, two entry
    points."""
    import importlib.util

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.similarity import (
        lsh_topk_persisted,
    )
    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.snapshot import (
        read_snapshot,
    )

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_ann", os.path.join(REPO, "scripts", "run_pipeline.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    emb_pdf = pd.DataFrame({
        "vec_id": range(60),
        "embedding": [
            [float(x) for x in np.random.RandomState(i).normal(size=16)]
            for i in range(60)
        ],
    })
    vdir = str(tmp_path / "vecs")
    spark.createDataFrame(emb_pdf).write.parquet(vdir)
    idx = str(tmp_path / "annidx")
    assert rp.main(["ann-build", "--vectors", vdir, "--index", idx,
                    "--layout", "lsh", "--n-planes", "6"]) == 0

    adds = str(tmp_path / "adds")
    spark.createDataFrame(emb_pdf.iloc[:5].assign(
        embedding=emb_pdf.iloc[:5].embedding.map(lambda v: v[::-1])
    )).write.parquet(adds)
    dels = str(tmp_path / "dels")
    spark.createDataFrame(
        pd.DataFrame({"vec_id": [55, 56]})
    ).write.parquet(dels)
    assert rp.main(["ann-update", "--index", idx, "--add", adds,
                    "--delete", dels]) == 0

    qdir = str(tmp_path / "queries")
    spark.createDataFrame(pd.DataFrame({
        "query_id": ["q0", "q1"],
        "qvec": [emb_pdf.embedding[0][::-1], emb_pdf.embedding[10]],
    })).write.parquet(qdir)
    out1 = str(tmp_path / "out1")
    assert rp.main(["ann-query", "--index", idx, "--queries", qdir,
                    "--out", out1, "--k", "5"]) == 0

    def rows(df):
        return {(r["query_id"], r["rank"], r["vec_id"], r["cosine_micro"])
                for r in df.collect()}

    want = rows(lsh_topk_persisted(
        spark, idx, spark.read.parquet(qdir), k=5))
    got = rows(spark.read.parquet(f"{out1}/topk"))
    assert got == want and len(got) > 0
    ids = {v for (_, _, v, _) in got}
    assert not ({55, 56} & ids)  # deleted ids never surface

    # compact, re-query through the CLI: answers unchanged
    assert rp.main(["ann-compact", "--index", idx]) == 0
    snap = read_snapshot(idx)
    assert snap["operation"] == "compact" and len(snap["generations"]) == 1
    out2 = str(tmp_path / "out2")
    assert rp.main(["ann-query", "--index", idx, "--queries", qdir,
                    "--out", out2, "--k", "5"]) == 0
    assert rows(spark.read.parquet(f"{out2}/topk")) == got


def test_query_wand_serves_layered_snapshot(spark, tmp_path, corpus_pdf,
                                            queries_pdf):
    """``update --mode delta`` then ``query --wand``: the CLI answers the
    layered snapshot with WAND itself (its pruning counters are in the
    output), and its top-k equals the brute-force ``segment_topk``."""
    import importlib.util

    from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.segments import (
        SegmentIndex,
        segment_topk,
    )

    spec = importlib.util.spec_from_file_location(
        "run_pipeline_wand", os.path.join(REPO, "scripts", "run_pipeline.py")
    )
    rp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rp)

    base, adds = str(tmp_path / "base"), str(tmp_path / "adds")
    qpath, idx = str(tmp_path / "queries"), str(tmp_path / "idx")
    out = str(tmp_path / "out")
    corpus_pdf.iloc[:40].to_parquet(base, index=False)
    # new docs, plus two overwritten keys (tombstones on the base layer)
    pd.concat([
        corpus_pdf.iloc[40:],
        corpus_pdf.iloc[:2].assign(content=lambda f: f["content"] + " zz"),
    ]).to_parquet(adds, index=False)
    queries_pdf[["query_id", "text"]].to_parquet(qpath, index=False)

    assert rp.main(["build", "--corpus", base, "--index", idx,
                    "--n-buckets", "4", "--block-size", "4"]) == 0
    assert rp.main(["update", "--index", idx, "--add", adds,
                    "--mode", "delta"]) == 0
    assert SegmentIndex.open(spark, idx).has_deltas
    assert rp.main(["query", "--index", idx, "--queries", qpath,
                    "--out", out, "--k", "5", "--wand"]) == 0

    got = spark.read.parquet(f"{out}/topk").toPandas()
    assert "blocks_decoded" in got.columns
    assert got["blocks_decoded"].notna().all() and len(got) > 0
    want = segment_topk(SegmentIndex.open(spark, idx),
                        spark.read.parquet(qpath), k=5).toPandas()
    cols = ["query_id", "rank", "doc_id", "matched_terms"]
    got = got.sort_values(["query_id", "rank"], ignore_index=True)
    want = want.sort_values(["query_id", "rank"], ignore_index=True)
    pd.testing.assert_frame_equal(got[cols], want[cols], check_dtype=False)
    for g, w in zip(got["score"], want["score"]):
        assert abs(g - w) <= 1e-9 * max(1.0, abs(w))

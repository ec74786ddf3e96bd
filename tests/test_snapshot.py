"""The snapshot protocol every persisted index commits through
(``operators/snapshot.py``): exclusive, parent-checked commits, and
writer races made deterministic — a wrapper around ``commit`` lets
another writer commit first, with no threads. The loser of every race
raises ``CommitConflict``, CURRENT names the winner, and no batch is
lost silently."""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from shazam_an_industrial_strength_audio_search_algorithm__spark.operators import (
    segments,
    similarity,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.index_build import (
    with_doc_id,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.maintenance import (
    apply_updates,
    compact,
)
from shazam_an_industrial_strength_audio_search_algorithm__spark.operators.snapshot import (
    CommitConflict,
    commit,
    current_version,
    read_snapshot,
)


def test_commit_is_exclusive_and_parent_checked(tmp_path):
    d = str(tmp_path / "idx")
    assert commit(d, 1, {"parent": None, "n": 1}) == 1
    assert commit(d, 2, {"parent": 1, "n": 2}) == 2
    # a writer that read v1 before v2 committed
    with pytest.raises(CommitConflict) as e:
        commit(d, 3, {"parent": 1, "n": 3})
    assert (e.value.version, e.value.parent, e.value.current) == (3, 1, 2)
    # the same version from another writer: the file is never replaced
    with pytest.raises(CommitConflict):
        commit(d, 2, {"parent": 1, "n": 99})
    assert json.load(open(f"{d}/snapshots/v2.json"))["n"] == 2
    # an identical re-commit (resume) is a no-op; CURRENT never moves back
    assert commit(d, 1, {"parent": None, "n": 1}) == 1
    assert current_version(d) == 2
    assert sorted(os.listdir(f"{d}/snapshots")) == ["v1.json", "v2.json"]


def _race(monkeypatch, module, winner, name="commit"):
    """Make the next ``name`` (default ``commit``) called through
    ``module`` run ``winner`` (another writer, which commits first)
    before it runs."""
    real = getattr(module, name)

    def racing(*args, **kwargs):
        monkeypatch.setattr(module, name, real)
        winner()
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, racing)


def _docs(pdf, lo, hi):
    return pdf.iloc[lo:hi].reset_index(drop=True)


def _staged_ids(spark, d, gens):
    """The doc ids each generation in ``gens`` staged (its doc_lens)."""
    return {gen: {r["doc_id"] for r in spark.read.parquet(f"{d}/data/dl_{gen}")
                  .select("doc_id").collect()}
            for gen in gens}


@pytest.mark.parametrize("loser", ["compact", "update"])
def test_text_compact_and_delta_update_race(spark, tmp_path, monkeypatch,
                                            loser):
    """A compaction and a delta update staged on the same snapshot: the
    one that commits second raises. Without the conflict check, the
    compaction committed over the update and silently dropped its docs
    (65 of 80 left), and both calls reported success."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        make_corpus,
    )

    pdf = make_corpus(n_docs=80, seed=7, min_len=20, max_len=60)
    d = str(tmp_path / "idx")
    segments.build_segment_index(
        spark, with_doc_id(spark.createDataFrame(_docs(pdf, 0, 50))), d,
        n_buckets=4, hot_df=8, block_size=16,
    )
    apply_updates(spark, d, mode="delta",
                  add_corpus=spark.createDataFrame(_docs(pdf, 50, 65)))
    writers = {
        "update": lambda: apply_updates(
            spark, d, mode="delta",
            add_corpus=spark.createDataFrame(_docs(pdf, 65, 80))),
        "compact": lambda: compact(spark, d),
    }
    winner = "update" if loser == "compact" else "compact"
    _race(monkeypatch, segments, writers[winner])
    with pytest.raises(CommitConflict) as e:
        writers[loser]()
    assert (e.value.version, e.value.parent, e.value.current) == (3, 2, 3)
    snap = read_snapshot(d)
    assert snap["version"] == 3
    assert snap["operation"] == (
        "update_delta" if winner == "update" else "compact")
    assert snap["n_docs"] == (80 if winner == "update" else 65)
    # the loser re-reads and retries: both batches land
    writers[loser]()
    assert read_snapshot(d)["n_docs"] == 80
    idx = segments.SegmentIndex.open(spark, d)
    assert idx.doc_lens().count() == 80


def test_text_delta_update_race(spark, tmp_path, monkeypatch):
    """Two delta updates staged on the same snapshot: each reserves its
    own generation before staging (the winner, finding ``u2`` taken,
    stages ``u3``), so neither writes into the other's staging; the one
    that commits second raises, and its retry lands both batches."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        make_corpus,
    )

    pdf = make_corpus(n_docs=80, seed=7, min_len=20, max_len=60)
    d = str(tmp_path / "idx")
    segments.build_segment_index(
        spark, with_doc_id(spark.createDataFrame(_docs(pdf, 0, 50))), d,
        n_buckets=4, hot_df=8, block_size=16,
    )

    def update(lo, hi):
        return apply_updates(spark, d, mode="delta",
                             add_corpus=spark.createDataFrame(_docs(pdf, lo, hi)))

    _race(monkeypatch, segments, lambda: update(65, 80))
    with pytest.raises(CommitConflict) as e:
        update(50, 65)
    assert (e.value.version, e.value.parent, e.value.current) == (2, 1, 3)
    snap = read_snapshot(d)
    assert (snap["version"], snap["n_docs"]) == (3, 65)
    assert [layer["gen"] for layer in snap["layers"]] == ["u3"]
    assert sorted(os.listdir(f"{d}/manifests")) == ["init", "u2", "u3"]
    # each staging holds only its own writer's docs
    staged = _staged_ids(spark, d, ("u2", "u3"))
    want = {
        gen: {r["doc_id"] for r in with_doc_id(spark.createDataFrame(
            _docs(pdf, lo, hi))).select("doc_id").collect()}
        for gen, lo, hi in (("u2", 50, 65), ("u3", 65, 80))
    }
    assert staged == want
    # the loser re-reads and retries: both batches land
    assert update(50, 65).snapshot_version == 4
    assert read_snapshot(d)["n_docs"] == 80
    idx = segments.SegmentIndex.open(spark, d)
    assert idx.doc_lens().count() == 80


def test_text_compaction_race(spark, tmp_path, monkeypatch):
    """Two compactions staged on the same snapshot, one re-sharding to
    2 buckets and one keeping the layout: each reserves its own
    generation before staging (the winner, finding ``c3`` taken,
    stages ``c4``), so neither writes into the other's staging; the
    one that commits second removes its staging and raises, and its
    retry commits."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        make_corpus,
    )

    pdf = make_corpus(n_docs=80, seed=7, min_len=20, max_len=60)
    d = str(tmp_path / "idx")
    segments.build_segment_index(
        spark, with_doc_id(spark.createDataFrame(_docs(pdf, 0, 50))), d,
        n_buckets=4, hot_df=8, block_size=16,
    )
    apply_updates(spark, d, mode="delta",
                  add_corpus=spark.createDataFrame(_docs(pdf, 50, 65)))
    checked = []

    def winner():
        compact(spark, d)
        # before the loser's commit: each staging holds only its own
        # writer's layout
        checked.append("c3/c4")
        assert sorted(os.listdir(f"{d}/manifests")) == \
            ["c3", "c4", "init", "u2"]
        for gen, n_buckets in (("c3", 2), ("c4", 4)):
            params = json.load(open(f"{d}/manifests/{gen}/params.json"))
            assert params["n_buckets"] == n_buckets
            assert sorted(n for n in os.listdir(f"{d}/data/dt_{gen}")
                          if n.startswith("bucket=")) == \
                [f"bucket={b}" for b in params["affected_buckets"]]
        assert json.load(open(f"{d}/manifests/c3/params.json"))[
            "affected_buckets"] == [0, 1]

    _race(monkeypatch, segments, winner)
    with pytest.raises(CommitConflict) as e:
        compact(spark, d, n_buckets=2)
    assert (e.value.version, e.value.parent, e.value.current) == (3, 2, 4)
    snap = read_snapshot(d)
    assert (snap["version"], snap["operation"], snap["n_buckets"]) == \
        (4, "compact", 4)
    assert "_c3" not in json.dumps(snap)  # no path into the loser's staging
    assert checked == ["c3/c4"]
    # the loser removed its reservation and staging
    assert sorted(os.listdir(f"{d}/manifests")) == ["c4", "init", "u2"]
    assert not [n for n in os.listdir(f"{d}/data") if n.endswith("_c3")]
    idx = segments.SegmentIndex.open(spark, d)
    assert idx.doc_lens().count() == 65
    # the loser re-reads and retries: it commits on the winner's snapshot
    assert compact(spark, d, n_buckets=2).snapshot_version == 5
    snap = read_snapshot(d)
    assert (snap["parent"], snap["n_buckets"], snap["n_docs"]) == (4, 2, 65)
    assert segments.SegmentIndex.open(spark, d).doc_lens().count() == 65


def test_text_rebuild_race(spark, tmp_path, monkeypatch):
    """Two rebuilds over a live index, the other one running after this
    one named its generation and before it staged (while it derives
    its doc ids): each reserves its own ``rbN`` (the winner, finding
    ``rb2`` taken, stages ``rb3``), so neither writes into — or clears
    — the other's staging; this one, overtaken, removes its staging and
    raises on commit, and its retry commits."""
    from shazam_an_industrial_strength_audio_search_algorithm__spark.sources.corpus import (
        make_corpus,
    )

    pdf = make_corpus(n_docs=80, seed=7, min_len=20, max_len=60)
    d = str(tmp_path / "idx")

    def build(lo, hi):
        return segments.build_segment_index(
            spark, spark.createDataFrame(_docs(pdf, lo, hi)), d,
            n_buckets=4, hot_df=8, block_size=16,
        )

    checked = []

    def staged():
        # before the loser's commit: each staging holds only its own
        # writer's docs
        checked.append("rb2/rb3")
        assert sorted(os.listdir(f"{d}/manifests")) == ["init", "rb2", "rb3"]
        want = {
            gen: {r["doc_id"] for r in with_doc_id(spark.createDataFrame(
                _docs(pdf, lo, hi))).select("doc_id").collect()}
            for gen, lo, hi in (("rb2", 0, 65), ("rb3", 0, 80))
        }
        assert _staged_ids(spark, d, ("rb2", "rb3")) == want

    def winner():
        build(0, 80)
        _race(monkeypatch, segments, staged)

    build(0, 50)
    _race(monkeypatch, segments, winner, name="with_doc_id")
    with pytest.raises(CommitConflict) as e:
        build(0, 65)
    assert (e.value.version, e.value.parent, e.value.current) == (3, 1, 2)
    snap = read_snapshot(d)
    assert (snap["version"], snap["gen"], snap["n_docs"]) == (2, "rb3", 80)
    assert checked == ["rb2/rb3"]
    # the loser removed its reservation and staging
    assert sorted(os.listdir(f"{d}/manifests")) == ["init", "rb3"]
    assert not [n for n in os.listdir(f"{d}/data") if n.endswith("_rb2")]
    assert segments.SegmentIndex.open(spark, d).doc_lens().count() == 80
    # the loser re-reads and retries: it commits on the winner's snapshot
    assert build(0, 65).snapshot_version == 3
    snap = read_snapshot(d)
    assert (snap["parent"], snap["gen"], snap["n_docs"]) == (2, "rb4", 65)
    assert segments.SegmentIndex.open(spark, d).doc_lens().count() == 65


@pytest.fixture
def vectors(spark):
    pdf = pd.DataFrame({
        "vec_id": range(120),
        "embedding": [[float(x) for x in np.random.RandomState(i).normal(
            size=16)] for i in range(120)],
    })
    return spark.createDataFrame(pdf)


def _ids(spark, d):
    snap = read_snapshot(d)
    return {r["vec_id"] for r in similarity._resolved_vectors(  # noqa: SLF001
        spark, d, snap).select("vec_id").collect()}


def test_vector_upsert_race(spark, vectors, tmp_path, monkeypatch):
    """Two upserts staged on the same snapshot of an LSH layout: the
    second to commit raises, and its retry lands both batches."""
    d = str(tmp_path / "lsh")
    similarity.lsh_persist(vectors.filter("vec_id < 100"), d, n_planes=6)
    a = vectors.filter("vec_id >= 100 AND vec_id < 110")
    b = vectors.filter("vec_id >= 110")
    _race(monkeypatch, similarity,
          lambda: similarity.vector_upsert(spark, d, add=b))
    with pytest.raises(CommitConflict):
        similarity.vector_upsert(spark, d, add=a)
    assert current_version(d) == 2
    assert _ids(spark, d) == set(range(100)) | set(range(110, 120))
    assert similarity.vector_upsert(spark, d, add=a) == 3
    assert _ids(spark, d) == set(range(120))


def test_vector_compact_and_upsert_race(spark, vectors, tmp_path,
                                        monkeypatch):
    """A compaction of an IVF layout that another writer's upsert beats
    to the commit raises instead of folding the upsert away; CURRENT
    names the upsert, and a retried compaction keeps every vector."""
    d = str(tmp_path / "ivf")
    similarity.ivf_persist(vectors.filter("vec_id < 100"), d, n_cells=4)
    similarity.vector_upsert(spark, d, delete_ids=vectors.filter(
        "vec_id < 10").select("vec_id"))
    _race(monkeypatch, similarity, lambda: similarity.vector_upsert(
        spark, d, add=vectors.filter("vec_id >= 100")))
    with pytest.raises(CommitConflict):
        similarity.vector_compact(spark, d)
    snap = read_snapshot(d)
    assert (snap["version"], snap["operation"]) == (3, "upsert")
    want = set(range(10, 120))
    assert _ids(spark, d) == want
    assert similarity.vector_compact(spark, d) == 4
    assert _ids(spark, d) == want

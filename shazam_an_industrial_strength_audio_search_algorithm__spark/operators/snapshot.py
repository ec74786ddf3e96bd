"""The snapshot protocol shared by every persisted index.

The segment index and the two vector layouts (sign-LSH, IVF) store
their state the same way (PAPER.md §1.1: "catalog + snapshot-versioned
parquet", the Iceberg model)::

    index_dir/
      CURRENT                 # text file: the current snapshot version
      snapshots/v<N>.json     # immutable; names its data by relative path
      data/<kind>_<gen>/      # parquet written by generation <gen>
      manifests/<gen>/        # made before <gen> stages: marks it in flight

A writer stages a new generation under ``data/`` (invisible: no
snapshot names it yet), then ``commit`` makes it visible. ``commit`` is
the only place a snapshot becomes visible. It creates
``snapshots/v<N>.json`` exclusively and requires the snapshot's
``parent`` to equal CURRENT, so of two writers racing from the same
parent exactly one wins and the other raises ``CommitConflict``
(optimistic concurrency: the loser re-reads and retries). Readers open
one snapshot and never see a later commit, so a commit never disturbs a
reader. ``restore`` moves CURRENT back to an older snapshot;
``vacuum`` deletes what no kept snapshot names.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer moved the index after this writer read its parent.
    Nothing this writer staged is visible: a compaction or rebuild
    removes its staging before it raises (``abandon``), and ``vacuum``
    keeps a delta update's, as in flight."""

    def __init__(self, index_dir: str, version: int, parent: int | None,
                 current: int | None):
        self.version, self.parent, self.current = version, parent, current
        super().__init__(
            f"{index_dir}: snapshot v{version} was staged on v{parent} but "
            f"CURRENT is v{current} — another writer committed first; "
            f"re-read the index and retry"
        )


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def _read_current(index_dir: str) -> int:
    with open(f"{index_dir}/CURRENT") as f:
        return int(f.read().strip())


def current_version(index_dir: str) -> int | None:
    """CURRENT's version, or None before the first commit."""
    if not os.path.exists(f"{index_dir}/CURRENT"):
        return None
    return _read_current(index_dir)


def _write_current(index_dir: str, version: int) -> None:
    tmp = f"{index_dir}/CURRENT.tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, f"{index_dir}/CURRENT")


def _snapshot_versions(index_dir: str) -> list[int]:
    sdir = f"{index_dir}/snapshots"
    if not os.path.isdir(sdir):
        return []
    return sorted(
        int(n[1:-5]) for n in os.listdir(sdir)
        if n.startswith("v") and n.endswith(".json")
    )


def _next_commit_version(index_dir: str) -> int:
    """Smallest version above EVERY existing snapshot and CURRENT, not
    just CURRENT: after restore() CURRENT may name an old snapshot
    while newer ones are still retained — reusing their version would
    overwrite data generations those snapshots reference (static
    overwrites of dt/removed staging + dynamic overwrites of seg
    partitions), i.e. silently corrupt retained history."""
    vs = [0] + _snapshot_versions(index_dir)
    current = current_version(index_dir)
    if current is not None:
        vs.append(current)
    return max(vs) + 1


def reserve_generation(index_dir: str, prefix: str,
                       resume: bool = False) -> int:
    """The number N of a new generation ``{prefix}{N}`` (``u`` update,
    ``c`` compaction, ``rb`` rebuild), reserved by creating
    ``manifests/{prefix}{N}`` exclusively before anything stages: two
    writers staged on the same parent never share a staging dir. N
    starts at ``_next_commit_version``; the loser of the ``mkdir``
    takes the next free N (and its commit, on a stale parent, raises
    ``CommitConflict``). With ``resume`` the first N is taken even when
    its dir exists: it is this writer's own interrupted generation."""
    os.makedirs(f"{index_dir}/manifests", exist_ok=True)
    n = _next_commit_version(index_dir)
    while True:
        try:
            os.mkdir(f"{index_dir}/manifests/{prefix}{n}")
            return n
        except FileExistsError:
            if resume:
                return n
            n += 1


def read_snapshot(index_dir: str, version: int | None = None) -> dict:
    if version is None:
        version = _read_current(index_dir)
    with open(f"{index_dir}/snapshots/v{version}.json") as f:
        snap = json.load(f)
    snap["version"] = version
    return snap


def commit(index_dir: str, version: int, snapshot: dict) -> int:
    """Make ``snapshot`` visible as version ``version``, then move
    CURRENT forward to it (never backward). Returns ``version``.

    The snapshot file is created exclusively (written aside, then
    hard-linked into place, which fails if the name exists), and only
    when ``snapshot["parent"]`` is CURRENT; otherwise ``CommitConflict``.
    Committing content byte-identical to an existing ``v<version>`` is
    a no-op, so a resumed or re-verified build commits again safely."""
    body = json.dumps(snapshot, indent=1, sort_keys=True)
    path = f"{index_dir}/snapshots/v{version}.json"
    current = current_version(index_dir)
    if os.path.exists(path):
        with open(path) as f:
            if f.read() != body:
                raise CommitConflict(index_dir, version,
                                     snapshot.get("parent"), current)
    else:
        if snapshot.get("parent") != current:
            raise CommitConflict(index_dir, version,
                                 snapshot.get("parent"), current)
        os.makedirs(f"{index_dir}/snapshots", exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex[:12]}.tmp"
        with open(tmp, "w") as f:
            f.write(body)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(index_dir, version, snapshot.get("parent"),
                                 current_version(index_dir)) from None
        finally:
            os.remove(tmp)
    if current is None or version > current:
        _write_current(index_dir, version)
    return version


def drop_superseded(rows: DataFrame, tombs: DataFrame | None,
                    key: str) -> DataFrame:
    """The generation rule every layered read applies: ``rows`` (``key``,
    ``gen_seq``, ...) minus the rows a newer tombstone supersedes,
    without ``gen_seq``. ``tombs`` holds the newest tombstone per key as
    (``key``, ``tomb_seq``), or is None when nothing is tombstoned. A
    row survives when its key has no tombstone or ``gen_seq >=
    tomb_seq``, so an add that travels with its own tombstone (an
    overwrite by key) survives it."""
    if tombs is None:
        return rows.drop("gen_seq")
    return (
        rows.join(F.broadcast(tombs), key, "left")
        .filter(F.col("tomb_seq").isNull()
                | (F.col("gen_seq") >= F.col("tomb_seq")))
        .drop("tomb_seq", "gen_seq")
    )


def restore(index_dir: str, version: int) -> None:
    """Time-travel rollback: point CURRENT at an older snapshot (the
    reference's backup-file restore, ``Hashing_update.py:102-108``,
    as a pointer flip; no data moves)."""
    if not os.path.exists(f"{index_dir}/snapshots/v{version}.json"):
        raise FileNotFoundError(f"snapshot v{version} does not exist")
    _write_current(index_dir, version)


def snapshot_log(index_dir: str) -> list[dict]:
    """Snapshot lineage, oldest→newest (Iceberg history analog)."""
    return [read_snapshot(index_dir, v) for v in _snapshot_versions(index_dir)]


_DATA_DIR = re.compile(r'"data/([^/"]+)')


def _data_dirs(snap: dict) -> set[str]:
    """Every ``data/<dir>`` a snapshot names, wherever in its JSON."""
    return set(_DATA_DIR.findall(json.dumps(snap)))


def _gen_of(data_dir: str) -> str:
    """The generation that wrote ``data/<kind>_<gen>``."""
    return data_dir.partition("_")[2]


def abandon(index_dir: str, gen: str) -> None:
    """Delete generation ``gen``'s reservation (``manifests/<gen>``) and
    its staging (every ``data/<kind>_<gen>``): the cleanup of a writer
    that lost its commit to ``CommitConflict`` and will never commit
    ``gen``. Nothing a snapshot names is touched, so a generation that
    did commit (or a dir another snapshot shares) stays."""
    named = set().union(*(_data_dirs(s) for s in snapshot_log(index_dir)))
    ddir = f"{index_dir}/data"
    for name in os.listdir(ddir) if os.path.isdir(ddir) else []:
        if _gen_of(name) == gen and name not in named:
            shutil.rmtree(f"{ddir}/{name}", ignore_errors=True)
    if gen not in {_gen_of(d) for d in named}:
        shutil.rmtree(f"{index_dir}/manifests/{gen}", ignore_errors=True)


def vacuum(index_dir: str, keep_last: int = 2) -> dict:
    """Expire old snapshots and delete data generations no kept
    snapshot references (Iceberg expire_snapshots/remove_orphans
    analog). CURRENT's snapshot is always kept. Returns a report of
    what was removed.

    One rule for every index kind: a ``data/<dir>`` survives when a kept
    snapshot names it anywhere in its JSON, or when it belongs to an
    IN-PROGRESS generation — one with a ``manifests/<gen>`` dir that no
    snapshot names yet (a concurrent writer between staging and
    commit: deleting its staging would fail the running job or, worse,
    let it commit a snapshot pointing at vanished paths)."""
    current = _read_current(index_dir)
    log = snapshot_log(index_dir)
    keep = sorted({s["version"] for s in log[-keep_last:]} | {current})
    kept_dirs = set().union(
        *(_data_dirs(s) for s in log if s["version"] in keep))
    committed = {_gen_of(d) for s in log for d in _data_dirs(s)}
    mdir = f"{index_dir}/manifests"
    manifests = sorted(os.listdir(mdir)) if os.path.isdir(mdir) else []
    in_flight = {g for g in manifests if g not in committed}
    kept_gens = {_gen_of(d) for d in kept_dirs} | in_flight

    removed_data, removed_snaps = [], []
    ddir = f"{index_dir}/data"
    for name in sorted(os.listdir(ddir)) if os.path.isdir(ddir) else []:
        if name not in kept_dirs and _gen_of(name) not in in_flight:
            shutil.rmtree(f"{ddir}/{name}", ignore_errors=True)
            removed_data.append(name)
    for s in log:
        if s["version"] not in keep:
            os.remove(f"{index_dir}/snapshots/v{s['version']}.json")
            removed_snaps.append(s["version"])
    for name in manifests:
        if name not in kept_gens:
            shutil.rmtree(f"{mdir}/{name}", ignore_errors=True)
    return {
        "kept_versions": keep,
        "removed_versions": removed_snaps,
        "removed_data_dirs": removed_data,
    }

"""Minimal snapshot-log table format — Iceberg-semantics checkpoints
without the Iceberg jars, and the one commit protocol of all persisted
state: the checkpointed sketch pipeline, the ANN index, the incremental
sketch stream and the dedup stream.

This image has no Iceberg on the classpath
(sources.tables.iceberg_available gates the real path). This module
reimplements the part of the (public) Iceberg spec that persisted state
needs — the HadoopTables commit protocol — over any local POSIX
filesystem with hard links (a commit on a filesystem without them
raises, leaving no tmp file or new data dir):

- **immutable data**: :func:`write_data` writes each parquet table
  under a fresh ``data/<version>-<tag>-<uuid>/`` directory; nothing ever
  rewrites a committed file, so readers of snapshot N are never torn by
  a writer of N+1;
- **atomic commit**: :func:`commit_paths` commits a list of written
  dirs as the next version, with properties (resume parameters, epoch
  ids, segment lists). The commit IS one ``os.link`` of a tmp metadata
  json to ``metadata/v<N>.json`` (atomic on POSIX; fails if vN exists,
  which is the optimistic-concurrency conflict signal). Data written
  for a commit that never linked its metadata is invisible garbage,
  never a half-visible table; :func:`commit` is the one-table case;
- **self-describing state**: :func:`committed_properties` refuses to
  resume state recorded under another layout, or a directory holding
  files of an older, pre-log layout;
- **committed version**: max(vN.json present), exactly Iceberg's
  HadoopTableOperations rule — one listing of ``metadata/``, no
  pointer file to keep in step with it;
- **time travel**: every snapshot records its full file-set (directly,
  no manifest-list indirection at this scale) + parent version +
  operation, so ``read_table(..., version=k)`` and ``history()`` are
  O(1) metadata reads, and ``rollback(k)`` is just a new commit
  pointing at snapshot k's file-set;
- **garbage collection**: :func:`expire_snapshots` removes the data of
  expired versions and every orphan dir (commit losers, torn writes).

At 100 TB the design holds because commits are O(1) pointer swings and
data-dir listings are per-snapshot (never a full-table listing); the
real cluster swaps this for actual Iceberg with zero downstream change
(the reader returns a plain DataFrame either way).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

_META = "metadata"
_DATA = "data"

#: operations recorded in the log
_OPS = ("append", "overwrite", "rollback")


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency): retry against the new current version."""


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _META)


def _meta_path(table_dir: str, version: int) -> str:
    return os.path.join(_meta_dir(table_dir), f"v{version}.json")


def _versions(table_dir: str) -> list[int]:
    """Committed versions (vN.json present), oldest first."""
    md = _meta_dir(table_dir)
    out = []
    for name in os.listdir(md) if os.path.isdir(md) else ():
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def current_version(table_dir: str) -> int | None:
    """Committed version: max vN.json present."""
    versions = _versions(table_dir)
    return versions[-1] if versions else None


def _load_meta(table_dir: str, version: int) -> dict:
    with open(_meta_path(table_dir, version)) as f:
        return json.load(f)


def _next_version(table_dir: str) -> int:
    cur = current_version(table_dir)
    return 0 if cur is None else cur + 1


def _meta_of(table_dir: str, version: int | None) -> dict:
    """Metadata of ``version`` (default: current); FileNotFoundError for
    a missing dir/version."""
    v = current_version(table_dir) if version is None else version
    if v is None or not os.path.exists(_meta_path(table_dir, v)):
        raise FileNotFoundError(f"no committed snapshot v{version} in {table_dir}")
    return _load_meta(table_dir, v)


def _referenced(table_dir: str, versions: list[int] | None = None) -> set[str]:
    """Data dirs the file-sets of ``versions`` (default: every committed
    version) name."""
    out: set[str] = set()
    for n in _versions(table_dir) if versions is None else versions:
        out.update(_load_meta(table_dir, n)["paths"])
    return out


def write_data(table_dir: str, df: DataFrame, tag: str) -> str:
    """Write ``df`` as one immutable data dir for the next version and
    return its path relative to ``table_dir``. The dir is invisible
    until :func:`commit_paths` names it. Its name is unique per ATTEMPT:
    two writers racing for the same version must never touch each
    other's files (a version-keyed name would let the loser delete the
    winner's committed data). A write that raises removes its dir
    before re-raising; dirs of writes that finished but never committed
    are orphans, reaped by :func:`expire_snapshots`."""
    rel = os.path.join(
        _DATA, f"{_next_version(table_dir):06d}-{tag}-{uuid.uuid4().hex[:8]}"
    )
    path = os.path.join(table_dir, rel)
    try:
        df.write.mode("errorifexists").parquet(path)
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    return rel


def commit_paths(
    table_dir: str,
    paths: list[str],
    op: str = "overwrite",
    properties: dict | None = None,
) -> int:
    """Atomically commit the already-written data dirs ``paths``
    (relative to ``table_dir``) as the next version; returns it.

    ``append`` unions the parent's file-set with ``paths``;
    ``overwrite`` and ``rollback`` make ``paths`` the visible file-set
    (dirs the parent named stay on disk, reachable by time travel until
    ``expire_snapshots``).

    THE commit point is one hard link of the fsynced metadata tmp file
    to ``metadata/v<N>.json``, then an fsync of the metadata directory
    so the commit survives a crash. ``os.link`` is create-if-absent
    (EEXIST when the version exists), unlike rename, whose POSIX
    semantics SILENTLY REPLACE an existing destination: an exists()
    check before a rename is TOCTOU, and two racing committers of the
    same version could both "succeed", one snapshot's metadata silently
    overwritten and its data dir later reaped as an orphan.

    The log therefore needs a local POSIX filesystem with hard links.
    When the link fails, the tmp file and every dir of ``paths`` that no
    committed version names are removed: losing the race raises
    :class:`CommitConflict`, any other ``os.link`` error an ``OSError``
    naming that requirement."""
    if op not in _OPS:
        raise ValueError(f"op must be one of {'|'.join(_OPS)}, got {op!r}")
    os.makedirs(_meta_dir(table_dir), exist_ok=True)
    version = _next_version(table_dir)
    parent = version - 1 if version else None
    if op == "append" and parent is not None:
        paths = _load_meta(table_dir, parent)["paths"] + list(paths)
    meta = {
        "version": version,
        "parent": parent,
        "op": op,
        "paths": list(paths),
        "committed_at": time.time(),
        "properties": properties or {},
    }
    final = _meta_path(table_dir, version)
    tmp = f"{final}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, final)
    except OSError as e:
        os.unlink(tmp)
        live = _referenced(table_dir)
        for p in meta["paths"]:
            if p not in live:
                shutil.rmtree(os.path.join(table_dir, p), ignore_errors=True)
        if isinstance(e, FileExistsError):
            raise CommitConflict(f"version {version} already committed") from e
        raise OSError(
            f"snapshot commit of {final} failed: the snapshot log needs a "
            f"local POSIX filesystem with hard links (os.link: {e})"
        ) from e
    os.unlink(tmp)
    fd = os.open(_meta_dir(table_dir), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    return version


def commit(
    table_dir: str,
    df: DataFrame,
    op: str = "overwrite",
    properties: dict | None = None,
) -> int:
    """Write ``df`` as a new snapshot and atomically commit it (``op``
    is ``append`` or ``overwrite``, see :func:`commit_paths`). Returns
    the committed version number."""
    if op not in ("append", "overwrite"):
        raise ValueError(f"op must be append|overwrite, got {op!r}")
    return commit_paths(table_dir, [write_data(table_dir, df, op)], op, properties)


def data_paths(table_dir: str, version: int | None = None) -> list[str]:
    """Absolute data dirs of ``version`` (default: current). Raises
    FileNotFoundError for a missing dir/version."""
    return [os.path.join(table_dir, p) for p in _meta_of(table_dir, version)["paths"]]


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (default: current). Time travel is
    O(1): load one metadata json, scan exactly its file-set."""
    return spark.read.parquet(*data_paths(table_dir, version))


def snapshot_properties(table_dir: str, version: int | None = None) -> dict:
    """Properties of one snapshot version — an O(1) single-file read
    (history() parses EVERY version's metadata, which for tables whose
    properties carry payload blobs is O(versions x blob)). Raises
    FileNotFoundError like read_table for a missing dir/version."""
    return _meta_of(table_dir, version)["properties"]


def committed_properties(table_dir: str, layout: dict | None = None) -> dict | None:
    """Properties of the current version of a table that records its
    ``layout`` property on every commit, or None before the first
    commit — the resume guard of the state the log holds. Raises
    ValueError, naming the differing fields, when the committed layout
    is not ``layout`` (its data would silently disagree with this
    run's), and when ``table_dir`` has no commit but holds files the
    log never writes: state of an older layout, which must be refused,
    not read as empty."""
    v = current_version(table_dir)
    if v is None:
        foreign = sorted(
            set(os.listdir(table_dir) if os.path.isdir(table_dir) else ())
            - {_META, _DATA}
        )
        if foreign:
            raise ValueError(
                f"{table_dir} holds state of an older layout ({foreign}) "
                "and no snapshot log: use a fresh directory"
            )
        return None
    props = _load_meta(table_dir, v)["properties"]
    if layout is not None:
        have = props.get("layout") or {}
        diff = sorted(k for k in {*have, *layout} if have.get(k) != layout.get(k))
        if diff:
            raise ValueError(
                f"{table_dir} holds state of layout {have}, this run needs "
                f"{layout} (fields {diff} differ): use a fresh directory"
            )
    return props


def history(table_dir: str) -> list[dict]:
    """The snapshot log, oldest first — (version, parent, op,
    committed_at, properties), the audit trail resume decisions read."""
    keys = ("version", "parent", "op", "committed_at", "properties")
    metas = [_load_meta(table_dir, n) for n in _versions(table_dir)]
    return [{k: m[k] for k in keys} for m in metas]


def rollback(table_dir: str, to_version: int) -> int:
    """Commit a NEW version whose visible file-set is snapshot
    ``to_version``'s — history is never rewritten (Iceberg semantics),
    so the rolled-back-over snapshots stay time-travelable."""
    if current_version(table_dir) is None:
        raise FileNotFoundError(
            f"no committed snapshot to roll back from in {table_dir}"
        )
    paths = _load_meta(table_dir, to_version)["paths"]
    return commit_paths(table_dir, paths, "rollback", {"rollback_to": to_version})


def expire_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Delete metadata + data unreachable from the last ``keep_last``
    snapshots. Returns expired version numbers. Data dirs referenced by
    ANY surviving snapshot are kept (append chains share dirs)."""
    versions = _versions(table_dir)
    if not versions:
        return []
    cur = versions[-1]
    survivors = versions[-max(1, keep_last):]
    expired = versions[: len(versions) - len(survivors)]
    live_paths = _referenced(table_dir, survivors)
    for n in expired:
        dead = [p for p in _load_meta(table_dir, n)["paths"] if p not in live_paths]
        for p in dead:
            shutil.rmtree(os.path.join(table_dir, p), ignore_errors=True)
        os.unlink(_meta_path(table_dir, n))
    # orphan GC: data dirs referenced by NO snapshot (commit losers,
    # torn writes). Only versions <= current are safe to reap — a slot
    # above current may belong to an in-progress writer.
    data_root = os.path.join(table_dir, _DATA)
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            rel = os.path.join(_DATA, d)
            try:
                v = int(d.split("-", 1)[0])
            except ValueError:
                continue
            if v <= cur and rel not in live_paths:
                shutil.rmtree(os.path.join(data_root, d), ignore_errors=True)
    return expired

"""Minimal snapshot-log table format — Iceberg-semantics checkpoints
without the Iceberg jars.

The north rule calls for jobs "resumable from Iceberg snapshot
checkpoints". This image has no Iceberg on the classpath
(sources.tables.iceberg_available gates the real path), and the prior
checkpoint wrote snapshots with ``mode("overwrite")`` straight over the
live directory — a crash mid-overwrite destroys the only copy. This
module reimplements the part of the (public) Iceberg spec the
checkpoint actually needs — the HadoopTables commit protocol — in ~150
lines over any local POSIX filesystem with hard links (a commit on a
filesystem without them raises, leaving no tmp file or data dir):

- **immutable data**: every commit writes its parquet under a fresh
  ``data/<version>-<op>/`` directory; nothing ever rewrites a committed
  file, so readers of snapshot N are never torn by a writer of N+1;
- **atomic commit**: a commit IS one ``os.link`` of a tmp metadata
  json to ``metadata/v<N>.json`` (atomic on POSIX; fails if vN exists,
  which is the optimistic-concurrency conflict signal). Data written
  for a commit that never linked its metadata is invisible garbage,
  never a half-visible table;
- **crash recovery**: ``version-hint.text`` is a read accelerator, not
  truth — the committed version is max(vN.json present), exactly
  Iceberg's HadoopTableOperations rule, so a crash between metadata
  rename and hint update loses nothing;
- **time travel**: every snapshot records its full file-set (directly,
  no manifest-list indirection at this scale) + parent version +
  operation, so ``read_table(..., version=k)`` and ``history()`` are
  O(1) metadata reads, and ``rollback(k)`` is just a new commit
  pointing at snapshot k's file-set.

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
_HINT = "version-hint.text"

#: operations recorded in the log
_OPS = ("append", "overwrite", "rollback")


class CommitConflict(RuntimeError):
    """Another writer committed this version first (optimistic
    concurrency): retry against the new current version."""


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _META)


def _meta_path(table_dir: str, version: int) -> str:
    return os.path.join(_meta_dir(table_dir), f"v{version}.json")


def current_version(table_dir: str) -> int | None:
    """Committed version: max vN.json present. The hint file is only a
    shortcut start point — never trusted on its own (crash between
    metadata rename and hint write must lose nothing)."""
    md = _meta_dir(table_dir)
    if not os.path.isdir(md):
        return None
    best = None
    for name in os.listdir(md):
        if name.startswith("v") and name.endswith(".json"):
            try:
                n = int(name[1:-5])
            except ValueError:
                continue
            best = n if best is None or n > best else best
    return best


def _load_meta(table_dir: str, version: int) -> dict:
    with open(_meta_path(table_dir, version)) as f:
        return json.load(f)


def _publish(tmp: str, final: str, version: int, data_dir: str | None = None) -> None:
    """THE commit point: hard-link the written metadata ``tmp`` to
    ``final``, then fsync the metadata directory so the commit survives
    a crash. ``os.link`` is create-if-absent (EEXIST when ``final``
    exists), unlike rename, whose POSIX semantics SILENTLY REPLACE an
    existing destination — an exists() check before a rename is TOCTOU
    and two racing committers of the same version could both "succeed",
    one snapshot's metadata silently overwritten and its data dir later
    reaped as an orphan (r6 ADVICE #1).

    The snapshot log therefore needs a local POSIX filesystem with hard
    links. On any failure the tmp file and the commit's ``data_dir``
    are removed: losing the race raises :class:`CommitConflict`, any
    other ``os.link`` error an ``OSError`` naming that requirement."""
    try:
        os.link(tmp, final)
    except OSError as e:
        os.unlink(tmp)
        if data_dir is not None:
            shutil.rmtree(data_dir, ignore_errors=True)
        if isinstance(e, FileExistsError):
            raise CommitConflict(f"version {version} already committed") from e
        raise OSError(
            f"snapshot commit of {final} failed: the snapshot log needs a "
            f"local POSIX filesystem with hard links (os.link: {e})"
        ) from e
    os.unlink(tmp)
    fd = os.open(os.path.dirname(final), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def commit(
    table_dir: str,
    df: DataFrame,
    op: str = "overwrite",
    properties: dict | None = None,
) -> int:
    """Write ``df`` as a new snapshot and atomically commit it.
    Returns the committed version number.

    ``append`` unions the parent's file-set with the new files;
    ``overwrite`` replaces the visible file-set (parent data dirs stay
    on disk, reachable by time travel until ``expire_snapshots``)."""
    if op not in ("append", "overwrite"):
        raise ValueError(f"op must be append|overwrite, got {op!r}")
    os.makedirs(_meta_dir(table_dir), exist_ok=True)
    parent = current_version(table_dir)
    version = 0 if parent is None else parent + 1

    # per-ATTEMPT unique dir: two writers racing for the same version
    # must never touch each other's files (a version-keyed name would
    # let the loser delete the winner's committed data). Losers leave
    # unreferenced orphan dirs, GC'd by expire_snapshots.
    data_rel = os.path.join(_DATA, f"{version:06d}-{op}-{uuid.uuid4().hex[:8]}")
    data_dir = os.path.join(table_dir, data_rel)
    df.write.mode("errorifexists").parquet(data_dir)

    paths = [data_rel]
    if op == "append" and parent is not None:
        paths = _load_meta(table_dir, parent)["paths"] + paths
    meta = {
        "version": version,
        "parent": parent,
        "op": op,
        "paths": paths,
        "schema": df.schema.jsonValue(),
        "committed_at": time.time(),
        "properties": properties or {},
    }
    tmp = _meta_path(table_dir, version) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    _publish(tmp, _meta_path(table_dir, version), version, data_dir)
    # hint is best-effort: written via tmp+rename so it is never torn
    hint_tmp = os.path.join(table_dir, _HINT + ".tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.rename(hint_tmp, os.path.join(table_dir, _HINT))
    return version


def read_table(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table at ``version`` (default: current). Time travel is
    O(1): load one metadata json, scan exactly its file-set."""
    v = current_version(table_dir) if version is None else version
    if v is None or not os.path.exists(_meta_path(table_dir, v)):
        raise FileNotFoundError(f"no committed snapshot v{version} in {table_dir}")
    meta = _load_meta(table_dir, v)
    return spark.read.parquet(*[os.path.join(table_dir, p) for p in meta["paths"]])


def snapshot_properties(table_dir: str, version: int | None = None) -> dict:
    """Properties of one snapshot version — an O(1) single-file read
    (history() parses EVERY version's metadata, which for tables whose
    properties carry payload blobs is O(versions x blob)). Raises
    FileNotFoundError like read_table for a missing dir/version."""
    v = current_version(table_dir) if version is None else version
    if v is None or not os.path.exists(_meta_path(table_dir, v)):
        raise FileNotFoundError(
            f"no committed snapshot v{version} in {table_dir}"
        )
    return _load_meta(table_dir, v)["properties"]


def history(table_dir: str) -> list[dict]:
    """The snapshot log, oldest first — (version, parent, op,
    committed_at, properties), the audit trail resume decisions read."""
    out = []
    v = current_version(table_dir)
    if v is None:
        return out
    for n in range(v + 1):
        if os.path.exists(_meta_path(table_dir, n)):
            m = _load_meta(table_dir, n)
            out.append({k: m[k] for k in ("version", "parent", "op", "committed_at", "properties")})
    return out


def rollback(table_dir: str, to_version: int) -> int:
    """Commit a NEW version whose visible file-set is snapshot
    ``to_version``'s — history is never rewritten (Iceberg semantics),
    so the rolled-back-over snapshots stay time-travelable."""
    parent = current_version(table_dir)
    if parent is None:
        raise FileNotFoundError(
            f"no committed snapshot to roll back from in {table_dir}"
        )
    src = _load_meta(table_dir, to_version)
    version = parent + 1
    meta = {
        "version": version,
        "parent": parent,
        "op": "rollback",
        "paths": src["paths"],
        "schema": src["schema"],
        "committed_at": time.time(),
        "properties": {"rollback_to": to_version},
    }
    tmp = _meta_path(table_dir, version) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())  # same crash-durability as commit()
    _publish(tmp, _meta_path(table_dir, version), version)
    return version


def expire_snapshots(table_dir: str, keep_last: int = 2) -> list[int]:
    """Delete metadata + data unreachable from the last ``keep_last``
    snapshots. Returns expired version numbers. Data dirs referenced by
    ANY surviving snapshot are kept (append chains share dirs)."""
    cur = current_version(table_dir)
    if cur is None:
        return []
    keep = max(1, keep_last)
    live_versions = [n for n in range(cur + 1) if os.path.exists(_meta_path(table_dir, n))]
    survivors = live_versions[-keep:]
    expired = [n for n in live_versions if n not in survivors]
    live_paths = set()
    for n in survivors:
        live_paths.update(_load_meta(table_dir, n)["paths"])
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

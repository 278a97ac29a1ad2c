"""Atomic index-manifest persistence, shared by every index family.

One place for the tmp-write + ``os.replace`` ritual (r12 review: the
block had been copy-pasted into ~10 sites across index/ and
streaming/): the artifact "exists" — or its update lands — only when
the rename does, so a crash mid-write never leaves a torn manifest.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from contextlib import contextmanager

__all__ = [
    "write_manifest",
    "reload_manifest",
    "stage_dir",
    "staged_append",
    "record_epoch",
    "PendingDmlError",
    "set_pending",
    "clear_pending",
    "artifact_mutate_lock",
]


@contextmanager
def artifact_mutate_lock(index_path: str):
    """Serialize load→modify→commit manifest cycles across CONCURRENT
    mutators of one artifact (review r15: an add stream and a delete
    stream each load the manifest, mutate, and write it back; without
    mutual exclusion one commit silently erases the other's partitions
    or tombstones, orphaning data files). An advisory ``flock`` on a
    SIBLING lock file (a sibling so create/overwrite paths that rebuild
    the artifact dir cannot delete the lock out from under a holder).

    Holders (ADVICE r15 — the lock moved here from streaming/ops.py so
    BOTH mutator families share it): the two streaming foreachBatch
    mutators (index_add_stream / index_delete_stream) and the
    bound-table DML hook windows in sources/sinks.py (journal write +
    delete_batch/add_batch + journal clear). ``resolve_pending_dml`` is
    deliberately NOT a holder — streaming micro-batches call it INSIDE
    their locked region (flock is not re-entrant across fds), so direct
    callers of the resolver serialize it themselves.

    Scope is one HOST (where Spark runs foreachBatch callbacks and the
    driver-side DML hooks); multi-driver deployments on object stores
    must serialize writers externally (or give each its own artifact),
    as with any non-transactional multi-writer."""
    import fcntl

    lock_path = index_path.rstrip("/") + ".lock"
    os.makedirs(os.path.dirname(lock_path) or ".", exist_ok=True)
    with open(lock_path, "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def reload_manifest(path: str) -> dict:
    """Re-read ``<path>/manifest.json`` from disk. Mutators holding
    ``artifact_mutate_lock`` refresh their handle's manifest with this
    before modifying: long-lived bound handles otherwise commit from a
    stale in-memory copy and erase whatever a concurrent (serialized)
    mutator committed since."""
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


def record_epoch(merged: dict, moved: list[str]) -> int:
    """Assign the next append epoch to the just-moved data files (r14
    versioned tombstones, VERDICT r13 #4): bumps
    ``merged["append_epoch"]`` and maps each file's BASENAME to it in
    ``merged["file_epochs"]`` — basenames are unique across write jobs
    (per-job UUID in the part name), and within one job duplicates
    across hive dirs share this epoch anyway. Bulk-built files are
    absent from the map = epoch 0. No data file carries an epoch
    column; the map is how scans and query streams resolve a row's
    version for ``(id, epoch < bound)`` tombstones."""
    epoch = int(merged.get("append_epoch", 0)) + 1
    fe = dict(merged.get("file_epochs") or {})
    for f in moved:
        fe[os.path.basename(f)] = epoch
    merged["append_epoch"] = epoch
    merged["file_epochs"] = fe
    return epoch


class PendingDmlError(RuntimeError):
    """The artifact carries a ``pending_dml`` intent record (r14,
    VERDICT r13 #2): a table DML committed (or was about to) while the
    index update never confirmed — a crash in the window the
    reference's single transaction (hnsw_index.cpp:391-500) closes.
    Loading is refused so the divergence is DETECTED instead of
    silently serving stale rows; call
    ``sources.sinks.resolve_pending_dml(spark, path)`` to replay the
    recorded intent, or ``rebuild()`` from the table snapshot."""


def set_pending(path: str, manifest: dict, record: dict) -> dict:
    """Write a ``pending_dml`` intent record into the manifest
    (atomic). Returns the new manifest dict for the caller to adopt."""
    merged = dict(manifest)
    merged["pending_dml"] = record
    write_manifest(path, merged)
    return merged


def clear_pending(path: str, manifest: dict) -> dict:
    """Remove the ``pending_dml`` record (atomic)."""
    merged = dict(manifest)
    merged.pop("pending_dml", None)
    write_manifest(path, merged)
    return merged


def write_manifest(path: str, manifest: dict, indent: int | None = None) -> None:
    """Atomically write ``<path>/manifest.json``."""
    tmp = os.path.join(path, ".manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=indent)
    os.replace(tmp, os.path.join(path, "manifest.json"))


@contextmanager
def stage_dir(parent: str, prefix: str):
    """A fresh hidden stage dir ``<parent>/<prefix><id>`` for one write,
    removed on exit (a caller that renames it into place leaves nothing
    to remove). Leftover ``<prefix>*`` dirs of crashed earlier writes
    are swept first: they were never committed."""
    if os.path.isdir(parent):
        for nm in os.listdir(parent):
            if nm.startswith(prefix):
                shutil.rmtree(os.path.join(parent, nm), ignore_errors=True)
    stage = os.path.join(parent, f"{prefix}{uuid.uuid4().hex[:12]}")
    try:
        yield stage
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def staged_append(df, target_dir: str) -> list[str]:
    """Append ``df``'s rows under ``target_dir`` with a NARROW commit
    window (ADVICE r12: every quantized ``add_batch`` used to
    ``mode("append")`` straight into the live data dir, so a crash
    anywhere inside the Spark write left orphan part files that the
    scans read while the manifest count stayed stale). The batch is
    written to a hidden sibling staging dir first — invisible to every
    reader, both because it is never the read path and because Spark
    skips dot-prefixed files — and the finished part files are renamed
    into place only after the whole write succeeded, immediately before
    the caller's atomic manifest update.

    Residual window, documented on every add_batch: a crash BETWEEN the
    renames and the manifest write (microseconds of local fs metadata
    ops, vs the whole encode+write job before) can still leave
    scan-visible rows with a stale manifest count — after a failed
    add_batch, ``rebuild()`` restores exactness. A crash mid-write
    leaves only the unreferenced staging dir: retrying the add never
    duplicates rows, and leftover ``.staging-*`` dirs are swept here on
    the next successful append.

    Flat layouts only; the inverted-list layout appends through
    ``lists.append_lists`` with the same staging dirs. Returns the list
    of files moved in."""
    parent = os.path.dirname(target_dir.rstrip("/")) or "."
    moved: list[str] = []
    with stage_dir(parent, ".staging-") as stage:
        df.write.mode("overwrite").parquet(stage)
        os.makedirs(target_dir, exist_ok=True)
        for nm in sorted(os.listdir(stage)):
            if nm.endswith(".parquet"):
                dest = os.path.join(target_dir, nm)
                os.replace(os.path.join(stage, nm), dest)
                moved.append(dest)
    return moved

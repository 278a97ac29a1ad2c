"""The one writer of the inverted-list layout of IVF, IVF×SQ and IVFADC
(ivf.py, ivfsq.py, ivfpq.py) — bulk builds, ``add_batch`` appends and
``compact`` rewrites alike:

    <data dir>/list_id=N/part-<partition>-<seq>-<write id>.parquet

Spark's reader discovers ``list_id`` as a partition column, so probing
lists is a partition filter; driver routes read a list's files by path.

Commit protocol, without Spark's output committer: each task attempt
writes into its own ``<stage>/_tasks/<partition>-<attempt>/`` under
temp names that do not end in ``.parquet``, renames each finished file,
and reports ``(list_id, file, rows)``. Only successful attempts' reports
reach the driver, which moves exactly the reported files into
``list_id=N/`` and removes ``<stage>/_tasks``: a failed, retried or
speculative attempt never commits a file. Basenames stay unique across
writes (``manifest.record_epoch`` keys by basename), and the reported
rows are the per-list counts — no re-read.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable, Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

__all__ = ["write_list_batches", "write_lists", "append_lists", "compact_lists"]

# rows a writer task holds before it flushes one file per list; a list
# gets one file per flush, so a task under the bound writes one file
# per list it saw
_FLUSH_BYTES = 64 << 20

# per-attempt task directories inside a stage dir (the "_" prefix hides
# them from Spark's file listing)
_TASKS = "_tasks"

_REPORT_SCHEMA = "list_id int, file string, rows long"


def write_list_batches(
    batches: Iterable[pa.RecordBatch], out_dir: str, partition: int, write_id: str
) -> list[tuple[int, str, int]]:
    """Write record batches carrying a ``list_id`` column as one parquet
    file per list per flush under ``out_dir``, rows of a list in input
    order, ``list_id`` dropped from the payload. Returns
    ``(list_id, file, rows)`` per file written."""
    import pyarrow.parquet as papq

    os.makedirs(out_dir, exist_ok=True)
    reports: list[tuple[int, str, int]] = []

    def flush(buf):
        t = pa.Table.from_batches(buf)
        lids = t.column("list_id").to_numpy()
        order = np.argsort(lids, kind="stable")
        payload = t.drop_columns(["list_id"]).take(order)
        lids = lids[order]
        cuts = np.flatnonzero(np.diff(lids)) + 1
        for lo, hi in zip([0, *cuts], [*cuts, len(lids)]):
            seq = len(reports)
            tmp = os.path.join(out_dir, f".tmp-{seq:05d}")
            papq.write_table(payload.slice(lo, hi - lo), tmp)
            final = os.path.join(
                out_dir, f"part-{partition:05d}-{seq:05d}-{write_id}.parquet"
            )
            os.replace(tmp, final)
            reports.append((int(lids[lo]), final, int(hi - lo)))

    buf, size = [], 0
    for b in batches:
        if not b.num_rows:
            continue
        buf.append(b)
        size += b.nbytes
        if size >= _FLUSH_BYTES:
            flush(buf)
            buf, size = [], 0
    if buf:
        flush(buf)
    return reports


def write_lists(
    src: DataFrame | pa.Table,
    data_dir: str,
    stage: str,
    transform: Callable[[pa.RecordBatch], pa.RecordBatch] | None = None,
) -> tuple[list[str], dict[int, int]]:
    """Write ``src`` into the ``data_dir/list_id=N/`` layout and return
    (the committed files, rows per list).

    ``src`` is a DataFrame (executor form: one ``mapInArrow`` task per
    partition) or an in-process ``pyarrow.Table`` (driver form).
    ``transform`` maps each input batch to the written one (payload
    columns plus ``list_id``); without it the batches already carry
    ``list_id``. Task files land under ``stage/_tasks``, which is
    removed once the reported files are moved."""
    write_id = uuid.uuid4().hex[:12]
    tasks = os.path.join(stage, _TASKS)

    def run(partition, attempt, batches):
        if transform is not None:
            batches = map(transform, batches)
        out_dir = os.path.join(tasks, f"{partition}-{attempt}")
        return write_list_batches(batches, out_dir, partition, write_id)

    if isinstance(src, DataFrame):

        def task(batches):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            got = run(ctx.partitionId(), ctx.attemptNumber(), batches)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([r[0] for r in got], pa.int32()),
                    pa.array([r[1] for r in got], pa.string()),
                    pa.array([r[2] for r in got], pa.int64()),
                ],
                names=["list_id", "file", "rows"],
            )

        reports = [
            (r["list_id"], r["file"], r["rows"])
            for r in src.mapInArrow(task, _REPORT_SCHEMA).collect()
        ]
    else:
        reports = run(0, 0, src.combine_chunks().to_batches())
    moved: list[str] = []
    counts: dict[int, int] = {}
    for lid, file, rows in reports:
        dest_dir = os.path.join(data_dir, f"list_id={lid}")
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, os.path.basename(file))
        os.replace(file, dest)
        moved.append(dest)
        counts[lid] = counts.get(lid, 0) + rows
    shutil.rmtree(tasks, ignore_errors=True)
    return moved, counts


def append_lists(
    df: DataFrame, data_dir: str, transform: Callable[[pa.RecordBatch], pa.RecordBatch]
) -> tuple[list[str], dict[int, int]]:
    """``add_batch``'s write: ``write_lists`` through a hidden staging
    sibling of ``data_dir`` (``manifest.stage_dir``), so a crash before
    the commit leaves nothing a scan reads."""
    from duckdb_vss_spark.index.manifest import stage_dir

    parent = os.path.dirname(data_dir.rstrip("/")) or "."
    with stage_dir(parent, ".staging-") as stage:
        return write_lists(df, data_dir, stage, transform)


def compact_lists(index, subdir: str) -> dict[int, int] | None:
    """``compact``'s write: the live rows of each list re-packed into
    one file (``tombstones.compact_data`` owns the stage, the swap and
    the crash recovery). Returns rows per list, or None when there was
    nothing to reclaim or coalesce."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.index import tombstones as _tomb

    def write(df, stage):
        return write_lists(df.repartition(F.col("list_id")), stage, stage)[1]

    return _tomb.compact_data(index, subdir, write_lists=write)

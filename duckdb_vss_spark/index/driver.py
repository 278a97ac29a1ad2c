"""The driver-side shortlist route of the quantized index families.

On an artifact small enough for driver state, a single-query search
resolves its candidate shortlist ON the driver instead of running the
distributed candidate scan: at that size the scan costs ~300 ms of
scheduling and codegen against ~1 ms of actual arithmetic.
``driver_topk`` is the one route every family (PQ, IVFADC, IVF,
IVF×SQ, BQ hamming and asym) takes. A family supplies only what is its
own: a size estimate, its file list (probed lists or all files), a
decoder, and a score expression.

Bit-identity contract: the driver shortlist equals the distributed
scan's, bit for bit, by construction rather than by reimplementation.

- Files decode through the same mtime-keyed ``FileLRU`` decoders the
  executor query streams use, so both sides score the same arrays.
- Tombstones are read without Spark (``dead_mask_payload_local``) and
  resolve per file through ``applicable_dead`` — the ``mask_dead`` rule
  the executors apply, versioned kills bounded by the file's epoch.
- Each family's ``score`` is the cluster path's own expression: the
  ADC gather-sum the pandas UDFs run, the ``_replay_distance`` /
  ``_replay_sq_distance`` folds of the JVM Column trees, the integer
  Hamming count, and the asym SQL fold.
- Ties break on ``(dist, id)`` exactly like the cluster ORDER BY.

Pinned by tests/test_quantized_driver_search. Whenever the route cannot
hold the contract — the artifact is over the byte budget, the shortlist
is wider than ``_MAX_DRIVER_SHORTLIST``, tombstones or files are
unreadable from this process, or a stored shape only the JVM can score —
it returns None and the caller keeps the distributed scan (the 100 TB
path).
"""

from __future__ import annotations

import os

import numpy as np

from duckdb_vss_spark.index import tombstones as _tomb

# widest shortlist the driver path materializes as literal rows — a
# full-corpus rerank on a big artifact keeps the distributed scan
_MAX_DRIVER_SHORTLIST = 65_536
# driver-resolved candidate lists above this size fetch via a broadcast
# join instead of a literal In-filter (planning + pushdown of a
# many-thousand-literal predicate costs more than the join it saves)
_MAX_ISIN_CANDIDATES = 512


def conf_bytes(spark, key: str, default: int) -> int:
    """Integer byte budget ``key`` from the session conf (``default``
    when unset; 0 disables the path it gates). A value that is not an
    integer raises instead of silently meaning the default."""
    raw = spark.conf.get(key, str(default))
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"{key} must be an integer number of bytes, got {raw!r}"
        ) from None


def driver_probe_budget(spark) -> int:
    """``spark.vss.driver_probe_max_bytes`` (default 256 MB, the cost
    class of a large broadcast): the driver-state budget of every
    driver-local search path, the HNSW shard probe included."""
    return conf_bytes(spark, "spark.vss.driver_probe_max_bytes", 256 << 20)


class FileLRU:
    """Decoded files keyed by (path, mtime); beyond ``maxsize`` entries
    the least recently used is evicted. One instance per decoder and
    process: on the driver it serves the driver route, on a cluster each
    executor python worker holds its own. A rewritten file (new mtime)
    reloads and drops its stale entry."""

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self._entries: dict[tuple[str, float], object] = {}

    def get(self, path: str, load):
        """``load(path)``'s value, decoded once per (path, mtime)."""
        key = (path, os.path.getmtime(path))
        if key in self._entries:
            value = self._entries.pop(key)  # re-inserted last = most recent
        else:
            for k in [k for k in self._entries if k[0] == path]:
                del self._entries[k]
            value = load(path)
            while len(self._entries) >= self.maxsize:
                self._entries.pop(next(iter(self._entries)))
        self._entries[key] = value
        return value

    def __iter__(self):
        return iter(self._entries)


def driver_topk(index, est_bytes: int, take: int, files, load, score):
    """``(id, score)`` pairs of the ``take`` best live rows, ordered by
    (score, id), computed on the driver — or None when the distributed
    scan must run (see the module docstring).

    ``est_bytes`` is the family's estimate of the driver memory the
    route needs, gated against ``driver_probe_budget``. ``files()``
    lists the data files to score; ``load(file)`` returns the file's
    decoded ``(ids, *cols)`` arrays (None for a shape only the JVM can
    score); ``score(file, *cols)`` returns one score per live row."""
    budget = driver_probe_budget(index.spark)
    if budget <= 0 or est_bytes <= 0 or est_bytes > budget:
        return None
    if int(take) > _MAX_DRIVER_SHORTLIST:
        return None
    dead = _tomb.dead_mask_payload_local(index)
    if dead is _tomb.UNREADABLE:
        return None
    id_parts, score_parts = [], []
    try:
        for file in files():
            loaded = load(file)
            if loaded is None:
                return None
            ids, *cols = loaded
            d = _tomb.applicable_dead(dead, file)
            if d is not None:
                keep = ~np.isin(ids, d)
                ids = ids[keep]
                cols = [c if c is None else c[keep] for c in cols]
            if len(ids):
                id_parts.append(ids)
                score_parts.append(score(file, *cols))
    except Exception:  # noqa: BLE001 — remote FS/corrupt: distributed path
        return None
    if not id_parts:
        return []
    ids = np.concatenate(id_parts)
    dist = np.concatenate(score_parts)
    order = np.lexsort((ids, dist))[: int(take)]
    return list(zip(ids[order].tolist(), dist[order].tolist()))


_NP_TYPES = {"double": np.float64, "int": np.int32}


def _shortlist_frame(spark, pairs, id_col: str, dist_col: str, dist_type: str):
    """A driver-resolved shortlist as the same two-column frame the
    distributed candidate scan produces (``dist_type`` is the score
    column's Spark type, ``"double"`` or ``"int"``), rows ALREADY in
    that scan's (dist, id) output order. Built through pandas so the
    plan is an order-preserving LocalTableScan — collect() needs no
    distributed job; a plain-list createDataFrame would parallelize into
    an RDD scan costing ~0.4 s of scheduling per action (measured),
    which is the very overhead this path removes."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                id_col: np.asarray([i for i, _d in pairs], dtype=np.int64),
                dist_col: np.asarray(
                    [d for _i, d in pairs], dtype=_NP_TYPES[dist_type]
                ),
            }
        ),
        schema=f"{id_col} long, {dist_col} {dist_type}",
    )

"""IVF×SQ: inverted-file routing over scalar-quantized codes — the
second point on the prune×compress composition grid (ivfpq.py is the
first).

IVF prunes WHICH rows are scanned (inverted lists = parquet
partitions, so probing compiles to partition pruning Catalyst proves);
SQ8 shrinks BYTES per scanned row (1 byte/dim, exact per-dim min/max
bounds — no codebook training, no sampled distortion). Compared to
IVFADC this trades compression ratio (PQ: ~1 byte per 2-8 dims) for a
training-free build and an EXACTLY reproducible codec: the ADC scan
over probed lists is fixed-order IEEE arithmetic end to end (sq.py),
so candidate scores replay bit-for-bit in SQL — the only approximation
left is which lists were probed, and the re-rank restores top-k
exactness the same way the PQ/IVFADC paths do.

Layout on disk:

    <path>/manifest.json               metric, dims, nlist, centroids,
                                       SQ bounds (mins/maxs), stats
    <path>/lists/list_id=N/*.parquet   (id, codes array<int>) — no raw
                                       vectors; the byte win is the point

Build: the IVF module's sampled k-means, one exact min/max aggregation
for the SQ bounds, then one map-only stage — the JVM SQ encode feeding a
``mapInArrow`` task that assigns each row to its list and writes one
file per list (lists.write_lists). No shuffle.
"""

from __future__ import annotations

import json
import logging
import math
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_vss_spark.index.driver import (
    _MAX_ISIN_CANDIDATES,
    FileLRU,
    _shortlist_frame,
    driver_topk,
)
from duckdb_vss_spark.index.ivf import _assign_batch, _probed_files, _read_fixed_width
from duckdb_vss_spark.index.lists import append_lists, compact_lists, write_lists

__all__ = ["IvfSqIndex", "create_ivfsq_index", "load_ivfsq_index", "drop_ivfsq_index"]

_LOG = logging.getLogger(__name__)


class IvfSqIndex:
    """Handle over a built IVF×SQ artifact."""

    # the upsert hook may version-kill (id, epoch<bound) instead of
    # delete+compact+re-append (r14, VERDICT r13 #4)
    supports_versioned_delete = True

    def __init__(self, spark: SparkSession, path: str, manifest: dict):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        self._centroids = np.asarray(manifest["centroids"], dtype=np.float64)
        self._mins = np.asarray(manifest["sq_mins"], dtype=np.float64)
        self._maxs = np.asarray(manifest["sq_maxs"], dtype=np.float64)

    @property
    def nlist(self) -> int:
        return self.manifest["nlist"]

    @property
    def dims(self) -> int:
        return self.manifest["dimensions"]

    @property
    def count(self) -> int:
        """LIVE rows (indexed minus tombstoned, r13 delete_batch);
        ``manifest["count"]`` stays the raw indexed total."""
        from duckdb_vss_spark.index import tombstones as _tomb

        return _tomb.live_count(self.manifest)

    def _lists_df(self) -> DataFrame:
        from duckdb_vss_spark.index import tombstones as _tomb

        return _tomb.filter_dead(
            self, self.spark.read.parquet(os.path.join(self.path, "lists"))
        )

    def _probe_ids(self, query_vec, nprobe: int) -> list[int]:
        q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
        if q.shape[0] != self.dims:
            raise ValueError(f"IVF index keys must be of type FLOAT[{self.dims}]")
        d = ((self._centroids - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d, kind="stable")[: int(nprobe)]]

    def knn_search(
        self,
        query_vec,
        k: int,
        nprobe: int | None = None,
        rerank: int | None = None,
        source: DataFrame | None = None,
        dist_col: str = "dist",
    ) -> DataFrame:
        """Probe ``nprobe`` lists (parquet partition pruning), SQ-ADC
        score the probed codes (asymmetric: raw query vs reconstructed
        corpus — the sq.py codec, bit-reproducible), take the top
        ``rerank`` (or ``k``) candidates, and — when ``source`` is
        given — re-rank them exactly against the original vectors via a
        broadcast id semi-join (late materialization, the same shape as
        the PQ/IVFADC re-rank)."""
        from duckdb_vss_spark.functions.distance import distance_for_metric
        from duckdb_vss_spark.index.sq import sq_reconstruct

        nprobe = int(nprobe or self.manifest["default_nprobe"])
        probes = self._probe_ids(query_vec, nprobe)
        q = [float(x) for x in query_vec]
        id_col = self.manifest["id_col"]
        qv = F.from_json(
            F.lit("[" + ",".join(repr(float(x)) for x in q) + "]"),
            "array<double>",
        )
        dist_fn = distance_for_metric(self.manifest["metric"])
        nshort = int(rerank or k)
        # gate-small artifacts resolve the shortlist on the driver
        # (index/driver.py); None keeps the distributed scan below
        pairs = _driver_sq_shortlist(self, q, probes, nshort)
        if pairs is not None:
            shortlist = _shortlist_frame(
                self.spark, pairs, id_col, dist_col, "double"
            )
        else:
            recon = sq_reconstruct(F.col("codes"), self._mins, self._maxs)
            shortlist = (
                self._lists_df()
                .where(F.col("list_id").isin(probes))
                .withColumn(dist_col, dist_fn(recon, qv))
                .orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col))
                .limit(nshort)
            )
        if source is None:
            return shortlist.select(id_col, dist_col).limit(int(k))
        vec_col = self.manifest["vec_col"]
        if pairs is not None:
            uniq = sorted({int(i) for i, _d in pairs})
            if len(uniq) <= _MAX_ISIN_CANDIDATES:
                # the semi-join is id-set semantics, so a literal
                # In-filter pushed into the source scan is exact (the
                # HNSW r16 fetch shape); wider driver shortlists keep
                # the broadcast semi-join against the local frame
                fetched = source.where(F.col(id_col).isin(uniq))
            else:
                fetched = source.join(
                    F.broadcast(shortlist.select(id_col)), id_col, "left_semi"
                )
        else:
            fetched = source.join(
                F.broadcast(shortlist.select(id_col)), id_col, "left_semi"
            )
        return (
            fetched
            .withColumn(dist_col, dist_fn(F.col(vec_col).cast("array<double>"), qv))
            .orderBy(F.col(dist_col).asc_nulls_last(), F.col(id_col))
            .limit(int(k))
            .select(id_col, dist_col)
        )


    def knn_join(
        self,
        queries: DataFrame,
        query_vec_col: str,
        k: int,
        query_id_col: str,
        nprobe: int | None = None,
        rerank: int | None = None,
        source: DataFrame | None = None,
        dist_col: str = "dist",
        rn_col: str = "rn",
        broadcast_queries: bool | None = None,
        broadcast_budget_bytes: int = 64 << 20,
    ) -> DataFrame:
        """Batched multi-query IVF×SQ top-k (r13 — completes the
        family's knn_join matrix; the IvfIndex.knn_join shape with the
        SQ codec in the scoring seat): each query explodes to its
        ``nprobe`` probe lists, an equi-join on ``list_id`` routes it
        to exactly those SQ-coded candidates (shuffle ∝ queries·nprobe
        + probed lists, never queries × rows), the asymmetric SQ-ADC
        distance (raw query vs reconstructed corpus — the sq.py codec,
        bit-reproducible) scores them, and a ``row_number ≤ k`` window
        merges. Optional exact re-rank late-materializes the top
        ``rerank`` candidates per query against ``source``."""
        from duckdb_vss_spark.functions.distance import distance_for_metric
        from duckdb_vss_spark.index.ivf import _fits_broadcast, _norm_rows
        from duckdb_vss_spark.index.sq import sq_reconstruct

        import pandas as pd
        from pyspark.sql import Window
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, IntegerType

        nprobe = int(nprobe or self.manifest["default_nprobe"])
        id_col = self.manifest["id_col"]
        metric = self.manifest["metric"]
        c = self._centroids
        c_sq = (c**2).sum(axis=1)
        npr = nprobe

        def _probe(v):
            mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
            mat = _norm_rows(mat, metric)
            dist = (mat**2).sum(axis=1, keepdims=True) + c_sq - 2.0 * mat @ c.T
            order = np.argsort(dist, axis=1, kind="stable")[:, :npr]
            return pd.Series(list(order.astype(np.int32)))

        probe_lists = pandas_udf(_probe, ArrayType(IntegerType()))
        probed = queries.where(F.col(query_vec_col).isNotNull()).withColumn(
            "list_id", F.explode(probe_lists(F.col(query_vec_col)))
        )
        if broadcast_queries is None:
            broadcast_queries = _fits_broadcast(
                queries, nprobe, broadcast_budget_bytes
            )
        probed_side = F.broadcast(probed) if broadcast_queries else probed
        recon = sq_reconstruct(F.col("codes"), self._mins, self._maxs)
        dist_fn = distance_for_metric(metric)
        scored = (
            self._lists_df()
            .join(probed_side, on="list_id", how="inner")
            .withColumn(
                dist_col,
                dist_fn(recon, F.col(query_vec_col).cast("array<double>")),
            )
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.col(dist_col).asc_nulls_last(), F.col(id_col)
        )
        take = int(rerank) if rerank else int(k)
        cand = (
            scored.withColumn(rn_col, F.row_number().over(w))
            .where(F.col(rn_col) <= take)
            .drop("codes", "list_id")
        )
        if not rerank:
            return cand.drop(query_vec_col)
        if source is None:
            raise ValueError(
                "rerank requires the source DataFrame with original vectors"
            )
        vec_col = self.manifest["vec_col"]
        qvecs = queries.select(
            query_id_col, F.col(query_vec_col).alias("_qvec")
        ).where(F.col("_qvec").isNotNull())
        w2 = Window.partitionBy(query_id_col).orderBy(
            F.col(dist_col).asc_nulls_last(), F.col(id_col)
        )
        return (
            source.join(cand.select(query_id_col, id_col), id_col)
            .join(qvecs, query_id_col)
            .withColumn(
                dist_col,
                dist_fn(
                    F.col(vec_col).cast("array<double>"),
                    F.col("_qvec").cast("array<double>"),
                ),
            )
            .withColumn(rn_col, F.row_number().over(w2))
            .where(F.col(rn_col) <= int(k))
            .drop(vec_col, "_qvec")
        )

    def add_batch(
        self, df: DataFrame, manifest_extra: dict | None = None
    ) -> "IvfSqIndex":
        """Offline incremental maintenance (r12 — the IVF×SQ face of the
        add_batch family): assign to the FROZEN centroids and SQ-encode
        with the FROZEN per-dim bounds in one map-only stage, hive-append
        into ``lists/``, atomically bump the manifest count. Frozen-codec
        caveat specific to SQ: batch values OUTSIDE the trained min/max
        range clamp to the range edge (larger reconstruction error for
        those dims) — fine for appends from the same distribution;
        rebuild when the distribution shifts. Appended ids are not
        deduplicated (the reference's Insert appends too). Empty batch:
        no-op (ADVICE r12, family-consistent). Crash window: commits
        via lists.append_lists — after a crash inside the
        rename→manifest window, rebuild."""
        from duckdb_vss_spark.index.ivf import _batch_count_and_dims
        from duckdb_vss_spark.index.manifest import write_manifest
        from duckdb_vss_spark.index.sq import sq_encode

        man = self.manifest
        id_col, vec_col = man["id_col"], man["vec_col"]
        src = df.select(
            F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
        ).where(F.col(vec_col).isNotNull())
        n, dims = _batch_count_and_dims(src, vec_col)
        if n == 0:
            return self
        if dims != man["dimensions"]:
            raise ValueError(
                f"IVF-SQ index keys must be of type FLOAT[{man['dimensions']}] "
                f"(batch has FLOAT[{dims}])"
            )
        moved, counts = append_lists(
            sq_encode(src, vec_col, self._mins, self._maxs),
            os.path.join(self.path, "lists"),
            _assign_batch(self._centroids, man["metric"], vec_col, [id_col, "codes"]),
        )
        from duckdb_vss_spark.index.manifest import record_epoch

        merged = dict(man)
        record_epoch(merged, moved)
        merged["count"] = int(man["count"] + sum(counts.values()))
        merged["updated_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        if manifest_extra:
            # e.g. streaming replay stamps — ride the SAME atomic commit
            merged.update(manifest_extra)
        from duckdb_vss_spark.index import tombstones as _tomb

        old_tomb = _tomb.revive(self, src.select(id_col), merged)
        write_manifest(self.path, merged)
        self.manifest = merged
        if old_tomb:
            shutil.rmtree(os.path.join(self.path, old_tomb), ignore_errors=True)
        return self

    def delete_batch(
        self, ids, manifest_extra: dict | None = None,
        epoch_lt: int | None = None,
    ) -> "IvfSqIndex":
        """Offline mark-delete (r13 — the IVF×SQ face of the
        delete_batch family; see index/tombstones.py for the shared
        contract, reference src/hnsw/hnsw_index.cpp:466-482):
        tombstone the ids, O(|ids|), no list rewrite. The probed
        SQ-ADC scan filters the tombstones; ``count`` reports live
        rows; ``add_batch`` of a tombstoned id revives it;
        ``compact()`` reclaims physically."""
        from duckdb_vss_spark.index import tombstones as _tomb

        return _tomb.mark_delete(
            self, ids, self._lists_df(), manifest_extra, epoch_lt=epoch_lt
        )

    def compact(self) -> "IvfSqIndex":
        """Physically drop tombstoned rows and re-pack each list's
        accumulated add_batch part files into one file (the
        reference's compaction-after-DML contract,
        hnsw_index_pragmas.cpp:154-190). Self-contained — the SQ lists
        hold everything the shortlist scan serves from."""
        from duckdb_vss_spark.index import tombstones as _tomb

        counts = compact_lists(self, "lists")
        if counts is None:
            return self  # nothing to reclaim or coalesce (review r13)
        _tomb.finish_compact(self, new_count=sum(counts.values()))
        return self


# mtime-keyed LRU of decoded SQ code files for repeated single-query
# searches on gate-small artifacts
_SQ_CODES_CACHE = FileLRU(32)


def _load_sq_codes(file: str, id_col: str, dims: int):
    """(ids, uint8 (n, dims) code matrix) for one inverted-list data
    file, or None when the stored shape cannot take the driver fold
    (see ivf._read_fixed_width)."""

    def read(path):
        got = _read_fixed_width(path, id_col, "codes", dims)
        if got is None:
            return None
        ids, vals = got
        return ids, vals.astype(np.uint8).reshape(len(ids), dims)

    return _SQ_CODES_CACHE.get(file, read)


def _replay_sq_distance(
    metric: str,
    codes: np.ndarray,
    mins: np.ndarray,
    maxs: np.ndarray,
    q: np.ndarray,
) -> np.ndarray:
    """``dist_fn(sq_reconstruct(codes), qv)`` replayed in the generated
    Column tree's exact per-element op and association order (the
    ivf._replay_distance discipline with the SQ codec inlined): each
    dimension reconstructs as ``mn[b] + (code/255.0)·(mx[b]−mn[b])`` —
    division first, then the scale multiply, then the offset add, all
    IEEE double — and feeds the same 0.0-seeded sequential left fold.
    l2sq only — the only metric create_ivfsq_index accepts (v1); any
    other value returns None and the caller keeps the distributed scan
    rather than carrying an unexercisable replay branch. Bit-identity
    pinned by tests/test_quantized_driver_search."""
    if metric != "l2sq":
        return None
    n = codes.shape[0]
    dims = codes.shape[1]
    # array_distance = sqrt(Σseq (recon − q)²)
    acc = np.zeros(n)
    for b in range(dims):
        r = mins[b] + (codes[:, b].astype(np.float64) / 255.0) * (
            maxs[b] - mins[b]
        )
        d = r - q[b]
        acc = acc + d * d
    return np.sqrt(acc)


def _driver_sq_shortlist(index, q, probes, take: int):
    """SQ-ADC top-``take`` over the PROBED lists, on the driver
    (driver.driver_topk), scored by ``_replay_sq_distance``. The
    per-dimension float64 reconstruction temporaries dominate; the gate
    counts the WHOLE artifact so whether the route fires does not
    depend on the probes."""
    man = index.manifest
    if man["metric"] != "l2sq":  # the replay covers v1's only metric
        return None
    dims = int(man["dimensions"])
    qv = np.asarray([float(x) for x in q], dtype=np.float64)
    return driver_topk(
        index,
        int(man.get("count", 0)) * dims * 8 * 2,
        take,
        lambda: _probed_files(index.path, probes),
        lambda f: _load_sq_codes(f, man["id_col"], dims),
        lambda _f, codes: _replay_sq_distance(
            man["metric"], codes, index._mins, index._maxs, qv
        ),
    )


def create_ivfsq_index(
    spark: SparkSession,
    df: DataFrame,
    vec_col: str,
    id_col: str,
    path: str,
    name: str = "ivfsq_idx",
    metric: str = "l2sq",
    nlist: int | None = None,
    default_nprobe: int | None = None,
    sample_per_list: int = 256,
    kmeans_iters: int = 10,
    seed: int = 42,
    overwrite: bool = False,
) -> IvfSqIndex:
    """Bulk build: sampled-k-means routing (ivf.py machinery) + exact
    SQ bounds + map-only encode + one list write of (id, codes). The
    old artifact at ``path`` is removed only once training succeeded."""
    if metric != "l2sq":
        raise ValueError("IVF-SQ v1 supports metric='l2sq' only")
    from duckdb_vss_spark.index.ivf import (
        _calibrate_nprobe,
        _count_and_dims,
        _kmeans,
        _sample_matrix,
    )
    from duckdb_vss_spark.index.sq import sq_encode, train_sq
    from duckdb_vss_spark.session import check_persistence_enabled

    check_persistence_enabled(spark)
    if os.path.exists(path) and not overwrite:
        raise ValueError(f"index path {path!r} exists (use overwrite=True)")
    src = df.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).where(F.col(vec_col).isNotNull())
    total, dims = _count_and_dims(src, vec_col, "an IVF-SQ index")
    if nlist is None:
        nlist = max(2, min(4096, int(math.isqrt(total))))
    nlist = int(min(nlist, total))

    want = nlist * sample_per_list
    sample = _sample_matrix(src, vec_col, min(1.0, want / total), want, seed)
    centroids = _kmeans(sample, nlist, kmeans_iters, seed)
    if default_nprobe is None:
        default_nprobe = _calibrate_nprobe(sample, centroids, "l2sq")
        _LOG.info(
            "ivfsq: calibrated default_nprobe=%d/%d (routing recall>=0.9 "
            "on the training sample)", default_nprobe, nlist,
        )

    mins, maxs = train_sq(src, vec_col)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    write_lists(
        sq_encode(src, vec_col, mins, maxs),
        os.path.join(path, "lists"),
        path,
        _assign_batch(centroids, "l2sq", vec_col, [id_col, "codes"]),
    )
    manifest = {
        "name": name,
        "metric": metric,
        "dimensions": dims,
        "nlist": nlist,
        "default_nprobe": default_nprobe,
        "count": total,
        "id_col": id_col,
        "vec_col": vec_col,
        "centroids": [[float(x) for x in c] for c in centroids],
        "sq_mins": [float(x) for x in mins],
        "sq_maxs": [float(x) for x in maxs],
    }
    from duckdb_vss_spark.index.manifest import write_manifest

    write_manifest(path, manifest)
    return IvfSqIndex(spark, path, manifest)


def load_ivfsq_index(spark: SparkSession, path: str) -> IvfSqIndex:
    with open(os.path.join(path, "manifest.json")) as f:
        return IvfSqIndex(spark, path, json.load(f))


def drop_ivfsq_index(path: str) -> None:
    if os.path.exists(os.path.join(path, "manifest.json")):
        shutil.rmtree(path)

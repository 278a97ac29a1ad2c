"""Seeded input generator and numpy ground truth.

Every input a run uses comes from here: the corpus and the add batches
as parquet files, the query vectors, the delete id sets, and the exact
top-10 answers the checks compare against. The same seed gives the same
bytes. The engine under test only ever sees the parquet files and the
query vectors.

Vectors are a mixture of ``CLUSTERS`` Gaussian clusters with standard
deviation ``SIGMA`` around N(0, 1) centres, so nearest neighbours are
mostly in the query's own cluster and HNSW recall is not trivially 1.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CLUSTERS = 64
SIGMA = 0.35
K = 10
SHORTLIST_SLACK = 32


@dataclass(frozen=True)
class Shape:
    """Input sizes of one workload."""

    n: int  # corpus rows
    dim: int
    lookup_queries: int  # pool the single-query ops cycle through
    join_queries: int = 0  # queries per knn_join op
    rounds: int = 0  # churn rounds
    add_rows: int = 0  # rows per add batch
    delete_rows: int = 0  # ids per delete batch


@dataclass
class Inputs:
    shape: Shape
    corpus_path: str  # vec_id = row number
    lookup: np.ndarray  # (lookup_queries, dim) float32
    lookup_truth: np.ndarray  # (lookup_queries, K) ids over the corpus
    join_path: str | None = None
    join_truth: np.ndarray | None = None
    add_paths: list[str] = field(default_factory=list)
    delete_ids: list[np.ndarray] = field(default_factory=list)
    # churn_truth[r]: (lookup_queries, K) ids over the rows live after round r
    churn_truth: list[np.ndarray] = field(default_factory=list)
    churn_dead: list[frozenset] = field(default_factory=list)


def _mixture(rng: np.random.Generator, centres: np.ndarray, n: int) -> np.ndarray:
    labels = rng.integers(0, len(centres), n)
    noise = rng.standard_normal((n, centres.shape[1]), dtype=np.float32)
    return (centres[labels] + np.float32(SIGMA) * noise).astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, id_col: str, vec_col: str) -> None:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    lists = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat
    )
    table = pa.table({id_col: pa.array(ids, pa.int64()), vec_col: lists})
    pq.write_table(table, path, compression="none", write_statistics=True)


def exact_topk(vecs: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int = K) -> np.ndarray:
    """Exact float64 l2sq top-k ids per query; ties broken by id, the
    same order as the engine's ``ORDER BY dist, id``.

    A matrix product shortlists the ``k + SHORTLIST_SLACK`` nearest rows
    per query; the shortlist is then ranked by the direct sum of squared
    differences. The product's rounding error (~1e-13 here) is far below
    the distance gaps it has to resolve."""
    base = vecs.astype(np.float64)
    qs = queries.astype(np.float64)
    take = min(k + SHORTLIST_SLACK, len(base))
    approx = (base * base).sum(axis=1)[None, :] - 2.0 * (qs @ base.T)
    out = np.empty((len(qs), k), dtype=np.int64)
    for i, q in enumerate(qs):
        short = np.argpartition(approx[i], take - 1)[:take]
        diff = base[short] - q
        dist = np.einsum("ij,ij->i", diff, diff)
        order = np.lexsort((ids[short], dist))
        out[i] = ids[short[order[:k]]]
    return out


def generate(seed: int, shape: Shape, out_dir: str) -> Inputs:
    """Write the workload's files under ``out_dir`` and return the
    in-memory inputs plus ground truth."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((CLUSTERS, shape.dim), dtype=np.float32)
    corpus = _mixture(rng, centres, shape.n)
    ids = np.arange(shape.n, dtype=np.int64)
    corpus_path = os.path.join(out_dir, "corpus.parquet")
    write_vectors(corpus_path, ids, corpus, "vec_id", "embedding")
    lookup = _mixture(rng, centres, shape.lookup_queries)
    inputs = Inputs(
        shape=shape,
        corpus_path=corpus_path,
        lookup=lookup,
        lookup_truth=exact_topk(corpus, ids, lookup),
    )
    if shape.join_queries:
        join = _mixture(rng, centres, shape.join_queries)
        inputs.join_path = os.path.join(out_dir, "join_queries.parquet")
        write_vectors(
            inputs.join_path, np.arange(shape.join_queries, dtype=np.int64), join, "qid", "qvec"
        )
        inputs.join_truth = exact_topk(corpus, ids, join)
    live_ids = ids
    live_vecs = corpus
    dead: set[int] = set()
    next_id = shape.n
    for r in range(shape.rounds):
        add = _mixture(rng, centres, shape.add_rows)
        add_ids = np.arange(next_id, next_id + shape.add_rows, dtype=np.int64)
        next_id += shape.add_rows
        path = os.path.join(out_dir, f"add_{r}.parquet")
        write_vectors(path, add_ids, add, "vec_id", "embedding")
        inputs.add_paths.append(path)
        live_ids = np.concatenate([live_ids, add_ids])
        live_vecs = np.concatenate([live_vecs, add])
        gone = np.sort(rng.choice(live_ids, size=shape.delete_rows, replace=False))
        inputs.delete_ids.append(gone)
        dead.update(int(x) for x in gone)
        keep = ~np.isin(live_ids, gone)
        live_ids, live_vecs = live_ids[keep], live_vecs[keep]
        inputs.churn_truth.append(exact_topk(live_vecs, live_ids, lookup))
        inputs.churn_dead.append(frozenset(dead))
    return inputs

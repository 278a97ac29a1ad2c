"""Property-based tests (hypothesis) for the pure-Python kernels.

The Spark-level operators are pinned against the DuckDB oracle
(tools/check_correctness.py); these cover the Python-side algorithmic
kernels — HNSW graph, k-means, rank-distance math — with generated
inputs, which the reference's sqllogictests never do (SURVEY §5: "no
property-based tests" in the reference; this is our addition).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays

from duckdb_vss_spark.index.hnsw_graph import HNSWGraph, _rank_dist
from duckdb_vss_spark.index.ivf import _kmeans

finite32 = st.floats(
    min_value=-100, max_value=100, allow_nan=False, width=32
)


def vec_sets(min_rows=4, max_rows=64, dim=8):
    return arrays(np.float32, (st.integers(min_rows, max_rows).example() if False else 0, dim))


@st.composite
def matrix(draw, min_rows=4, max_rows=48, dim=6, unique=False):
    n = draw(st.integers(min_rows, max_rows))
    return draw(
        arrays(np.float32, (n, dim), elements=finite32, unique=unique)
    )


@given(matrix())
@settings(max_examples=25, deadline=None)
def test_l2sq_rank_dist_matches_numpy(xs):
    q = xs[0]
    d = _rank_dist("l2sq", q, xs)
    want = ((xs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1)
    assert np.allclose(d, want, rtol=1e-4, atol=1e-3)
    assert d[0] == pytest.approx(0.0, abs=1e-5)  # self-distance


@given(matrix())
@settings(max_examples=25, deadline=None)
def test_ip_rank_dist_is_negative_dot(xs):
    q = xs[0]
    d = _rank_dist("ip", q, xs)
    want = -(xs.astype(np.float64) @ q.astype(np.float64))
    assert np.allclose(d, want, rtol=1e-4, atol=1e-2)


@given(matrix(min_rows=8, max_rows=48, unique=True))
@settings(max_examples=15, deadline=None, derandomize=True)
def test_hnsw_search_exact_when_ef_covers_all(xs):
    """With ef ≥ n and distinct points, the base-layer expansion visits
    the whole connected graph, so top-k must equal brute force exactly
    (the property the reference's with/without-index equality tests rely
    on). Distinctness matters: a column of exact duplicates can prune
    every bridge edge to an outlier — mass-duplicate inputs are exactly
    what the dedup pipeline removes before indexing, and the reference's
    HNSW is approximate there too."""
    n = len(xs)
    keys = np.arange(n, dtype=np.int64) * 10  # non-trivial key mapping
    g = HNSWGraph(xs.shape[1], "l2sq", m=8, ef_construction=64).build(keys, xs)
    q = xs[0]
    k = min(5, n)
    got_keys, _ = g.search(q, k, ef_search=4 * n)
    want_order = np.argsort(
        ((xs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(axis=1), kind="stable"
    )[:k]
    # compare as sets of distances (ties may reorder equal-distance keys)
    got_d = sorted(((xs[got_keys // 10].astype(np.float64) - q) ** 2).sum(axis=1))
    want_d = sorted(((xs[want_order].astype(np.float64) - q) ** 2).sum(axis=1))
    assert np.allclose(got_d, want_d, rtol=1e-5, atol=1e-5)


@given(matrix(min_rows=10, max_rows=40, dim=4), st.integers(2, 5))
@settings(max_examples=15, deadline=None)
def test_kmeans_properties(xs, k):
    c = _kmeans(xs.astype(np.float64), k, iters=5, seed=7)
    assert c.shape == (k, xs.shape[1])
    assert np.isfinite(c).all()
    # determinism
    c2 = _kmeans(xs.astype(np.float64), k, iters=5, seed=7)
    assert np.array_equal(c, c2)


@given(matrix(min_rows=6, max_rows=30))
@settings(max_examples=10, deadline=None)
def test_graph_roundtrip_preserves_search(xs):
    n = len(xs)
    keys = np.arange(n, dtype=np.int64)
    g = HNSWGraph(xs.shape[1], "l2sq", m=4, ef_construction=32).build(keys, xs)
    g2 = HNSWGraph.from_bytes(g.to_bytes())
    q = xs[-1]
    a, da = g.search(q, 3, ef_search=64)
    b, db = g2.search(q, 3, ef_search=64)
    assert np.array_equal(a, b)
    assert np.array_equal(da, db)


def test_incremental_path_matches_bulk_quality():
    """BULK_BLOCK=0 forces the incremental per-row insert path (the
    online-insert code path); require brute-force-exact top-k at
    ef ≥ n, same as the bulk path."""
    rng = np.random.default_rng(3)
    xs = rng.standard_normal((300, 8)).astype(np.float32)
    keys = np.arange(300, dtype=np.int64)

    class Inc(HNSWGraph):
        BULK_BLOCK = 0  # force incremental _insert loop

    g = Inc(8, "l2sq", m=8, ef_construction=64).build(keys, xs)
    q = xs[17]
    got, dist = g.search(q, 10, ef_search=600)
    want = np.argsort(((xs.astype(np.float64) - q) ** 2).sum(axis=1), kind="stable")[:10]
    assert set(got.tolist()) == set(want.tolist())
    # round-trip preserved on the incremental layout too
    g2 = HNSWGraph.from_bytes(g.to_bytes())
    got2, d2 = g2.search(q, 10, ef_search=600)
    assert np.array_equal(got, got2)
    assert np.array_equal(dist, d2)


def test_duplicate_saturated_corpus_stays_navigable():
    """r16: with many exact copies of each vector, the occlusion test's
    strict < never occludes ties, so every copy ranked non-dominated
    and SATURATED the neighbor lists — at multiplicity >= m0 the
    level-0 graph fragmented into per-vector cliques and an exact-match
    query could return a far vector (measured dist 9.59 for a true
    dist-0 answer; hit rate 0/50). Copies beyond the first are now
    deprioritized below every diverse candidate in both select paths,
    keeping duplicate clusters bridged. Dedup-before-index remains the
    prescribed pipeline; this pins graceful degradation, not exactness."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((256, 8)).astype(np.float32)
    xs = np.tile(base, (40, 1))  # multiplicity 40 > m0
    keys = np.arange(len(xs), dtype=np.int64)
    g = HNSWGraph(8, "l2sq", m=16, ef_construction=128).build(keys, xs)
    hits = sum(
        int(g.search(base[q], 5, ef_search=256)[1][0] == 0.0)
        for q in range(256)
    )
    # measured 213/256 (0.83) with the guard vs 0 without; the pin
    # holds a margin below that — residual misses are the SEARCH-side
    # analogue (the ef beam itself saturates with tied copies), which
    # is why dedup-before-index stays the prescription
    assert hits >= 179, hits
    # and a unique corpus keeps brute-force-exact top-k (the guard is a
    # no-op when no pair-distance is exactly 0)
    uq = rng.standard_normal((400, 8)).astype(np.float32)
    gu = HNSWGraph(8, "l2sq", m=8, ef_construction=64).build(
        np.arange(400, dtype=np.int64), uq
    )
    q = uq[13]
    got, _ = gu.search(q, 10, ef_search=500)
    want = np.argsort(((uq.astype(np.float64) - q) ** 2).sum(axis=1), kind="stable")[:10]
    assert set(got.tolist()) == set(want.tolist())


def test_duplicate_guard_is_metric_aware():
    """Review r16: the first-cut guard tested P == 0 for every metric.
    Under cosine an exact float32 copy ranks at ±1 ulp (never exactly
    0) so the guard silently no-opped; under ip the rank −a·b is 0 for
    ORTHOGONAL pairs, so maximally-diverse candidates would have been
    demoted as copies. Cosine duplicate corpora must now stay
    navigable, and an ip graph over mutually-orthogonal (one-hot)
    vectors must keep brute-force-exact results (guard OFF for ip)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((128, 8)).astype(np.float32)
    xs = np.tile(base, (40, 1))
    g = HNSWGraph(8, "cosine", m=16, ef_construction=128).build(
        np.arange(len(xs), dtype=np.int64), xs
    )
    hits = sum(
        int(abs(g.search(base[q], 5, ef_search=256)[1][0]) < 1e-6)
        for q in range(128)
    )
    assert hits >= 77, hits  # measured 0.72+ at this shape pre-margin; was ~0 unguarded
    # ip over one-hot vectors: every pair rank is exactly 0 (orthogonal)
    # — with the guard wrongly ON they'd all demote; require exact top-k
    eye = np.eye(8, dtype=np.float32) * np.arange(1, 9, dtype=np.float32)[:, None]
    gi = HNSWGraph(8, "ip", m=4, ef_construction=32).build(
        np.arange(8, dtype=np.int64), eye
    )
    q = np.ones(8, dtype=np.float32)
    got, _ = gi.search(q, 3, ef_search=64)
    want = np.argsort(-(eye.astype(np.float64) @ q), kind="stable")[:3]
    assert set(got.tolist()) == set(want.tolist())

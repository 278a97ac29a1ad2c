"""The shared driver-side shortlist route (index/driver.py).

Every fallback gate of ``driver_topk`` is driven to both of its
branches once per family: the byte budget, the shortlist cap and the
unreadable-tombstones sentinel. Each None must leave the distributed
scan in the plan; each firing must leave the driver-resolved plan. The
budget reader must refuse a value it cannot parse, and the shared
mtime-keyed LRU must keep its bound, its recency order and its
reload-on-rewrite rule."""

import contextlib
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

import duckdb_vss_spark.index.bq as bqmod
import duckdb_vss_spark.index.ivf as ivfmod
import duckdb_vss_spark.index.ivfpq as ivfpqmod
import duckdb_vss_spark.index.ivfsq as ivfsqmod
import duckdb_vss_spark.index.pq as pqmod
from duckdb_vss_spark.index import artifact, driver, tombstones
from duckdb_vss_spark.index.driver import FileLRU

GATE = "spark.vss.driver_probe_max_bytes"


@contextlib.contextmanager
def conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture(scope="module")
def emb(spark):
    """500 seeded 64-d vectors around 8 cluster centres."""
    rng = np.random.default_rng(7)
    centres = rng.standard_normal((8, 64))
    vecs = centres[rng.integers(0, 8, 500)] + 0.3 * rng.standard_normal((500, 64))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


@pytest.fixture(scope="module")
def qv(emb):
    return [float(x) for x in emb.where(F.col("vec_id") == 11).first()["embedding"]]


# family -> (build, search, marker of the driver-resolved plan). The
# driver-resolved candidate stage is a LocalTableScan; IVF keeps its
# probed scan and narrows it to a literal id In-filter instead.
FAMILIES = {
    "pq": (
        lambda s, df, p: pqmod.create_pq_index(s, df, "embedding", "vec_id", p),
        lambda ix, q: ix.knn_search(q, 10, rerank=0),
        "LocalTableScan",
    ),
    "ivfpq": (
        lambda s, df, p: ivfpqmod.create_ivfpq_index(s, df, "embedding", "vec_id", p),
        lambda ix, q: ix.knn_search(q, 10, nprobe=2, rerank=0),
        "LocalTableScan",
    ),
    "ivf": (
        lambda s, df, p: ivfmod.create_ivf_index(
            s, df, "embedding", "vec_id", p, nlist=8
        ),
        lambda ix, q: ix.knn_search(q, 10, nprobe=2),
        "In(vec_id",
    ),
    "ivfsq": (
        lambda s, df, p: ivfsqmod.create_ivfsq_index(
            s, df, "embedding", "vec_id", p, nlist=8
        ),
        lambda ix, q: ix.knn_search(q, 10, nprobe=2),
        "LocalTableScan",
    ),
    "bq_hamming": (
        lambda s, df, p: bqmod.create_bq_index(
            s, df, "embedding", "vec_id", p, scoring="hamming"
        ),
        lambda ix, q: ix.knn_search(q, 10, rescore=0),
        "LocalTableScan",
    ),
    "bq_asym": (
        lambda s, df, p: bqmod.create_bq_index(
            s, df, "embedding", "vec_id", p, scoring="asym"
        ),
        lambda ix, q: ix.knn_search(q, 10, rescore=0),
        "LocalTableScan",
    ),
}


@pytest.fixture
def topk_calls(monkeypatch):
    """Records (est_bytes, take, result) of every driver_topk call the
    family modules make."""
    calls = []
    real = driver.driver_topk

    def spy(index, est_bytes, take, files, load, score):
        out = real(index, est_bytes, take, files, load, score)
        calls.append((est_bytes, take, out))
        return out

    for mod in (pqmod, ivfpqmod, ivfmod, ivfsqmod, bqmod):
        monkeypatch.setattr(mod, "driver_topk", spy)
    return calls


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_every_fallback_gate_takes_both_branches(
    spark, emb, qv, tmp_path, monkeypatch, topk_calls, family
):
    build, search, marker = FAMILIES[family]
    ix = build(spark, emb, str(tmp_path / family))

    def route():
        plan = _plan(search(ix, qv))
        _est, _take, out = topk_calls[-1]
        if out is None:
            assert marker not in plan and "Scan parquet" in plan, plan
            return "distributed"
        assert marker in plan and "ArrowEvalPython" not in plan, plan
        return "driver"

    # default budget: the driver branch, with a nonempty shortlist
    assert route() == "driver"
    est, take, out = topk_calls[-1]
    assert out and est > 0
    # byte budget: exactly the family's estimate fires, a nonzero
    # budget one byte below it falls back
    with conf(spark, GATE, str(est)):
        assert route() == "driver"
    with conf(spark, GATE, str(est - 1)):
        assert route() == "distributed"
    # shortlist cap: take at the cap fires, take over it falls back
    monkeypatch.setattr(driver, "_MAX_DRIVER_SHORTLIST", take)
    assert route() == "driver"
    monkeypatch.setattr(driver, "_MAX_DRIVER_SHORTLIST", take - 1)
    assert route() == "distributed"
    monkeypatch.setattr(driver, "_MAX_DRIVER_SHORTLIST", 65_536)
    # tombstones the driver cannot read keep the distributed scan
    monkeypatch.setattr(
        tombstones, "dead_mask_payload_local", lambda index: tombstones.UNREADABLE
    )
    assert route() == "distributed"


def test_driver_probe_budget_rejects_unparseable_value(spark, emb, qv, tmp_path):
    """``64m`` used to mean the 256 MB default, silently."""
    assert driver.driver_probe_budget(spark) == 256 << 20
    pq = pqmod.create_pq_index(spark, emb, "embedding", "vec_id", str(tmp_path / "pq"))
    hnsw = artifact.create_hnsw_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "hnsw")
    )
    with conf(spark, GATE, "64m"):
        with pytest.raises(ValueError, match=rf"{GATE}.*'64m'"):
            pq.knn_search(qv, 10, rerank=0)
        with pytest.raises(ValueError, match=rf"{GATE}.*'64m'"):
            hnsw.knn_search(emb, qv, 10)
    with conf(spark, GATE, "0"):
        assert "LocalTableScan" not in _plan(pq.knn_search(qv, 10, rerank=0))


def test_neardup_budget_rejects_unparseable_value(spark, emb):
    from duckdb_vss_spark.pipeline.dedup import embedding_neardup_pairs

    key = "spark.vss.neardup_broadcast_max_bytes"
    with conf(spark, key, "64m"):
        with pytest.raises(ValueError, match=rf"{key}.*'64m'"):
            embedding_neardup_pairs(emb, "embedding", "vec_id", threshold=0.3)


def test_file_lru_bound_recency_and_reload(tmp_path):
    paths = []
    for name in "abc":
        p = tmp_path / name
        p.write_text(name)
        paths.append(str(p))
    a, b, c = paths
    loads = []

    def load(path):
        loads.append(path)
        with open(path) as f:
            return f.read()

    cache = FileLRU(2)
    assert cache.get(a, load) == "a" and cache.get(b, load) == "b"
    # a hit loads nothing and moves the entry to most-recent ...
    assert cache.get(a, load) == "a"
    assert loads == [a, b]
    assert [k[0] for k in cache] == [b, a]
    # ... so the next miss evicts b, the least recently used
    assert cache.get(c, load) == "c"
    assert [k[0] for k in cache] == [a, c]
    # a rewritten file reloads and its stale key is dropped
    old_key = next(k for k in cache if k[0] == a)
    with open(a, "w") as f:
        f.write("a2")
    mtime = old_key[1] + 10
    os.utime(a, (mtime, mtime))
    assert cache.get(a, load) == "a2"
    assert loads == [a, b, c, a]
    assert [k for k in cache if k[0] == a] == [(a, os.path.getmtime(a))]
    assert old_key not in list(cache)
    assert len(list(cache)) == 2


def test_family_caches_keep_their_bounds():
    assert pqmod._CODES_CACHE.maxsize == 8
    assert ivfmod._VECS_CACHE.maxsize == 32
    assert ivfsqmod._SQ_CODES_CACHE.maxsize == 32
    assert bqmod._SIGS_CACHE.maxsize == 8
    assert artifact._GRAPH_CACHE.maxsize == 32

"""Scalar quantization (index/sq.py)."""

import numpy as np
from pyspark.sql import functions as F

from duckdb_vss_spark.index import sq_encode, sq_knn, sq_reconstruct, train_sq

SF = "/root/testdata/sf0.001"


def test_sq_roundtrip_error_bound(spark):
    from duckdb_vss_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    mins, maxs = train_sq(emb, "embedding")
    enc = sq_encode(emb, "embedding", mins, maxs)
    rows = (
        enc.select(
            F.col("embedding").cast("array<double>").alias("v"),
            sq_reconstruct(F.col("codes"), mins, maxs).alias("r"),
            "codes",
        )
        .limit(200)
        .collect()
    )
    step = (maxs - mins) / 255.0
    for row in rows:
        v, r = np.asarray(row["v"]), np.asarray(row["r"])
        assert all(0 <= c <= 255 for c in row["codes"])
        # reconstruction error <= half a quantization step per dim
        assert np.all(np.abs(v - r) <= step / 2 + 1e-12)


def test_sq_knn_close_to_exact(spark):
    from duckdb_vss_spark.functions.distance import array_distance
    from duckdb_vss_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    q = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    approx = [r["vec_id"] for r in sq_knn(emb, "embedding", "vec_id", q, 10).collect()]
    qlit = F.from_json(
        F.lit("[" + ",".join(repr(x) for x in q) + "]"), "array<double>"
    )
    exact = [
        r["vec_id"]
        for r in emb.where(F.col("embedding").isNotNull())
        .select("vec_id", array_distance(F.col("embedding").cast("array<double>"), qlit).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    # 8-bit quantization on 64 dims: near-perfect top-10 agreement;
    # the query itself (vec_id=3) must rank first in both
    assert approx[0] == exact[0] == 3
    assert len(set(approx) & set(exact)) >= 8


def test_random_projection_preserves_distances_jl(spark):
    """JL property: 64->16 projection roughly preserves pairwise
    squared distances (within a loose factor), and the projection is
    partitioning-invariant bit-for-bit."""
    from duckdb_vss_spark.pipeline.corpus import random_projection
    from duckdb_vss_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings").limit(50)
    out = random_projection(emb, "embedding", 16, seed=9)
    rows = out.select("vec_id", F.col("embedding").cast("array<double>").alias("v"), "proj").collect()
    V = np.asarray([r["v"] for r in rows])
    P = np.asarray([r["proj"] for r in rows])
    dv = ((V[:, None, :] - V[None, :, :]) ** 2).sum(-1)
    dp = ((P[:, None, :] - P[None, :, :]) ** 2).sum(-1)
    iu = np.triu_indices(len(rows), 1)
    ratio = dp[iu] / np.maximum(dv[iu], 1e-12)
    # E[ratio] = 1; m=16 gives loose concentration — check the bulk
    assert 0.8 < np.median(ratio) < 1.25
    assert np.all(ratio > 0.15) and np.all(ratio < 4.0)
    # bit-identical under repartitioning
    out2 = {r["vec_id"]: r["proj"] for r in
            random_projection(emb.repartition(7), "embedding", 16, seed=9).collect()}
    for r in rows:
        assert out2[r["vec_id"]] == list(P[[x["vec_id"] for x in rows].index(r["vec_id"])])


def test_ivfsq_partition_pruning_and_rerank_exact(spark, tmp_path):
    """The IVF-SQ scan must prove partition pruning in the plan, store
    no raw vectors in the lists, and the full-probe + rerank path must
    equal exact brute force."""
    from duckdb_vss_spark.functions.distance import array_distance
    from duckdb_vss_spark.index import create_ivfsq_index
    from duckdb_vss_spark.sources import load_table

    spark.conf.set("spark.vss.enable_experimental_persistence", "true")
    emb = load_table(spark, SF, "embeddings")
    idx = create_ivfsq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "ivfsq"),
        nlist=4, overwrite=True,
    )
    lists = spark.read.parquet(str(tmp_path / "ivfsq" / "lists"))
    assert set(lists.columns) == {"vec_id", "codes", "list_id"}  # no raw vecs
    q = [float(x) for x in emb.where(F.col("vec_id") == 5).first()["embedding"]]
    # Force the DISTRIBUTED path — gate-small artifacts default to the
    # r16 driver-resolved shortlist (test_quantized_driver_search pins
    # that route); this pin's subject is the 100 TB plan
    spark.conf.set("spark.vss.driver_probe_max_bytes", "0")
    try:
        pruned = idx.knn_search(q, 5, nprobe=2)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.vss.driver_probe_max_bytes")
    assert "PartitionFilters" in plan and "list_id" in plan
    # full probe + rerank == exact brute force
    got = [
        r["vec_id"]
        for r in idx.knn_search(
            q, 10, nprobe=idx.nlist, rerank=emb.count(),
            source=emb.select("vec_id", "embedding"),
        ).collect()
    ]
    qlit = F.from_json(
        F.lit("[" + ",".join(repr(x) for x in q) + "]"), "array<double>"
    )
    exact = [
        r["vec_id"]
        for r in emb.where(F.col("embedding").isNotNull())
        .select("vec_id", array_distance(F.col("embedding").cast("array<double>"), qlit).alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    ]
    assert got == exact


def test_ivfsq_add_batch_appends_and_rerank_exact(spark, tmp_path):
    """r12: IVF-SQ add_batch assigns to frozen centroids and encodes
    with frozen SQ bounds; all-probe + source re-rank over the merged
    index is exact vs brute force, count/persistence updated."""
    from pyspark.sql import functions as F

    from duckdb_vss_spark.index.ivfsq import create_ivfsq_index, load_ivfsq_index
    from duckdb_vss_spark.operators.topk import knn_search

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").where(
        F.col("embedding").isNotNull()
    )
    h1 = emb.where(F.col("vec_id") % 2 == 0)
    h2 = emb.where(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivfsq_ab")
    ix = create_ivfsq_index(spark, h1, "embedding", "vec_id", path)
    cents = ix.manifest["centroids"]
    bounds = (ix.manifest["sq_mins"], ix.manifest["sq_maxs"])
    ix = ix.add_batch(h2)
    assert ix.manifest["centroids"] == cents  # frozen routing
    assert (ix.manifest["sq_mins"], ix.manifest["sq_maxs"]) == bounds  # frozen codec
    assert ix.manifest["count"] == emb.count()
    qv = [float(x) for x in emb.where(F.col("vec_id") == 29).first()["embedding"]]
    got = [
        r["vec_id"]
        for r in ix.knn_search(
            qv, 10, nprobe=ix.nlist, rerank=ix.manifest["count"],
            source=emb.select("vec_id", "embedding"),
        ).collect()
    ]
    want = [r["vec_id"] for r in knn_search(emb, "embedding", qv, 10).collect()]
    assert got == want
    assert load_ivfsq_index(spark, path).manifest["count"] == emb.count()


def test_ivfsq_knn_join_exact_and_pruned(spark, tmp_path):
    """r13 knn_join for IVF×SQ: full probes + full-width rerank match
    brute force per query; partial probes keep routing recall
    reasonable; the list_id equi-join never goes queries × rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_vss_spark.index.ivfsq import create_ivfsq_index
    from duckdb_vss_spark.operators import knn_search

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .where(F.col("embedding").isNotNull())
        .cache()
    )
    qs = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    truth = {}
    for r in qs.collect():
        truth[r["qid"]] = [
            x["vec_id"]
            for x in knn_search(emb, "embedding", [float(v) for v in r["qv"]], 5).collect()
        ]
    ix = create_ivfsq_index(
        spark, emb, "embedding", "vec_id", str(tmp_path / "sqj")
    )
    out = ix.knn_join(qs, "qv", 5, "qid", nprobe=ix.nlist, rerank=ix.count, source=emb)
    got = {}
    for r in out.orderBy("qid", "rn").collect():
        got.setdefault(r["qid"], []).append(r["vec_id"])
    assert got == truth
    # calibrated default probes, no rerank: routing recall stays sane
    out2 = ix.knn_join(qs, "qv", 5, "qid")
    got2 = {}
    for r in out2.collect():
        got2.setdefault(r["qid"], []).append(r["vec_id"])
    hits = sum(len(set(got2.get(q, [])) & set(t)) for q, t in truth.items())
    assert hits / (5 * len(truth)) >= 0.6


def test_ivfsq_overwrite_keeps_old_index_when_build_fails(spark, tmp_path):
    """create_ivfsq_index trains before it touches ``path``: an
    overwrite over an all-NULL source raises and the existing index is
    still there and loadable."""
    import pytest

    from duckdb_vss_spark.index import create_ivfsq_index, load_ivfsq_index

    spark.conf.set("spark.vss.enable_experimental_persistence", "true")
    path = str(tmp_path / "ivfsq")
    good = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(40)], "id long, v array<float>"
    )
    create_ivfsq_index(spark, good, "v", "id", path, nlist=2)
    nulls = spark.createDataFrame([(1, None), (2, None)], "id long, v array<float>")
    with pytest.raises(ValueError, match="empty vector column"):
        create_ivfsq_index(spark, nulls, "v", "id", path, nlist=2, overwrite=True)
    assert load_ivfsq_index(spark, path).count == 40


def test_drop_ivfsq_index_requires_manifest(tmp_path):
    """drop_ivfsq_index removes an artifact, never a directory without
    ``manifest.json`` (the rule of every other family's drop)."""
    from duckdb_vss_spark.index import drop_ivfsq_index

    other = tmp_path / "not_an_index"
    other.mkdir()
    (other / "data.txt").write_text("keep")
    drop_ivfsq_index(str(other))
    assert (other / "data.txt").read_text() == "keep"
    art = tmp_path / "ix"
    art.mkdir()
    (art / "manifest.json").write_text("{}")
    drop_ivfsq_index(str(art))
    assert not art.exists()

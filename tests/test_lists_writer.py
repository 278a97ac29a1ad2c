"""The inverted-list writer (index/lists.py) behind IVF, IVF×SQ and
IVFADC builds, appends and compactions: the layout it writes, the
counts it reports, and its commit protocol."""

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from duckdb_vss_spark.index import lists as L
from duckdb_vss_spark.index.ivf import _assign_rows
from duckdb_vss_spark.index.ivfpq import _assign_encode
from duckdb_vss_spark.index.pq import _list_parquet_files


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    """1,200 × 8 float vectors in three source files (three writer
    tasks), read back from parquet like a table."""
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(1200)]
    p = str(tmp_path_factory.mktemp("lists_src") / "vecs.parquet")
    spark.createDataFrame(rows, "vid long, v array<float>").repartition(3).write.parquet(p)
    return spark.read.parquet(p)


def _build(spark, family, src, path):
    from duckdb_vss_spark.index import (
        create_ivf_index,
        create_ivfpq_index,
        create_ivfsq_index,
    )

    if family == "ivf":
        return create_ivf_index(
            spark, src, "v", "vid", path, nlist=6, driver_build_max_bytes=0
        )
    if family == "ivfsq":
        return create_ivfsq_index(spark, src, "v", "vid", path, nlist=6)
    return create_ivfpq_index(
        spark, src, "v", "vid", path, nlist=6, m=4, ksub=8, driver_build_max_bytes=0
    )


def _reference_layout(spark, family, index, src, out):
    """The layout as Spark's dynamic-partition writer produced it before
    the list writer: the same assignment kernel in a pandas UDF, then
    ``write.partitionBy("list_id")``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType, IntegerType

    cents, metric = index._centroids, index.manifest["metric"]

    def mat(v):
        return np.stack([np.asarray(x, dtype=np.float64) for x in v])

    @pandas_udf(IntegerType())
    def assign(v):
        return pd.Series(_assign_rows(mat(v), cents, metric))

    if family == "ivf":
        df = src.select("vid", "v")
    elif family == "ivfsq":
        from duckdb_vss_spark.index.sq import sq_encode

        df = sq_encode(src, "v", index._mins, index._maxs).select("vid", "v", "codes")
    else:
        books = index._books

        @pandas_udf(BinaryType())
        def encode(v):
            _lids, codes = _assign_encode(mat(v), cents, books, metric)
            return pd.Series([c.tobytes() for c in codes])

        df = src.select("vid", "v").withColumn("pq_code", encode("v"))
    df = df.withColumn("list_id", assign("v"))
    if family != "ivf":
        df = df.drop("v")
    df.write.partitionBy("list_id").parquet(out)


def _payload(row, family):
    if family == "ivf":
        return tuple(row["v"])
    if family == "ivfsq":
        return tuple(row["codes"])
    return bytes(row["pq_code"])


def _multisets(spark, d, family):
    return Counter(
        (r["list_id"], r["vid"], _payload(r, family))
        for r in spark.read.parquet(d).collect()
    )


@pytest.mark.parametrize("family", ["ivf", "ivfsq", "ivfpq"])
def test_layout_equals_partitionby_layout(spark, src, tmp_path, family):
    """Per-list (id, payload) multisets and the read-back schema equal
    the partitionBy(list_id) layout; the manifest counts equal a Spark
    recount; every data file is a reported part file."""
    index = _build(spark, family, src, str(tmp_path / "ix"))
    data = os.path.join(index.path, "codes" if family == "ivfpq" else "lists")
    ref = str(tmp_path / "ref")
    _reference_layout(spark, family, index, src, ref)
    assert _multisets(spark, data, family) == _multisets(spark, ref, family)
    assert spark.read.parquet(data).schema == spark.read.parquet(ref).schema
    recount = {
        r["list_id"]: r["n"]
        for r in spark.read.parquet(data).groupBy("list_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert index.manifest["count"] == sum(recount.values()) == 1200
    if family == "ivf":
        assert {p["list_id"]: p["count"] for p in index.manifest["lists"]} == {
            lid: recount.get(lid, 0) for lid in range(6)
        }
    names = sorted(
        nm for _r, _d, files in os.walk(index.path) for nm in files
        if not nm.startswith(".") and not nm.endswith(".crc")
    )
    assert "manifest.json" in names
    assert all(
        nm == "manifest.json" or (nm.startswith("part-") and nm.endswith(".parquet"))
        for nm in names
    )
    assert not os.path.exists(os.path.join(index.path, L._TASKS))


def test_reported_counts_equal_spark_recount(spark, src, tmp_path):
    """Executor form: the (list_id, rows) reports of three tasks, summed
    per list, equal a recount of what landed on disk."""
    df = src.withColumn("list_id", (F.col("vid") % 5).cast("int"))
    data = str(tmp_path / "lists")
    moved, counts = L.write_lists(df, data, str(tmp_path))
    recount = {
        r["list_id"]: r["count"]
        for r in spark.read.parquet(data).groupBy("list_id").count().collect()
    }
    assert counts == recount == {i: 240 for i in range(5)}
    assert sorted(moved) == sorted(
        os.path.join(data, f"list_id={i}", nm)
        for i in range(5)
        for nm in os.listdir(os.path.join(data, f"list_id={i}"))
    )


def test_flush_bound_writes_one_file_per_list_per_flush(tmp_path, monkeypatch):
    """Driver form through the pure function: past the byte bound a task
    flushes, one file per list present; rows of a list keep input order
    and the payload keeps its Arrow types."""
    monkeypatch.setattr(L, "_FLUSH_BYTES", 1)
    batches = [
        pa.RecordBatch.from_pydict(
            {
                "id": pa.array([10 * b + i for i in range(4)], pa.int64()),
                "v": pa.array([[float(i)] * 3 for i in range(4)], pa.list_(pa.float32())),
                "list_id": pa.array([i % 2 for i in range(4)], pa.int32()),
            }
        )
        for b in range(3)
    ]
    reports = L.write_list_batches(batches, str(tmp_path), 7, "w1")
    assert [(lid, rows) for lid, _f, rows in reports] == [(0, 2), (1, 2)] * 3
    names = [os.path.basename(f) for _l, f, _r in reports]
    assert len(set(names)) == 6
    assert all(n.startswith("part-00007-") and n.endswith("-w1.parquet") for n in names)
    import pyarrow.parquet as papq

    t = papq.read_table(reports[2][1])
    assert t.schema.field("v").type.value_type == pa.float32()
    assert "list_id" not in t.schema.names
    assert t.column("id").to_pylist() == [10, 12]


def test_temp_names_never_match_list_files(tmp_path, monkeypatch):
    """Every path the writer writes a parquet body to is a temp name
    the file listings skip; only the renamed file is listed."""
    import pyarrow.parquet as papq

    written = []
    real = papq.write_table

    def spy(table, where, **kw):
        written.append(where)
        # a crash right after the body is written leaves the temp file
        real(table, where, **kw)
        listed = _list_parquet_files(os.path.dirname(where))
        assert where not in listed

    monkeypatch.setattr(papq, "write_table", spy)
    batch = pa.RecordBatch.from_pydict(
        {"id": pa.array([1, 2, 3], pa.int64()), "list_id": pa.array([0, 1, 0], pa.int32())}
    )
    reports = L.write_list_batches([batch], str(tmp_path), 0, "w")
    assert len(written) == 2
    assert not any(w.endswith(".parquet") for w in written)
    assert _list_parquet_files(str(tmp_path)) == sorted(f for _l, f, _r in reports)


def test_failed_attempt_files_are_neither_committed_nor_left(spark, src, tmp_path):
    """A file a failed attempt left in the stage (complete part file and
    temp file alike) never reaches the data dir, and the commit sweeps
    the task dirs."""
    stage = str(tmp_path / ".staging-x")
    dead = os.path.join(stage, L._TASKS, "0-3")
    os.makedirs(dead)
    batch = pa.RecordBatch.from_pydict(
        {"vid": pa.array([99], pa.int64()), "list_id": pa.array([0], pa.int32())}
    )
    stray = L.write_list_batches([batch], dead, 0, "failedattempt")
    open(os.path.join(dead, ".tmp-00001"), "wb").close()
    data = str(tmp_path / "lists")
    df = src.select("vid").withColumn("list_id", (F.col("vid") % 2).cast("int"))
    moved, counts = L.write_lists(df, data, stage)
    on_disk = sorted(
        os.path.join(r, nm) for r, _d, files in os.walk(data) for nm in files
        if nm.endswith(".parquet")
    )
    assert on_disk == sorted(moved)
    assert os.path.basename(stray[0][1]) not in {os.path.basename(f) for f in moved}
    assert counts == {0: 600, 1: 600}
    assert spark.read.parquet(data).where("vid = 99").count() == 1
    assert not os.path.exists(os.path.join(stage, L._TASKS))


@pytest.mark.parametrize("family", ["ivf", "ivfsq", "ivfpq"])
def test_two_appends_then_compact(spark, src, tmp_path, family):
    """Two add_batch calls keep every file they wrote, under basenames
    distinct from each other and from the build, each in its own
    epoch; compact then rewrites one file per list with the live
    rows and exact counts."""
    base = src.where("vid < 800")
    index = _build(spark, family, base, str(tmp_path / "ix"))
    sub = "codes" if family == "ivfpq" else "lists"
    data = os.path.join(index.path, sub)

    def files():
        return {
            os.path.join(r, nm) for r, _d, fs in os.walk(data) for nm in fs
            if nm.endswith(".parquet")
        }

    built = files()
    index.add_batch(src.where("vid >= 800 AND vid < 1000"))
    first = files() - built
    index.add_batch(src.where("vid >= 1000"))
    second = files() - built - first
    assert first and second and files() == built | first | second
    names = [os.path.basename(f) for f in files()]
    assert len(names) == len(set(names))
    fe = index.manifest["file_epochs"]
    assert {fe[os.path.basename(f)] for f in first} == {1}
    assert {fe[os.path.basename(f)] for f in second} == {2}
    assert index.manifest["count"] == 1200
    assert not [nm for nm in os.listdir(index.path) if nm.startswith(".staging-")]

    index.delete_batch([1, 2, 3, 900, 1100])
    index.compact()
    per_list = {
        d: os.listdir(os.path.join(data, d)) for d in os.listdir(data)
        if d.startswith("list_id=")
    }
    assert per_list and all(len(fs) == 1 for fs in per_list.values())
    assert index.manifest["count"] == spark.read.parquet(data).count() == 1195
    if family == "ivf":
        recount = {
            r["list_id"]: r["count"]
            for r in spark.read.parquet(data).groupBy("list_id").count().collect()
        }
        assert {p["list_id"]: p["count"] for p in index.manifest["lists"]} == {
            lid: recount.get(lid, 0) for lid in range(6)
        }
    assert not [nm for nm in os.listdir(index.path) if nm.startswith(".compact-")]

"""The two workloads: their set-up, their op loops and their checks.

Every op goes through ``Runner.op``, which times it, runs it under its
own Spark job group when tracing, and checks its output. An op that
raises or fails its check is counted with its error and the loop goes
on.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.gen import K, Inputs, Shape
from perfbench.tracing import Tracer

# 18,000 x 64 float32 is over the 4 MiB driver-build gate of
# create_hnsw_index and create_ivfpq_index, so both build as Spark jobs,
# the path a production-sized corpus takes
POINT_LOOKUP = Shape(n=18_000, dim=64, lookup_queries=256)
BATCH_CHURN = Shape(
    n=8_000,
    dim=384,
    lookup_queries=64,
    join_queries=128,
    rounds=2,
    add_rows=1024,
    delete_rows=200,
)
SHAPES = {"point_lookup": POINT_LOOKUP, "batch_churn": BATCH_CHURN}
MIN_CYCLES = 2


class Runner:
    """Closed-loop client: one op at a time, each checked."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer
        self.ops: list[dict] = []  # timed ops
        self.attempted = 0
        self.errors: list[str] = []
        self.recall: dict[str, list[float]] = {}
        self.trace_ops = tracer.enabled

    def op(self, name: str, fn, check, timed: bool = True, scores_recall: bool = False):
        """Run ``fn``; ``check(result)`` returns (error or None, rows,
        recall or None). Returns the result, or None when the op failed.
        A failed op of a type that ``scores_recall`` counts as recall 0."""
        self.attempted += 1
        op_id = f"{name}-{self.attempted}"
        traced = self.trace_ops and timed
        sc = self.spark.sparkContext
        if traced:
            sc.setJobGroup(op_id, name)
        # untimed ops, and the untraced ops of a traced run, record no spans
        run_level = self.tracer.enabled
        self.tracer.enabled = traced
        wall = time.time()
        t0 = time.perf_counter()
        result = recall = None
        rows = 0
        try:
            with self.tracer.span(name, op_id):
                result = fn()
            lat = time.perf_counter() - t0
            err, rows, recall = check(result)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, the run goes on
            lat = time.perf_counter() - t0
            msg = str(e).splitlines()
            err = f"{type(e).__name__}: {msg[0] if msg else ''}"
        finally:
            self.tracer.enabled = run_level
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        if err is not None:
            self.errors.append(f"{name}: {err}")
            result = None
            recall = 0.0
        if scores_recall:
            self.recall.setdefault(name, []).append(recall)
        if timed:
            self.ops.append(
                {
                    "op": name,
                    "op_id": op_id,
                    "start": wall,
                    "end": wall + lat,
                    "lat": lat,
                    "rows": rows,
                    "ok": err is None,
                    "traced": traced,
                }
            )
        return result

    def alternate_tracing(self) -> None:
        """In a traced run, flip tracing for the next ops; the untraced
        ones give the baseline of ``trace.overhead_frac``."""
        if self.tracer.enabled:
            self.trace_ops = not self.trace_ops

    @property
    def failed(self) -> int:
        return len(self.errors)


def check_topk(ids, dists, truth, dead=frozenset(), live_max=None) -> tuple[str | None, float]:
    """k rows, unique live ids, non-decreasing distances; returns
    (error or None, recall against ``truth``)."""
    if len(ids) != K:
        return f"{len(ids)} rows, want {K}", 0.0
    if len(set(ids)) != K:
        return f"duplicate ids {ids}", 0.0
    gone = [i for i in ids if i in dead or (live_max is not None and i >= live_max)]
    if gone:
        return f"returned deleted or unknown ids {gone}", 0.0
    if dists is not None and any(b < a for a, b in zip(dists, dists[1:])):
        return f"distances not sorted {dists}", 0.0
    return None, len(set(ids) & set(int(t) for t in truth)) / K


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _vec_literal(q: np.ndarray) -> str:
    return "[" + ",".join(repr(float(x)) for x in q) + f"]::FLOAT[{len(q)}]"


class Workload:
    """State shared by both workloads: the session, the corpus table,
    the HNSW index and the planner. A subclass defines ``setup`` and
    ``cycle`` (one of each of its repeated ops)."""

    def __init__(self, spark, tracer: Tracer, inputs: Inputs, work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work_dir = work_dir
        self.runner = Runner(spark, tracer)
        self.layer: dict[str, float] = {}  # set-up times, by layer
        self.states: list[tuple[str, dict]] = []  # index state after set-up and each round
        self.planner = None
        self.live_max = inputs.shape.n
        self.dead: frozenset = frozenset()
        self.truth = inputs.lookup_truth
        self.cursor = 0

    def timed_setup(self, name: str, fn):
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn()
        self.layer[name + "_s"] = self.layer.get(name + "_s", 0.0) + time.perf_counter() - t0
        return out

    def load(self, path: str):
        """A generated parquet file, through the engine's table loader."""
        from duckdb_vss_spark.sources import load_table

        name = os.path.basename(path).removesuffix(".parquet")
        return load_table(self.spark, os.path.dirname(path), name)

    def read_cached(self, path: str):
        def read():
            df = self.load(path).cache()
            df.count()
            return df

        return self.timed_setup("sources.load", read)

    def build_hnsw(self):
        from duckdb_vss_spark.index import create_hnsw_index

        path = os.path.join(self.work_dir, "hnsw")
        self.index = self.timed_setup(
            "index.hnsw_build",
            lambda: create_hnsw_index(self.spark, self.items, "embedding", "vec_id", path),
        )
        self.register()
        self.record_state("after set-up")

    def register(self):
        from duckdb_vss_spark.plans import VssPlanner

        if self.planner is None:
            self.planner = VssPlanner(self.spark)
        self.items.createOrReplaceTempView("items")
        self.planner.register_index("items", "embedding", self.index)

    def index_state(self) -> dict[str, int]:
        return {
            "index.shards": len(self.index.manifest["partitions"]),
            "index.tombstones": int(self.index.manifest.get("deleted_count", 0)),
            "index.artifact_bytes": dir_bytes(self.index.path),
        }

    def record_state(self, label: str) -> None:
        self.states.append((label, self.index_state()))

    def next_query(self) -> int:
        i = self.cursor % len(self.inputs.lookup)
        self.cursor += 1
        return i

    def hnsw(self, timed: bool = True):
        i = self.next_query()
        q = self.inputs.lookup[i].tolist()
        truth, dead, live_max = self.truth[i], self.dead, self.live_max

        def check(rows):
            ids = [int(r["vec_id"]) for r in rows]
            err, rec = check_topk(ids, [r["dist"] for r in rows], truth, dead, live_max)
            return err, len(rows), rec

        return self.runner.op(
            "hnsw",
            lambda: self.index.knn_search(self.items, q, K).select("vec_id", "dist").collect(),
            check,
            timed,
            scores_recall=True,
        )

    def sql(self, timed: bool = True):
        i = self.next_query()
        text = (
            "SELECT vec_id FROM items ORDER BY array_distance(embedding, "
            f"{_vec_literal(self.inputs.lookup[i])}) LIMIT {K}"
        )
        truth, dead, live_max = self.truth[i], self.dead, self.live_max

        def run():
            with self.tracer.span("plans.sql"):
                df = self.planner.sql(text)
            return self.planner.last_plan, df.collect()

        def check(out):
            plan, rows = out
            if plan != "HNSW_INDEX_SCAN":
                return f"last_plan {plan!r}, want 'HNSW_INDEX_SCAN'", len(rows), None
            err, rec = check_topk([int(r["vec_id"]) for r in rows], None, truth, dead, live_max)
            return err, len(rows), rec

        return self.runner.op("sql", run, check, timed, scores_recall=True)

    def warm_up(self):
        """Untimed cycles for ``warmup_s`` seconds, at least one."""
        t_end = time.perf_counter() + self.warmup_s
        self.cycle(timed=False)
        while time.perf_counter() < t_end:
            self.cycle(timed=False)

    def timed_cycles(self, seconds: float) -> None:
        """Cycles until ``seconds`` have passed, at least ``MIN_CYCLES``.
        A traced run traces every other cycle."""
        t_end = time.perf_counter() + seconds
        done = 0
        while done < MIN_CYCLES or time.perf_counter() < t_end:
            self.runner.alternate_tracing()
            self.cycle()
            done += 1
        self.runner.trace_ops = self.tracer.enabled


class PointLookup(Workload):
    """Interactive single-query top-k over a 64-d corpus small enough
    for the index's driver-side probe."""

    # op latencies keep falling for tens of ops after the first, as the
    # JVM compiles the hot paths
    warmup_s = 6.0

    def setup(self):
        from duckdb_vss_spark.index import create_ivfpq_index

        self.items = self.read_cached(self.inputs.corpus_path)
        self.build_hnsw()
        path = os.path.join(self.work_dir, "ivfpq")
        self.ivfpq_index = self.timed_setup(
            "index.ivfpq_build",
            lambda: create_ivfpq_index(self.spark, self.items, "embedding", "vec_id", path),
        )

    def ivfpq(self, timed: bool = True):
        i = self.next_query()
        q = self.inputs.lookup[i].tolist()
        truth = self.truth[i]

        def check(rows):
            ids = [int(r["vec_id"]) for r in rows]
            err, rec = check_topk(ids, [r["dist"] for r in rows], truth, live_max=self.live_max)
            return err, len(rows), rec

        return self.runner.op(
            "ivfpq",
            lambda: self.ivfpq_index.knn_search(q, K).select("vec_id", "dist").collect(),
            check,
            timed,
            scores_recall=True,
        )

    def cycle(self, timed: bool = True):
        self.hnsw(timed)
        self.sql(timed)
        self.ivfpq(timed)

    def measure(self, seconds: float):
        self.timed_cycles(seconds)


class BatchChurn(Workload):
    """Batched top-k joins and exact scans over a 384-d corpus, then
    rounds of add / delete / search on the same HNSW index."""

    # one cycle: these ops take seconds, so compilation is a small share
    warmup_s = 0.0

    def setup(self):
        self.items = self.read_cached(self.inputs.corpus_path)
        self.queries = self.read_cached(self.inputs.join_path)
        self.build_hnsw()
        self.exact_cursor = 0

    def join(self, timed: bool = True):
        truth = self.inputs.join_truth

        def run():
            return (
                self.index.knn_join(self.queries, self.items, "qvec", K, "qid")
                .select("qid", "vec_id", "dist", "rn")
                .collect()
            )

        def check(rows):
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(int(r["qid"]), []).append(r)
            if len(by_q) != len(truth):
                return f"{len(by_q)} queries answered, want {len(truth)}", len(rows), None
            recalls = []
            for qid, rs in sorted(by_q.items()):
                rs.sort(key=lambda r: r["rn"])
                ids = [int(r["vec_id"]) for r in rs]
                err, rec = check_topk(ids, [r["dist"] for r in rs], truth[qid], live_max=self.live_max)
                if err is not None:
                    return f"query {qid}: {err}", len(rows), None
                recalls.append(rec)
            return None, len(rows), float(np.mean(recalls))

        return self.runner.op("join", run, check, timed, scores_recall=True)

    def exact(self, timed: bool = True):
        from duckdb_vss_spark import operators

        i = self.exact_cursor % len(self.inputs.lookup)
        self.exact_cursor += 1
        q = self.inputs.lookup[i].tolist()
        truth = [int(t) for t in self.inputs.lookup_truth[i]]

        def check(rows):
            ids = [int(r["vec_id"]) for r in rows]
            if ids != truth:
                return f"ids {ids} != exact top-{K} {truth}", len(rows), None
            err, _ = check_topk(ids, [r["dist"] for r in rows], truth)
            return err, len(rows), None

        return self.runner.op(
            "exact",
            lambda: operators.knn_search(self.items, "embedding", q, K)
            .select("vec_id", "dist")
            .collect(),
            check,
            timed,
        )

    def add(self, r: int):
        batch = self.load(self.inputs.add_paths[r])
        rows = self.inputs.shape.add_rows
        want = self.index.count + rows

        def check(index):
            if index.count != want:
                return f"live count {index.count}, want {want}", 0, None
            return None, rows, None

        new = self.runner.op("add", lambda: self.index.add_batch(batch), check)
        if new is not None:
            self.index = new
        # the table gains the rows either way, as the caller's insert would
        self.items = self.items.unionByName(batch)
        self.live_max += rows
        self.register()

    def delete(self, r: int):
        ids = [int(x) for x in self.inputs.delete_ids[r]]
        want = self.index.count - len(ids)

        def check(index):
            if index.count != want:
                return f"live count {index.count}, want {want}", 0, None
            return None, len(ids), None

        new = self.runner.op("delete", lambda: self.index.delete_batch(ids), check)
        if new is not None:
            self.index = new
        self.register()
        # the table keeps the deleted rows, so the checks see whether
        # the index filters its own tombstones
        self.dead = self.inputs.churn_dead[r]
        self.truth = self.inputs.churn_truth[r]

    def cycle(self, timed: bool = True):
        self.join(timed)
        self.exact(timed)

    def warm_up(self):
        super().warm_up()
        # deleting an id the index does not hold runs the delete path
        # without changing the index
        count = self.index.count

        def check(index):
            if index.count != count or index.manifest.get("deleted_count", 0):
                return "deleting an absent id changed the index", 0, None
            return None, 0, None

        self.runner.op("delete", lambda: self.index.delete_batch([-1]), check, timed=False)

    def measure(self, seconds: float):
        """Join and exact cycles for half of ``seconds``, then
        ``shape.rounds`` rounds of add, delete, hnsw and sql. The rounds
        are counted, not timed out, because each leaves more tombstones
        behind and so changes the cost of the next. Every churn op is
        traced in a traced run."""
        self.timed_cycles(seconds / 2)
        for r in range(self.inputs.shape.rounds):
            self.add(r)
            self.delete(r)
            self.hnsw()
            self.sql()
            self.record_state(f"after round {r + 1}")


WORKLOADS = {"point_lookup": PointLookup, "batch_churn": BatchChurn}

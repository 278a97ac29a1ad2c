"""Vector-search benchmark for duckdb_vss_spark.

    python3 perfbench/run.py --workload point_lookup --seed 1 --seconds 12 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, starts one Spark session, sets up, warms up, then drives the
engine's public API from one client thread in a closed loop for about
``--seconds`` seconds, checking every op's output against numpy ground
truth. The last line of stdout is one JSON object: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See BENCHMARK.json for the workloads and metrics, and README.md here
for what each one means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")
sys.path.insert(0, ROOT)

from perfbench import gen, workloads  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Tracer,
    op_layers,
    parse_event_log,
    percentile,
    self_times,
    tail_percentile,
)

DRIVER_MEMORY = "2g"
FUNCTION_ROWS = {64: 16_384, 384: 4_096}
LOOKUP_OPS = ("hnsw", "sql")
RECALL_OPS = ("hnsw", "sql", "join")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def launch_env(run_dir: str, trace: bool) -> None:
    """Launch settings, fixed before pyspark starts its JVM: all cores
    the process may use, an explicit driver heap, and every scratch
    directory inside the run directory."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the heap starts at its maximum, so the JVM's resident size
        # does not follow run-to-run differences in when G1 grows it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def job_floor_ms(spark) -> float:
    """Best of 5 ``spark.range(1).count()``, in ms."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        spark.range(1).count()
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def graph_search_us(w, queries: int = 16) -> float:
    """Mean µs of ``HNSWGraph.search`` per (query, shard graph), called
    directly on the artifact's shard files."""
    from duckdb_vss_spark.index import HNSWGraph
    from duckdb_vss_spark.session import get_ef_search

    ef = get_ef_search(w.spark)
    total = 0.0
    calls = 0
    for part in w.index.manifest["partitions"]:
        with open(part["file"], "rb") as f:
            g = HNSWGraph.from_bytes(f.read())
        for q in w.inputs.lookup[:queries]:
            t0 = time.perf_counter()
            g.search(q, gen.K, ef)
            total += time.perf_counter() - t0
            calls += 1
    return total / calls * 1e6


def function_rates(spark, seed: int, run_dir: str) -> dict[str, float]:
    """Rows/s of ``array_distance`` against one query over a cached
    table, through the Column (d=64 and d=384) and through the SQL
    function ``register_sql_functions`` installs (d=384), each the
    median of 3 ``sum`` actions after one untimed."""
    import numpy as np
    from pyspark.sql import functions as F

    from duckdb_vss_spark import array_distance, register_sql_functions

    register_sql_functions(spark)
    rng = np.random.default_rng(seed)
    out = {}
    for dim, rows in FUNCTION_ROWS.items():
        path = os.path.join(run_dir, f"functions_{dim}.parquet")
        vecs = rng.standard_normal((rows, dim), dtype=np.float32)
        gen.write_vectors(path, np.arange(rows), vecs, "id", "v")
        q = rng.standard_normal(dim).astype(np.float32).tolist()
        df = spark.read.parquet(path).withColumn("q", F.lit(q)).cache()
        df.count()
        df.createOrReplaceTempView("function_bench")
        routes = {
            f"functions.col_rows_per_s.d{dim}": lambda: df.select(
                F.sum(array_distance(F.col("v"), q))
            ).collect(),
        }
        if dim == 384:
            routes[f"functions.udf_rows_per_s.d{dim}"] = lambda: spark.sql(
                "SELECT sum(array_distance(v, q)) FROM function_bench"
            ).collect()
        for name, action in routes.items():
            action()
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                action()
                times.append(time.perf_counter() - t0)
            out[name] = rows / statistics.median(times)
        df.unpersist()
    return out


def overhead_frac(ops: list[dict]) -> float:
    """Traced against untraced op time, over the op types timed both
    ways: the traced ops' total latency over what the same ops take at
    the untraced mean, minus 1."""
    by: dict[tuple, list] = {}
    for op in ops:
        by.setdefault((op["op"], op["traced"]), []).append(op["lat"])
    traced = expected = 0.0
    for (name, is_traced), lats in by.items():
        if is_traced and (name, False) in by:
            traced += sum(lats)
            expected += len(lats) * statistics.mean(by[(name, False)])
    if not expected:
        raise RuntimeError("no op type was timed both traced and untraced")
    return traced / expected - 1.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM it started, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — the JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def op_summary(ops: list[dict], name: str) -> dict:
    """Latency of one op type over its timed ops, failed ones included:
    a failed op still kept its caller waiting."""
    lats = [o["lat"] for o in ops if o["op"] == name]
    p90 = tail_percentile(lats, 0.9)
    return {
        "n": len(lats),
        "mean_ms": statistics.mean(lats) * 1000,
        "p50_ms": percentile(lats, 0.5) * 1000,
        "p90_ms": None if p90 is None else p90 * 1000,
        "total_s": sum(lats),
        "lats_ms": [round(x * 1000, 3) for x in lats],
    }


def op_metrics(per_op: dict, recall: dict, shape) -> list[tuple[str, float, str, int]]:
    """Per-op-type figures printed above the JSON result: (name, value,
    unit, samples). A p90 is printed only when at least 10 samples lie
    beyond it."""
    out = []
    for name, s in per_op.items():
        out.append((f"{name}_mean_ms", s["mean_ms"], "ms", s["n"]))
        out.append((f"{name}_p50_ms", s["p50_ms"], "ms", s["n"]))
        if s["p90_ms"] is not None:
            out.append((f"{name}_p90_ms", s["p90_ms"], "ms", s["n"]))
    if "ivfpq" in recall:
        out.append(("ivfpq_recall_at_10", statistics.mean(recall["ivfpq"]), "ratio", len(recall["ivfpq"])))
    rates = {
        "join": ("join_qps", shape.join_queries, "queries/s"),
        "exact": ("exact_rows_per_s", shape.n, "rows/s"),
        "add": ("add_rows_per_s", shape.add_rows, "rows/s"),
    }
    for op_name, (metric, work, unit) in rates.items():
        if op_name in per_op:
            s = per_op[op_name]
            out.append((metric, work * s["n"] / s["total_s"], unit, s["n"]))
    return out


def trace_layers(w, run_dir: str) -> dict[str, float]:
    """Per-op-type Spark and driver layers from the event log, plus the
    span-derived figures; writes the full trace report under ``OUT``."""
    log_dir = os.path.join(run_dir, "eventlog")
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(logs[0]) as f:
        groups = parse_event_log(f)
    ops = w.runner.ops
    traced = [o for o in ops if o["traced"]]
    per_type = op_layers(traced, groups)
    per_type["mix"] = op_layers([{**o, "op": "mix"} for o in traced], groups)["mix"]
    layer = {f"{op}.{k}": v for op, stats in per_type.items() for k, v in stats.items()}
    # Python-worker and GC time are 0 for ops that run no Python worker
    # or no collection; as shares of op wall time they stay comparable
    mean_lat = statistics.mean(o["lat"] for o in traced)
    layer["mix.py_worker_share"] = layer["mix.py_worker_s"] / mean_lat
    layer["mix.gc_share"] = layer["mix.gc_s"] / mean_lat
    spans = w.tracer.spans
    layer["plans.sql_ms"] = statistics.mean(
        s["end"] - s["start"] for s in spans if s["name"] == "plans.sql"
    ) * 1000
    layer["trace.overhead_frac"] = overhead_frac(ops)
    return layer


def run(args, inputs, run_dir: str, tracer: Tracer) -> int:
    from duckdb_vss_spark import get_spark

    phases = {}
    t_setup = mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 2)
        mark = now

    with tracer.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}")
        spark.range(1).count()
    layer = {"session.start_s": time.perf_counter() - t_setup}
    try:
        w = workloads.WORKLOADS[args.workload](spark, tracer, inputs, os.path.join(run_dir, "idx"))
        w.setup()
        setup_s = time.perf_counter() - t_setup
        phase("setup")
        w.warm_up()
        phase("warm_up")
        if tracer.enabled:
            floor_before = job_floor_ms(spark)
        w.measure(args.seconds)
        phase("measure")
        if tracer.enabled:
            layer["spark.job_floor_ms"] = min(floor_before, job_floor_ms(spark))
            layer.update(w.layer)
            layer.update(w.index_state())
            layer["index.graph_search_us"] = graph_search_us(w)
            layer.update(function_rates(spark, args.seed, run_dir))
        live_rows = w.index.count
        end_state = w.index_state()
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
        phase("trace_extras")
    finally:
        stop_spark(spark)
    phase("stop")
    print(f"phases s: {json.dumps(phases)}", file=sys.stderr)

    r = w.runner
    for label, state in w.states:
        print(f"index {label}: {json.dumps(state)}")
    print(f"peak rss MB: {json.dumps(rss)}")
    for e in r.errors:
        print(f"FAILED {e}")
    per_op = {name: op_summary(r.ops, name) for name in sorted({o["op"] for o in r.ops})}
    for name, s in per_op.items():
        print(f"latencies {name} ms: {json.dumps(s['lats_ms'])}")
    for name, value, unit, n in op_metrics(per_op, r.recall, inputs.shape):
        print(f"metric {name} = {value:.6g} {unit} (n={n})")
    lookups = [o["lat"] for o in r.ops if o["op"] in LOOKUP_OPS]
    recall = [x for name in RECALL_OPS for x in r.recall.get(name, [])]
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": sum(rss.values()),
        "ops_ok_frac": 1.0 - r.failed / r.attempted,
        "recall_at_10": statistics.mean(recall),
        "lookup_mean_ms": statistics.mean(lookups) * 1000,
        "cycle_s": sum(s["mean_ms"] for s in per_op.values()) / 1000,
        "index_bytes_ratio": end_state["index.artifact_bytes"] / (live_rows * inputs.shape.dim * 4),
    }
    samples = {"lookup_mean_ms": len(lookups), "recall_at_10": len(recall)}
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in values.items():
        print(f"metric {name} = {value:.6g} {units[name]} (n={samples.get(name, 1)})")
    chosen = spec["end_to_end"]
    if tracer.enabled:
        layer["lookup_mean_ms"] = values["lookup_mean_ms"]
        layer["cycle_s"] = values["cycle_s"]
        layer.update(trace_layers(w, run_dir))
        for k, v in sorted(layer.items()):
            print(f"layer {k} = {v:.6g}")
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "layers": layer,
            "spans": [dict(s, self_s=t) for s, t in zip(tracer.spans, self_times(tracer.spans))],
            "ops": r.ops,
            "errors": r.errors,
        }
        with open(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(report, f)
        chosen, values = spec["per_layer"], layer
    result = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in chosen}
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed, "metrics": result}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "duckdb_vss_spark")):
        print(f"duckdb_vss_spark not found under {ROOT}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_dir = os.path.join(OUT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        # inputs and ground truth come before the set-up clock starts
        t0 = time.perf_counter()
        inputs = gen.generate(args.seed, workloads.SHAPES[args.workload], os.path.join(run_dir, "data"))
        print(f"inputs generated in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        launch_env(run_dir, trace)
        return run(args, inputs, run_dir, Tracer(trace))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

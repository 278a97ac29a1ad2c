"""Tests of the benchmark's own arithmetic: the event-log parser, the
span arithmetic, the percentile rule, the generator and the checks.

    python3 -m pytest perfbench -q

No Spark session is started. The event-log fixture is trimmed from a
real local session: one HNSW search through the driver-side probe
(group ``hnsw-1``), then a delete, then the same search through the
distributed probe (group ``hnsw-2``), then one job outside any group.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.run import overhead_frac  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    GroupStats,
    Tracer,
    op_layers,
    parse_event_log,
    percentile,
    self_times,
    tail_percentile,
    union_length,
)
from perfbench.workloads import check_topk  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_tiny.jsonl")


@pytest.fixture(scope="module")
def groups():
    with open(FIXTURE) as f:
        return parse_event_log(f)


def test_event_log_groups_only_grouped_jobs(groups):
    assert sorted(groups) == ["hnsw-1", "hnsw-2"]


def test_event_log_driver_probe_search(groups):
    g = groups["hnsw-1"]
    assert g.jobs == 1
    assert g.stages == {6}
    assert g.tasks == 1
    # the In-filter fetch still scans the whole cached 2,000-row corpus
    assert g.scan_rows == 2000
    assert g.py_worker_s == 0
    assert g.shuffle_bytes == 0
    assert g.exec_cpu_s == pytest.approx(0.1257, abs=1e-4)
    assert len(g.job_spans) == 1


def test_event_log_distributed_search(groups):
    g = groups["hnsw-2"]
    assert g.jobs == 5
    assert g.stages == {13, 14, 15, 17, 18}
    assert g.tasks == 7
    assert g.scan_rows == 2288
    assert g.py_worker_s == pytest.approx(0.609)
    assert g.shuffle_bytes == 212
    assert len(g.job_spans) == 5
    assert all(e >= s for s, e in g.job_spans)


def test_op_layers_driver_time_and_useful_work(groups):
    s, e = groups["hnsw-2"].job_spans[0][0] - 0.5, groups["hnsw-2"].job_spans[-1][1] + 0.25
    ops = [{"op": "hnsw", "op_id": "hnsw-2", "start": s, "end": e, "rows": 3}]
    layers = op_layers(ops, groups)["hnsw"]
    assert layers["jobs"] == 5
    assert layers["stages"] == 5
    assert layers["rows_examined_per_result"] == pytest.approx(2288 / 3)
    busy = union_length(groups["hnsw-2"].job_spans)
    assert layers["driver_s"] == pytest.approx((e - s) - busy)


def test_op_layers_op_without_jobs():
    ops = [{"op": "x", "op_id": "x-1", "start": 1.0, "end": 3.0, "rows": 10}]
    layers = op_layers(ops, {"other": GroupStats(jobs=2)})["x"]
    assert layers["jobs"] == 0
    assert layers["driver_s"] == pytest.approx(2.0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.75)]) == pytest.approx(4.0)
    assert union_length([]) == 0


def test_self_times_subtract_children():
    spans = [
        {"name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": 0},
        {"name": "c", "start": 2.0, "end": 3.0, "parent": 1},
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_tracer_records_parent_and_op_id():
    t = Tracer(True)
    with t.span("op", "op-1"):
        with t.span("plans.sql"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert [s["op_id"] for s in t.spans] == ["op-1", "op-1"]
    off = Tracer(False)
    with off.span("op", "op-1"):
        pass
    assert off.spans == []


def test_percentile_matches_numpy():
    xs = list(np.random.default_rng(0).random(37))
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q * 100))


def test_p90_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(99)), 0.9) is None
    assert tail_percentile(list(range(100)), 0.9) == pytest.approx(np.percentile(range(100), 90))
    assert tail_percentile(list(range(19)), 0.5) is None
    assert tail_percentile(list(range(20)), 0.5) is not None


def test_overhead_frac_compares_same_op_types():
    ops = [
        {"op": "a", "traced": False, "lat": 1.0},
        {"op": "a", "traced": True, "lat": 1.2},
        {"op": "b", "traced": False, "lat": 2.0},
        {"op": "b", "traced": True, "lat": 2.0},
        {"op": "c", "traced": True, "lat": 9.0},  # no untraced baseline
    ]
    assert overhead_frac(ops) == pytest.approx(3.2 / 3.0 - 1)


SMALL = gen.Shape(n=300, dim=8, lookup_queries=5, join_queries=4, rounds=2, add_rows=20, delete_rows=7)


def _digest(d: str) -> dict:
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest() for f in sorted(os.listdir(d))}


def test_generator_same_seed_same_bytes(tmp_path):
    a = gen.generate(7, SMALL, str(tmp_path / "a"))
    b = gen.generate(7, SMALL, str(tmp_path / "b"))
    c = gen.generate(8, SMALL, str(tmp_path / "c"))
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert np.array_equal(a.churn_truth[1], b.churn_truth[1])
    assert [list(x) for x in a.delete_ids] == [list(x) for x in b.delete_ids]


def test_generator_churn_truth_is_over_live_rows(tmp_path):
    inp = gen.generate(3, SMALL, str(tmp_path))
    dead = inp.churn_dead[-1]
    assert len(dead) == SMALL.rounds * SMALL.delete_rows
    assert not dead & set(inp.churn_truth[-1].ravel().tolist())
    # every delete set was live when drawn: never an id deleted twice
    drawn = np.concatenate(inp.delete_ids)
    assert len(set(drawn.tolist())) == len(drawn)


def test_exact_topk_breaks_ties_by_id():
    vecs = np.array([[1, 0], [0, 0], [1, 0], [0, 1], [0, 0]], dtype=np.float32)
    ids = np.array([40, 30, 20, 10, 0])
    q = np.array([[0, 0]], dtype=np.float32)
    assert gen.exact_topk(vecs, ids, q, k=4).tolist() == [[0, 30, 10, 20]]


def test_check_topk_flags_bad_results():
    truth = list(range(10))
    assert check_topk(list(range(10)), list(range(10)), truth) == (None, 1.0)
    assert check_topk(list(range(5, 15)), None, truth) == (None, 0.5)
    assert check_topk(list(range(9)), None, truth)[0].startswith("9 rows")
    assert "duplicate" in check_topk([0] * 10, None, truth)[0]
    assert "deleted" in check_topk(list(range(10)), None, truth, dead=frozenset({3}))[0]
    assert "unknown" in check_topk(list(range(10)), None, truth, live_max=5)[0]
    assert "not sorted" in check_topk(list(range(10)), list(range(10, 0, -1)), truth)[0]

"""Tests of the benchmark itself: its metric catalogue, its oracles, and
its failure accounting. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import oracles  # noqa: E402
from perfbench.run import (  # noqa: E402
    E2E_METRICS,
    LAYER_METRICS,
    OpRecord,
    _metric_block,
    count_failures,
    e2e_metrics,
    run_op,
)
from perfbench.workloads import WORKLOADS, Inputs, Op, check_exact, check_pagerank  # noqa: E402
from tests import oracles as ref  # noqa: E402

SHIFTS = [0, 1 << 40]


def _bench():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_METRICS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_METRICS
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_result_block_marks_unmeasured_as_null():
    block = _metric_block({"a_s": 1.5}, {"a_s": "s", "b_bytes": "bytes"})
    assert block["a_s"] == {"value": 1.5, "unit": "s"}
    assert block["b_bytes"] == {"value": None, "unit": "bytes", "unmeasured": True}


def test_pagerank_metrics_are_medians_over_timed_calls():
    calls = [
        OpRecord("pagerank", 5.0, True, "", {"cpu_s": 9.0}),
        OpRecord("pagerank", 30.0, True, "", {"cpu_s": 40.0}),
        OpRecord("pagerank", 6.0, True, "", {"cpu_s": 10.0}),
    ]
    got = e2e_metrics(calls, [20.0, 2.0, 3.0], Inputs(n_edges=1000), supersteps=13)
    assert set(got) == set(E2E_METRICS)
    assert got == {"setup_s": 3.0, "pagerank_cpu_s": 10.0, "pagerank_edges_per_cpu_s": 1300.0}
    no_oracle = e2e_metrics(calls, [1.0], Inputs(n_edges=1000), supersteps=None)
    assert no_oracle["pagerank_edges_per_cpu_s"] is None


# ------------------------------------------------------------------ oracles


def _fixture(seed=7, n=60, m=180):
    """Weighted directed graph whose ids cover 0..n-1 (a path touches
    every vertex, so the loop oracles' dense n agrees with the vectorized
    oracles' compacted ids), plus a separate component and a hub."""
    rng = np.random.default_rng(seed)
    edges = {(i, i + 1) for i in range(0, n // 2 - 1)}
    edges |= {(i + 1, i) for i in range(n // 2, n - 1)}
    while len(edges) < m:
        a, b = rng.integers(0, n // 2, 2) if rng.random() < 0.7 else rng.integers(n // 2, n, 2)
        if a != b:
            edges.add((int(a), int(b)))
    edges |= {(0, v) for v in range(2, n // 2, 3)}
    return [(a, b, float(1 + (a * 7 + b * 13) % 3)) for a, b in sorted(edges)]


def _symmetric(edges):
    best = {}
    for a, b, w in edges:
        for k in ((a, b), (b, a)):
            best[k] = min(w, best.get(k, w))
    return [(a, b, w) for (a, b), w in sorted(best.items())]


def _arrays(edges, shift):
    src = np.array([e[0] for e in edges], dtype=np.int64) + shift
    dst = np.array([e[1] for e in edges], dtype=np.int64) + shift
    return src, dst, np.array([e[2] for e in edges])


@pytest.mark.parametrize("shift", SHIFTS)
@pytest.mark.parametrize("tol,max_iter", [(1e-6, 100), (0.0, 10)])
def test_pagerank_oracle_matches_loop_oracle(shift, tol, max_iter):
    edges = _fixture()
    want, _, want_iter = ref.pagerank_ref(edges, tol=tol, max_iter=max_iter)
    ids, got, steps = oracles.pagerank(*_arrays(edges, shift), tol=tol, max_iter=max_iter)
    assert np.array_equal(ids, np.arange(len(want)) + shift)
    assert steps == want_iter
    np.testing.assert_allclose(got, want, rtol=1e-12)


@pytest.mark.parametrize("shift", SHIFTS)
def test_wcc_oracle_matches_loop_oracle(shift):
    edges = _symmetric(_fixture())
    ids, got = oracles.wcc(*_arrays(edges, shift)[:2])
    assert np.array_equal(got, ref.wcc_ref(edges) + shift)
    assert len(np.unique(got)) == 2


@pytest.mark.parametrize("shift", SHIFTS)
@pytest.mark.parametrize("source", [0, 31, 45])
def test_bfs_oracle_matches_loop_oracle(shift, source):
    edges = _symmetric(_fixture())[::2] + _fixture()
    dist, pred = ref.bfs_ref(edges, source, directed=True)
    src, dst, _ = _arrays(edges, shift)
    ids, got_dist, got_pred = oracles.bfs(src, dst, source + shift)
    assert np.array_equal(got_dist, dist)
    assert np.array_equal(got_pred, np.where(pred >= 0, pred + shift, -1))


@pytest.mark.parametrize("shift", SHIFTS)
@pytest.mark.parametrize("max_iter", [1, 2, 20])
def test_lpa_oracle_matches_loop_oracle(shift, max_iter):
    edges = _symmetric(_fixture())
    want, _ = ref.lpa_ref(edges, max_iter=max_iter)
    src, dst, w = _arrays(edges, shift)
    ids, got = oracles.label_propagation(src, dst, w, max_iter=max_iter)
    assert np.array_equal(got, want + shift)


@pytest.mark.parametrize("shift", SHIFTS)
def test_triangle_oracle_matches_loop_oracle(shift):
    edges = _fixture(m=400) + [(3, 3, 1.0), (4, 5, 2.0)]
    src, dst, _ = _arrays(edges, shift)
    ids, got = oracles.triangle_count(src, dst)
    want = ref.triangle_ref(edges)
    assert np.array_equal(got, want)
    assert want.sum() > 0


def test_simple_edges_keeps_min_weight():
    s, d, w = oracles.simple_edges([1, 1, 2, 1], [2, 2, 3, 2], [3.0, 1.0, 5.0, 2.0])
    assert s.tolist() == [1, 2] and d.tolist() == [2, 3] and w.tolist() == [1.0, 5.0]


# ------------------------------------------------------- failure accounting


def _expected_labels():
    return {"ids": np.array([10, 11]), "labels": np.array([10, 10])}


def _op(name, result):
    def run(inputs, pass_dir):
        if isinstance(result, Exception):
            raise result
        return result, {}

    return Op(name, run, lambda inputs: None, check_exact("labels"))


def test_raising_and_wrong_ops_count_as_failed_not_dropped():
    right = pd.DataFrame({"vertex": [11, 10], "labels": [10, 10]})
    wrong = pd.DataFrame({"vertex": [10, 11], "labels": [10, 11]})
    short = pd.DataFrame({"vertex": [10], "labels": [10]})
    ops = [
        _op("good", right),
        _op("raises", RuntimeError("boom")),
        _op("wrong", wrong),
        _op("missing_rows", short),
    ]
    records = [run_op(op, None, _expected_labels(), "") for op in ops]
    assert [r.ok for r in records] == [True, False, False, False]
    assert "RuntimeError" in records[1].detail
    assert count_failures([records]) == (4, 3)
    # a later passing call does not erase an earlier failure
    again = [run_op(_op("wrong", right), None, _expected_labels(), "")]
    assert count_failures([records, again]) == (4, 3)


def test_pagerank_check_requires_same_superstep_count():
    exp = {"ids": np.array([1, 2]), "pagerank": np.array([0.4, 0.6]), "supersteps": 7}
    pdf = pd.DataFrame({"vertex": [2, 1], "pagerank": [0.6, 0.4]})
    assert check_pagerank(pdf, {"supersteps": 7}, exp)[0]
    assert not check_pagerank(pdf, {"supersteps": 8}, exp)[0]
    off = pd.DataFrame({"vertex": [2, 1], "pagerank": [0.6, 0.4 + 1e-5]})
    assert not check_pagerank(off, {"supersteps": 7}, exp)[0]

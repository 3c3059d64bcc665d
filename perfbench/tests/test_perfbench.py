"""Tests of the benchmark's own code (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import corpus, run, stats, universe  # noqa: E402
from perfbench.model import COST_ROUTE, RISK_ROUTE, UniverseModel  # noqa: E402
from perfbench.spans import JOB_GROUP, Tracer, self_time  # noqa: E402

SMALL = universe.Sizes(regions=3, wspace_systems=20)


def _inputs(seed: int):
    uni = universe.make_universe(seed, SMALL)
    rng = random.Random(f"{seed}/feeds")
    kills, jumps = universe.make_activity(rng, uni)
    sigs = universe.make_signatures(rng, uni)
    reqs = universe.make_requests(rng, uni, 50)
    return uni.systems, uni.stargates, kills, jumps, sigs, reqs


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert _inputs(7) == _inputs(7)
    a, b = _inputs(7), _inputs(8)
    for x, y in zip(a, b):
        assert x != y


def test_corpus_tables_follow_the_seed():
    def tables(seed):
        rng = random.Random(f"{seed}/corpus")
        return corpus.make_documents(rng), corpus.make_embeddings(rng)

    docs, embs = tables(4)
    assert (docs, embs) == tables(4)
    assert docs != tables(5)[0] and embs != tables(5)[1]
    assert all(n == len(t) for _, t, _, _, n in docs)
    assert sum(t.endswith(" dup") for _, t, _, _, _ in docs) > 0
    assert all(abs(sum(x * x for x in v) - 1) < 1e-5 for _, v, _ in embs)


def test_same_result_ignores_row_and_column_order_and_numpy_types():
    import numpy as np

    rows = [(1, "a", 0.5, None), (2, "b", 1.25, True)]
    oracle = [("b", np.int64(2), np.float64(1.25), np.bool_(True)), ("a", np.int64(1), 0.5, float("nan"))]
    assert corpus.same_result(["id", "s", "x", "f"], rows, ["s", "id", "x", "f"], oracle) is None


def test_same_result_rejects_a_differing_output():
    cols, rows = ["id", "x"], [(1, 0.5), (2, 1.5)]
    assert "values" in corpus.same_result(cols, rows, cols, [(1, 0.5), (2, 1.5000001)])
    assert "rows" in corpus.same_result(cols, rows, cols, rows[:1])
    assert "columns" in corpus.same_result(cols, rows, ["id", "y"], rows)
    assert "vacuous" in corpus.same_result(cols, [], cols, [])


def test_request_stream_opens_with_both_404_kinds():
    uni = universe.make_universe(3, SMALL)
    reqs = universe.make_requests(random.Random(1), uni, 40)
    warm = reqs[:universe.WARMUP_REQUESTS]
    assert [r.expect_404 for r in warm] == [True, True, False, False]
    assert [r.route for r in warm[2:]] == ["shortest-route", "safest-route"]
    assert warm[0].dst in {uni.names[s] for s in uni.isolated}
    assert warm[1].src not in uni.names.values()
    share = sum(r.expect_404 for r in reqs) / len(reqs)
    assert share == 2 / universe.ROUTE_404_EVERY


@pytest.mark.parametrize("n, want", [(1000, 99.0), (100, 90.0), (20, 50.0)])
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    xs = list(range(n, 0, -1))  # unsorted on purpose
    p, value, count = stats.tail_percentile(xs)
    assert (p, count) == (want, n)
    assert sum(x > value for x in xs) >= stats.TAIL_MIN_BEYOND
    assert value == sorted(xs)[int(p / 100 * n) - 1]


@pytest.mark.parametrize("n", [0, 1, 10, 19])
def test_tail_percentile_absent_for_small_samples(n):
    assert stats.tail_percentile([1.0] * n) is None


@pytest.mark.parametrize("children, want", [
    ([], 10.0),
    ([(1.0, 3.0), (5.0, 6.0)], 7.0),   # disjoint
    ([(1.0, 4.0), (2.0, 5.0)], 6.0),   # overlapping children count once
    ([(-2.0, 1.0), (9.0, 12.0)], 8.0),  # clipped to the parent
    ([(0.0, 10.0)], 0.0),
])
def test_self_time(children, want):
    assert self_time(0.0, 10.0, children) == pytest.approx(want)


class _FakeContext:
    """The two SparkContext calls a span makes."""

    def __init__(self):
        self.props: dict = {}

    def getLocalProperty(self, key):  # noqa: N802 (SparkContext API)
        return self.props.get(key)

    def setLocalProperty(self, key, value):  # noqa: N802
        self.props[key] = value


def test_wrapped_calls_nest_spans_and_restore_the_job_group():
    sc = _FakeContext()
    tracer = Tracer(sc)
    ns = SimpleNamespace()
    ns.inner = lambda: sc.getLocalProperty(JOB_GROUP)
    ns.outer = lambda: (sc.getLocalProperty(JOB_GROUP), ns.inner())
    orig_outer = ns.outer
    tracer.wrap(ns, "inner", "inner")
    tracer.wrap(ns, "outer", "outer")
    assert ns.outer()[0] is None  # inactive: no span, no group
    tracer.active = True
    outer_group, inner_group = ns.outer()
    inner, outer = tracer.spans
    assert (outer.name, inner.name) == ("outer", "inner")
    assert inner.parent == outer.span_id and outer.children == [inner]
    assert (outer_group, inner_group) == (outer.group, inner.group)
    assert sc.getLocalProperty(JOB_GROUP) is None
    assert tracer.roots() == [outer]
    assert outer.self_time() <= outer.duration
    tracer.unwrap_all()
    assert ns.outer is orig_outer


def _line_universe() -> universe.Universe:
    """Gates A-B-C-D with a chord A-C and dead-end Turnur off D; gateless
    E (never targeted) and Thera."""
    names = {1: "A", 2: "B", 3: "C", 4: "D", 5: "E", 6: "Thera", 7: "Turnur"}
    systems = [(s, n, 0, 0.5, "B", 0, 0.0, 0.0, 0.0, [], [], 0, 0) for s, n in names.items()]
    gates = [(1, 2), (2, 3), (3, 4), (1, 3), (4, 7)]
    stargates = []
    for k, (a, b) in enumerate(gates):
        stargates.append((2 * k, a, 2 * k + 1, b, "g", 0.0, 0.0, 0.0, 1))
        stargates.append((2 * k + 1, b, 2 * k, a, "g", 0.0, 0.0, 0.0, 1))
    return universe.Universe(systems, stargates, names, [1, 2, 3, 4, 7], [5, 6],
                             [1], (6, 7), gates, [5])


def _model() -> UniverseModel:
    m = UniverseModel(_line_universe())
    m.bootstrap([(4, 10)], [(4, 1), (1, 100)], [("w", "wormhole", 6, 1), ("x", "relic", 5, 1)])
    return m


def test_route_checker_accepts_a_shortest_path():
    m = _model()
    assert m.check_route(COST_ROUTE, "A", "D", 200, ["A", "C", "D"]) is None
    # the wormhole reaches Thera; the relic signature adds no edge
    assert m.check_route(COST_ROUTE, "B", "Thera", 200, ["B", "A", "Thera"]) is None
    assert m.check_route(COST_ROUTE, "A", "E", 404, None) is None


def test_route_checker_rejects_wrong_cost_path():
    m = _model()
    why = m.check_route(COST_ROUTE, "A", "D", 200, ["A", "B", "C", "D"])
    assert why and "cost" in why


def test_route_checker_rejects_broken_path():
    m = _model()
    assert "no edge" in m.check_route(COST_ROUTE, "A", "D", 200, ["A", "D"])
    assert m.check_route(COST_ROUTE, "A", "D", 200, ["B", "C", "D"])


def test_route_checker_rejects_wrong_status():
    m = _model()
    assert m.check_route(COST_ROUTE, "A", "Nowhere", 200, ["A"])
    assert m.check_route(COST_ROUTE, "A", "D", 404, None)


def test_risk_projection_is_snapshotted_before_the_wormhole_reset():
    m = _model()
    # bootstrap order: risk before wormholes, so the risk projection still
    # holds Turnur's gate and has no wormhole edge
    assert (4, 7) in m.risk_weights and (6, 1) not in m.risk_weights
    assert (4, 7) not in m.edges and (6, 1) in m.edges
    base = 10 / 101
    assert m.risk_weights[(3, 4)] == pytest.approx(100 + base)  # 10²/1 + baseline
    assert m.check_route(RISK_ROUTE, "A", "Thera", 404, None) is None


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)

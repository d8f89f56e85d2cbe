"""Tests of the benchmark's own code. No Spark session is started."""

import json
import os
import re

from perfbench.gate import topk_matches
from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.stats import TAIL_MIN_BEYOND, tail
from perfbench.trace import Span, Tracer, self_time
from perfbench.workloads import WORKLOADS, Run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units():
    for name, (unit, better, bound) in END_TO_END.items():
        assert NAME.fullmatch(name) and UNIT.fullmatch(unit)
        assert better in ("lower", "higher") and 0 < bound <= 0.25
    for name, unit in PER_LAYER.items():
        assert NAME.fullmatch(name) and UNIT.fullmatch(unit)
    assert not set(END_TO_END) & set(PER_LAYER)


def test_benchmark_json_matches_the_code():
    b = _bench()
    assert {w["name"] for w in b["workloads"]} == set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_tail_keeps_ten_samples_beyond():
    for n in range(1, 60):
        samples = [float(i) for i in range(n)]
        t = tail(samples)
        if n <= TAIL_MIN_BEYOND:
            assert t is None
            continue
        beyond = sum(1 for s in samples if s > t["value"])
        assert beyond == TAIL_MIN_BEYOND == t["beyond"]
        assert t["n"] == n
        # the next-higher order statistic would leave only nine beyond
        assert t["percentile"] == round(100 * (n - TAIL_MIN_BEYOND) / n, 2)


def test_self_time_of_nested_spans():
    parent = Span("p", 0.0, 10.0, 1, None)
    kids = [Span("a", 1.0, 3.0, 2, 1), Span("b", 2.0, 4.0, 3, 1),  # overlap: 1..4
            Span("c", 6.0, 7.0, 4, 1), Span("d", 9.5, 12.0, 5, 1)]  # clipped at 10
    assert abs(self_time(parent, kids) - (10 - 3 - 1 - 0.5)) < 1e-12
    assert self_time(parent, []) == 10.0
    # the tracer links children to their parent by call id
    tr = Tracer(enabled=True)
    with tr.span("outer") as o:
        with tr.span("inner"):
            pass
    (inner,) = tr.children(o)
    assert inner.name == "inner" and inner.parent == o.call_id
    assert 0 <= self_time(o, [inner]) <= o.wall_s


def test_gate_flags_a_perturbed_topk():
    exp = [(5, 3.0), (2, 2.5), (9, 2.5), (1, 1.0), (7, 0.5)]
    assert topk_matches([(5, 3.0), (2, 2.5), (9, 2.5)], exp, 3)
    # tied docs may trade places
    assert topk_matches([(5, 3.0), (9, 2.5), (2, 2.5)], exp, 3)
    # swapped ranks with different scores
    assert not topk_matches([(2, 2.5), (5, 3.0), (9, 2.5)], exp, 3)
    # a wrong doc, a drifted score, a short or duplicated result
    assert not topk_matches([(5, 3.0), (2, 2.5), (1, 2.5)], exp, 3)
    assert not topk_matches([(5, 3.0 + 1e-6), (2, 2.5), (9, 2.5)], exp, 3)
    assert not topk_matches([(5, 3.0), (2, 2.5)], exp, 3)
    assert not topk_matches([(5, 3.0), (2, 2.5), (2, 2.5)], exp, 3)
    # fewer matches than k: all of them, no more
    assert topk_matches([(5, 3.0)], [(5, 3.0)], 3)


def test_output_line_names_every_metric(tmp_path):
    r = Run.__new__(Run)  # no inputs, no session: only the reporting
    r.samples = {"set_up_s": [9.0, 3.0, 3.1], "build": [1.0, 1.1],
                 "q1": [2.0, 2.2], "q16": [2.1, 2.3], "q512": [2.7]}
    r.cfg = WORKLOADS["code-serve"]
    r.index_bytes = 0.18
    r.tracer = Tracer(enabled=True)
    r.extra = {"session_s": 7.0}
    b = _bench()
    for traced, declared in ((False, b["end_to_end"]), (True, b["per_layer"])):
        metrics = r.per_layer() if traced else r.end_to_end(3 * 2**30)
        line = json.dumps({"correct": True, "attempted": 7, "failed": 0, "metrics": metrics})
        got = json.loads(line)["metrics"]
        assert set(got) == {m["name"] for m in declared}
        for m in declared:
            assert got[m["name"]]["unit"] == m["unit"]
            assert isinstance(got[m["name"]]["value"], (int, float))

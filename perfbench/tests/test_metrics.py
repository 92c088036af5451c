"""Metric names, tail percentile and self-time rules."""

import json
import os
import random
import subprocess
import sys

import run
import spans
import stats

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_metric_name_is_valid():
    names = list(run.END_TO_END) + list(run.REPORT_ONLY) + [n for n, _ in run.per_layer_names()]
    assert stats.bad_metric_names(names) == []
    assert len(names) == len(set(names))


def test_reported_metrics_match_the_declaration():
    spec = _declared()
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == [n for n, _ in run.per_layer_names()]
    assert all(stats.METRIC_NAME.fullmatch(m["name"]) for m in spec["end_to_end"] + spec["per_layer"])


def test_tail_leaves_ten_samples_beyond():
    rng = random.Random(0)
    for n in range(1, 400):
        values = [rng.random() for _ in range(n)]
        t = stats.tail(values)
        if n < 2 * stats.TAIL_BEYOND:
            assert t is None, n
            continue
        pct, value = t
        rank = sorted(values).index(value) + 1
        assert n - rank == stats.TAIL_BEYOND, n  # ten beyond, and no more
        assert 50.0 <= pct == 100.0 * rank / n < 100.0


def test_tail_with_ties_counts_ranks():
    values = [1.0] * 25 + [2.0] * 15
    pct, value = stats.tail(values)
    assert (pct, value) == (75.0, 2.0)


def test_summary_falls_back_to_max():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"samples": 3, "p50": 2.0, "tail_pct": None, "tail": 3.0}


def test_round_figures_ignore_a_slow_minority_of_rounds():
    def rec(rnd, cat, lat):
        return {"round": rnd, "category": cat, "latency_s": lat}

    recs = []
    for rnd, slow in ((0, 1.0), (1, 1.0), (2, 3.0)):  # round 2 runs on a slow host
        recs += [rec(rnd, "read", 0.1 * slow), rec(rnd, "read", 0.3 * slow),
                 rec(rnd, "read", 0.2 * slow), rec(rnd, "write", 0.4 * slow)]
    r = stats.by_round(recs)
    assert [round(x, 9) for x in r["read_p50_s"]] == [0.2, 0.2, 0.6]
    assert [round(x, 9) for x in r["ops_per_s"]] == [4.0, 4.0, round(4 / 3, 9)]
    assert stats.median(r["read_p50_s"]) == 0.2 and stats.median(r["ops_per_s"]) == 4.0


_PIN_PROBE = """
import os, subprocess, sys, threading
sys.path.insert(0, sys.argv[1])
import run
cores = set(run.pin_cores(1))
child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
done = threading.Event()
t = threading.Thread(target=done.wait)
t.start()
try:
    print(len(cores) == 1
          and os.sched_getaffinity(0) == cores
          and os.sched_getaffinity(t.native_id) == cores
          and os.sched_getaffinity(child.pid) == cores)
finally:
    done.set()
    t.join()
    child.kill()
    child.wait()
"""


def test_pinned_cores_reach_later_threads_and_children():
    # in a child interpreter, so the test run itself stays unpinned
    out = subprocess.run([sys.executable, "-c", _PIN_PROBE, BENCH],
                         capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "True", out.stderr


def _span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer, "op": "op0"}


def test_self_time_on_a_synthetic_tree():
    tree = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 4.0, "a"),
        _span(2, 0, 3.0, 6.0, "b"),   # overlaps its sibling: covered once
        _span(3, 1, 2.0, 3.0, "c"),
        _span(4, 0, 9.0, 12.0, "d"),  # runs past its parent: clipped
    ]
    st = spans.self_times(tree)
    assert st == {0: 10.0 - 5.0 - 1.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}
    assert spans.layer_self_times(tree) == {"op": 4.0, "a": 2.0, "b": 3.0, "c": 1.0, "d": 3.0}


def test_tracer_nests_spans_and_restores_functions():
    import types
    import sys

    mod = types.ModuleType("dask_awkward_spark._perfbench_fake")
    exec("def work(x):\n    return helper(x) + 1\n\ndef helper(x):\n    return x * 2\n", mod.__dict__)
    sys.modules[mod.__name__] = mod
    try:
        original = mod.work
        t = spans.Tracer(clock=iter(range(100)).__next__)
        t.instrument({mod.__name__: "fake"})
        with t.operation("op0", "kind"):
            assert mod.work(3) == 7
        names = [(s["name"], s["parent"], s["op"]) for s in t.spans]
        assert names == [("op.kind", None, "op0"), ("fake.work", 0, "op0"),
                         ("fake.helper", 1, "op0")]
        t.uninstrument()
        assert mod.work is original
    finally:
        del sys.modules[mod.__name__]

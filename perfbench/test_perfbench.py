"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pytest  # noqa: E402

import run  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402
from spans import Span, fold_tasks  # noqa: E402
from stats import overhead, skew, tail_percentile, union_length  # noqa: E402
from workloads import Unit  # noqa: E402


# -- tail percentile --------------------------------------------------------


def test_tail_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None
    p, v = tail_percentile([float(i) for i in range(11)])
    assert (p, v) == (9.0, 0.0)  # rank 1; ten samples beyond it


@pytest.mark.parametrize("n,p", [(20, 50.0), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_beyond(n, p):
    values = [float(i) for i in range(n)]
    random.Random(n).shuffle(values)
    got_p, got_v = tail_percentile(values)
    assert got_p == p
    rank = -(-int(p) * n // 100)
    assert got_v == rank - 1  # the rank-th smallest of 0..n-1
    assert sum(v > got_v for v in values) >= 10
    if p < 99:  # one percentile higher leaves fewer than ten beyond
        assert n - -(-(int(p) + 1) * n // 100) < 10


# -- interval union / overhead ---------------------------------------------


def test_union_merges_overlaps_and_ignores_empty():
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4), (7, 6)]) == 4


def test_overhead_never_negative_when_stages_overlap():
    # two concurrent stages whose walls sum past the run wall, one of
    # them spilling past the run's end: the sum-of-walls method would
    # report a negative overhead
    run_iv = (0.0, 10.0)
    stages = [(1.0, 9.0), (2.0, 9.5), (9.0, 12.0)]
    assert sum(e - s for s, e in stages) > 10.0
    assert overhead(run_iv, stages) == pytest.approx(1.0)


def test_overhead_bounds_randomized():
    rng = random.Random(7)
    for _ in range(500):
        run_iv = (rng.uniform(0, 5), rng.uniform(5, 20))
        stages = [
            tuple(sorted((rng.uniform(-5, 25), rng.uniform(-5, 25))))
            for _ in range(rng.randint(0, 8))
        ]
        o = overhead(run_iv, stages)
        assert -1e-9 <= o <= run_iv[1] - run_iv[0] + 1e-9


# -- event-log fold ---------------------------------------------------------


def _task(stage, run_ms, cpu_ns=0, gc=0, shuffle=0, spill=0, ok=True):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def _job(job, stages, submit, tag=None):
    props = {"perfbench.span": str(tag)} if tag is not None else {}
    return {
        "Event": "SparkListenerJobStart", "Job ID": job,
        "Stage IDs": stages, "Submission Time": submit, "Properties": props,
    }


def test_fold_attributes_by_tag_then_by_time():
    spans = [
        Span(0, "unit", None, 1000.0, 9000.0),
        Span(1, "operators.mentions", 0, 2000.0, 4000.0),
        Span(2, "operators.linking", 0, 5000.0, 8000.0),
    ]
    events = [
        # tagged for linking although submitted inside mentions' interval
        _job(0, [0], 2500.0, tag=2),
        # untagged: the innermost span open at submission is mentions
        _job(1, [1, 2], 3000.0),
        # untagged, outside every span: dropped
        _job(2, [3], 99000.0),
        _task(0, 100, cpu_ns=2_000_000_000, shuffle=10),
        _task(1, 100, gc=50, spill=7),
        _task(1, 300, ok=False),
        _task(2, 1000),
        _task(2, 1000),
        _task(2, 4000),
        _task(3, 123),
    ]
    f = fold_tasks(events, spans)
    assert set(f) == {1, 2}
    lk = f[2]
    assert (lk["tasks"], lk["task_s"], lk["cpu_s"], lk["shuffle_bytes"]) == (1, 0.1, 2.0, 10)
    mt = f[1]
    assert mt["tasks"] == 5
    assert mt["failed_tasks"] == 1
    assert mt["gc_s"] == pytest.approx(0.05)
    assert mt["spill_bytes"] == 7
    assert mt["task_s"] == pytest.approx(6.4)
    # heaviest stage is 2 (6 s of 6.4): max 4000 / median 1000
    assert mt["skew"] == pytest.approx(4.0)


def test_skew_edge_cases():
    assert skew([]) == 1.0
    assert skew([0.0, 0.0]) == 1.0
    assert skew([1.0, 1.0, 3.0]) == 3.0


# -- failure counting -------------------------------------------------------


class _Fake:
    """Scripted workload: each unit either passes, fails its check, or
    raises."""

    name = "fake"

    def __init__(self, script, verify_errors=()):
        self.script = list(script)
        self.verify_errors = list(verify_errors)

    def unit(self, spark, tracer=None, keep=False):
        step = self.script.pop(0) if self.script else "ok"
        if step == "raise":
            raise RuntimeError("boom")
        return Unit(0.01, 10, 5, [] if step == "ok" else ["mismatch"])

    def verify(self, spark):
        return self.verify_errors


def test_measure_counts_failed_and_raised_units():
    tally = run.Tally()
    script = ["ok"] * run.WARMUP_UNITS + ["bad", "ok", "raise"]
    timed = run.measure(_Fake(script), None, 0.0, tally)
    assert len(timed) == run.MIN_UNITS
    assert (tally.attempted, tally.failed) == (run.WARMUP_UNITS + run.MIN_UNITS + 2, 2)
    assert tally.errors == ["mismatch", "raised"]


def test_failed_verify_fails_the_warmup_unit():
    tally = run.Tally()
    run.measure(_Fake(["ok"], verify_errors=["P=0.9"]), None, 0.0, tally)
    assert tally.failed == 1 and tally.errors[0] == "P=0.9"


def test_end_check_failure_fails_every_unit():
    tally = run.Tally()
    run.measure(_Fake([]), None, 0.0, tally)
    tally.check(["incremental vs batch: 1 extra / 0 missing"])
    assert tally.failed == tally.attempted == run.WARMUP_UNITS + run.MIN_UNITS


# -- BENCHMARK.json ---------------------------------------------------------


def test_benchmark_json_names_the_metrics_reported():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)

"""The benchmark's own checks: a single wrong answer must fail a run.

Runs without Spark: every answer check compares against the numpy
model, so the checks can be fed correct and corrupted answers directly.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import harness  # noqa: E402

harness.configure_env()

import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from tracer import NullTracer  # noqa: E402


def lakehouse():
    rec = workloads.Recorder(NullTracer(), lambda: 0.0)
    wl = workloads.LakehouseReads(None, 7, rec.tracer, rec, "unused")
    wl.events = datagen.EventModel()
    r = datagen.rng(7, 1)
    for f in range(4):
        wl.events.add(datagen.event_columns(r, f * 100, 100, f % 2))
    wl.publish_snaps = [None, 3, 4]
    return wl, rec


def run_with_answer(rec, op, answer):
    op.call = lambda: answer
    rec.run(op)
    return run.result(rec, {}, {})


def test_correct_answers_pass():
    wl, rec = lakehouse()
    ev = wl.events
    out = run_with_answer(rec, wl._sql(), {"n": ev.count(), "s0": ev.sum0(), "a2": ev.mean2()})
    assert out == {"correct": True, "attempted": 1, "failed": 0, "metrics": {}}


@pytest.mark.parametrize("field,delta", [("n", 1), ("s0", -1), ("a2", 1e-3)])
def test_one_corrupted_aggregate_fails_the_run(field, delta):
    wl, rec = lakehouse()
    ev = wl.events
    good = {"n": ev.count(), "s0": ev.sum0(), "a2": ev.mean2()}
    run_with_answer(rec, wl._sql(), good)
    bad = dict(good)
    bad[field] += delta
    out = run_with_answer(rec, wl._sql(), bad)
    assert out["correct"] is False
    assert (out["attempted"], out["failed"]) == (2, 1)


def test_corrupted_lookup_and_change_feed_fail():
    wl, rec = lakehouse()
    point = wl._point(datagen.rng(1))
    key = int(datagen.rng(1).integers(0, wl.events.count()))  # the key _point drew
    c0, c2 = wl.events.row(key)
    assert point.check([{"my_col_0": c0, "my_col_2": c2}])
    assert not point.check([{"my_col_0": c0 + 1, "my_col_2": c2}])
    assert not point.check([])
    feed = wl._changes()
    last = wl.events.parts[-1]
    good = [{"_change_type": "insert", "n": len(last["id"]),
             "s0": int(last["my_col_0"].astype(np.int64).sum())}]
    assert feed.check(good)
    assert not feed.check(good + [{"_change_type": "delete", "n": 1, "s0": 5}])
    assert not feed.check([dict(good[0], n=good[0]["n"] - 1)])


def test_keyed_model_counts_updates_and_inserts():
    m = datagen.KeyedModel(np.arange(5), np.zeros(5, dtype=np.int64), ["a"] * 5)
    assert m.upsert([3, 4, 9], [1, 1, 1], ["b", "b", "b"]) == (2, 1)
    assert m.delete_range(0, 4) == 4
    assert sorted(m.rows) == [4, 9]


def test_an_operation_that_raises_counts_as_failed():
    rec = workloads.Recorder(NullTracer(), lambda: 0.0)

    def boom():
        raise RuntimeError("engine error")

    rec.run(workloads.Op("publish", boom, lambda _: True))
    out = run.result(rec, {}, {})
    assert out["correct"] is False and out["failed"] == 1


def test_a_slower_host_scales_cpu_metrics_down():
    py, job = harness.PROBE_REF_PY_S, harness.PROBE_REF_JOB_S
    got = run.scale_to_reference({"read_cpu_s": 1.0, "ingest_rows_per_cpu_s": 100.0}, 2 * py, 2 * job)
    assert got == pytest.approx({"read_cpu_s": 0.5, "ingest_rows_per_cpu_s": 200.0})
    assert run.scale_to_reference({"setup_s": 1.5}, py, job) == pytest.approx({"setup_s": 1.5})


def test_tail_percentile_keeps_ten_samples_beyond():
    assert harness.tail_percent(10) is None
    assert harness.tail_percent(11) == 9
    assert harness.tail_percent(40) == 75
    assert harness.tail_percent(100) == 90
    assert harness.percentile([1.0, 2.0, 3.0], 50) == 2.0

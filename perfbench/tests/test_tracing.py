"""Span recording and the event-log parser, on a tiny committed log
trimmed from a real Spark 4 event log: job group ``op-0`` ran two jobs
under the span ``fanout/sink.jsonl``, group ``op-1`` two untagged jobs."""

import os
import types

import pytest

from perfbench import tracing

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.json")


@pytest.fixture(scope="module")
def log():
    with open(LOG, encoding="utf-8") as f:
        return tracing.parse_event_log(f)


def test_tasks_carry_their_stage_job_group_and_span(log):
    assert [(t.stage, t.group, t.span) for t in log.tasks] == [
        (0, "op-0", "fanout/sink.jsonl"),
        (0, "op-0", "fanout/sink.jsonl"),
        (2, "op-0", "fanout/sink.jsonl"),
        (3, "op-1", ""),
        (3, "op-1", ""),
        (5, "op-1", ""),
    ]
    assert log.jobs == {0: ("op-0", "fanout/sink.jsonl"), 1: ("op-0", "fanout/sink.jsonl"),
                        2: ("op-1", ""), 3: ("op-1", "")}


def test_executor_metrics_sum_one_operation(log):
    start, end = 1792209781.898, 1792209783.084  # job 0 submitted .. job 1 completed
    m = tracing.executor_metrics(log, "op-0", start, end)
    assert m["exec.tasks"] == 3
    assert m["spark.jobs"] == 2
    assert m["exec.cpu_s"] == pytest.approx((245228706 + 147156774 + 110808689) / 1e9)
    assert m["exec.gc_s"] == pytest.approx(0.023)
    assert m["exec.shuffle_bytes"] == 874
    assert m["exec.spill_bytes"] == 0
    # tasks ran over [.165, .662] and [.877, 1.074] (s past 1792209782)
    busy = (0.662 - 0.165) + (1.074 - 0.877)
    assert m["exec.idle_s"] == pytest.approx((end - start) - busy, abs=1e-6)


def test_span_filters_match_whole_path_components(log):
    assert len(tracing.span_tasks(log, "op-0", "sink.jsonl")) == 3
    assert tracing.span_tasks(log, "op-0", "sink") == []
    assert tracing.span_jobs(log, "op-0", "fanout") == 2
    assert tracing.span_jobs(log, "op-1", "fanout") == 0


def test_busy_seconds_merges_overlaps_and_clips_to_the_window():
    task = lambda a, b: types.SimpleNamespace(launch_ms=a, finish_ms=b)  # noqa: E731
    tasks = [task(1000, 3000), task(2000, 4000), task(6000, 7000), task(9000, 12000)]
    assert tracing.busy_seconds(tasks, 0.0, 10.0) == pytest.approx(3 + 1 + 1)


class FakeContext:
    def __init__(self):
        self.props, self.groups = {}, []

    def setLocalProperty(self, key, value):
        if value is None:
            self.props.pop(key, None)
        else:
            self.props[key] = value

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_spans_nest_and_tag_jobs_with_their_path():
    sc = FakeContext()
    tr = tracing.Tracer(sc, enabled=True)
    tr.begin_op("op-3")
    with tr.span("fanout"):
        with tr.span("sink.jsonl"):
            assert sc.props[tracing.SPAN_PROPERTY] == "fanout/sink.jsonl"
        assert sc.props[tracing.SPAN_PROPERTY] == "fanout"
    assert tracing.SPAN_PROPERTY not in sc.props
    outer, inner = tr.spans
    assert (outer["parent"], inner["parent"]) == (None, outer["id"])
    assert outer["op"] == inner["op"] == "op-3" and sc.groups == ["op-3"]
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tracing.span_seconds(tr.spans, "sink.jsonl") == inner["end"] - inner["start"]


def test_patch_wraps_a_module_function_until_unpatched():
    mod = types.SimpleNamespace(load=lambda x: x * 2)
    original = mod.load
    tr = tracing.Tracer(FakeContext(), enabled=True)
    tr.patch(mod, "load", "catalog.read")
    assert mod.load(21) == 42
    assert [s["name"] for s in tr.spans] == ["catalog.read"]
    tr.unpatch()
    assert mod.load is original


def test_disabled_tracer_records_nothing():
    mod = types.SimpleNamespace(load=lambda x: x)
    sc = FakeContext()
    tr = tracing.Tracer(sc, enabled=False)
    tr.patch(mod, "load", "catalog.read")
    with tr.span("fanout"):
        mod.load(1)
    assert tr.spans == [] and sc.props == {}

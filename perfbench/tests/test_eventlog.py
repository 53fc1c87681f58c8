"""Event-log parser and span tracer."""

import json

import pytest

from perfbench import eventlog
from perfbench.tracing import Tracer


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, cpu_ns=0, shuffle_w=0, shuffle_r=(0, 0), read=0, spill=(0, 0), failed=False, metrics=True):
    ev = {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": {"Failed": failed}}
    if metrics:
        ev["Task Metrics"] = {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
            "Shuffle Read Metrics": {"Remote Bytes Read": shuffle_r[0], "Local Bytes Read": shuffle_r[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Bytes Read": read},
            "Output Metrics": {"Bytes Written": 0},
        }
    return ev


MB = 1 << 20

EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, [0, 1], "fetch:join#1"),
    _task(0, 1000, cpu_ns=500_000_000, read=3 * MB),
    _task(0, 3000, cpu_ns=1_500_000_000, read=MB),
    _task(1, 2000, shuffle_w=2 * MB),
    # job 1 lists stage 1 again (skipped there) and runs stage 2
    _job(1, [1, 2], "seen:dedup#2"),
    _task(2, 4000, shuffle_r=(MB, MB), spill=(MB, 2 * MB)),
    _task(2, 9000, failed=True),          # failed attempt: ignored
    _task(2, 0, metrics=False),           # no metrics: ignored
    _job(2, [3]),                          # no job group
    _task(3, 100),
    _job(3, [4], "seen:filter_merge#3"),
    _task(4, 500, cpu_ns=250_000_000),
]


def test_tasks_attributed_to_the_job_group_that_ran_their_stage():
    g = eventlog.parse_lines(json.dumps(e) for e in EVENTS)
    assert set(g) == {"fetch:join#1", "seen:dedup#2", "", "seen:filter_merge#3"}
    f = g["fetch:join#1"]
    assert f.tasks == 3
    assert f.executor_cpu_s == pytest.approx(2.0)
    assert sorted(f.task_s) == [1.0, 2.0, 3.0]
    assert f.input_mb == pytest.approx(4.0)
    assert f.shuffle_write_mb == pytest.approx(2.0)
    d = g["seen:dedup#2"]
    assert d.tasks == 1
    assert d.spill_mb == pytest.approx(3.0)


def test_task_skew_is_max_over_median():
    g = eventlog.parse_lines(json.dumps(e) for e in EVENTS)
    assert g["fetch:join#1"].task_skew == pytest.approx(3.0 / 2.0)
    assert eventlog.GroupMetrics().task_skew == 0.0


def test_by_layer_folds_spans_and_drops_ungrouped_jobs():
    layers = eventlog.by_layer(eventlog.parse_lines(json.dumps(e) for e in EVENTS))
    assert set(layers) == {"fetch", "seen"}
    assert layers["seen"].tasks == 2
    assert layers["seen"].executor_cpu_s == pytest.approx(0.25)
    assert sorted(layers["seen"].task_s) == [0.5, 4.0]


def test_by_span_sums_occurrences_of_a_span():
    events = EVENTS + [_job(4, [5], "seen:dedup#4"), _task(5, 1000, cpu_ns=1_000_000_000)]
    spans = eventlog.by_span(eventlog.parse_lines(json.dumps(e) for e in events))
    assert set(spans) == {"fetch:join", "seen:dedup", "seen:filter_merge"}
    assert spans["seen:dedup"].tasks == 2
    assert spans["seen:dedup"].executor_cpu_s == pytest.approx(1.0)


def test_minus_subtracts_a_prefix_span():
    full = eventlog.GroupMetrics(5, 3.0, 2.0, 4.0, 1.5, [1.0, 2.0])
    prefix = eventlog.GroupMetrics(2, 1.0, 0.5, 4.0, 0.5, [1.0])
    d = full.minus(prefix)
    assert (d.tasks, d.executor_cpu_s, d.shuffle_write_mb, d.input_mb, d.spill_mb) == (3, 2.0, 1.5, 0.0, 1.0)
    assert d.task_s == [] and d.task_skew == 0.0


def test_group_metrics_reads_the_single_log(tmp_path):
    (tmp_path / "local-123").write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n\n")
    assert eventlog.group_metrics(str(tmp_path))["fetch:join#1"].tasks == 3
    (tmp_path / "local-456").write_text("")
    with pytest.raises(RuntimeError):
        eventlog.group_metrics(str(tmp_path))


def test_tracer_nesting_and_totals():
    tr = Tracer(None)
    with tr.span("catalog", "outer") as outer:
        with tr.span("seen", "inner") as inner:
            pass
    with tr.span("seen", "inner") as again:
        pass
    assert inner.parent == outer.id and again.parent is None
    assert outer.seconds >= inner.seconds >= 0.0
    assert tr.total("seen") == pytest.approx(inner.seconds + again.seconds)
    assert tr.total("seen", "inner") == tr.total("seen")
    assert tr.total("catalog", "missing") == 0.0


def test_disabled_tracer_records_nothing():
    tr = Tracer(None, enabled=False)
    with tr.span("fetch", "join") as s:
        assert s is None
    assert tr.spans == []

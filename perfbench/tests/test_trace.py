"""Event-log parsing and span attribution on a tiny canned log."""

import json

import pytest

from perfbench import trace


def _job_start(jid, t, stages, group=None):
    props = {"spark.sql.execution.id": "0"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t, "Stage IDs": stages, "Properties": props}


def _job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid,
            "Completion Time": t, "Job Result": {"Result": "JobSucceeded"}}


def _stage(sid, t, tasks, **acc):
    names = {
        "run": "internal.metrics.executorRunTime",
        "cpu": "internal.metrics.executorCpuTime",
        "py": "time to run Python workers",
        "sent": "data sent to Python workers",
        "back": "data returned from Python workers",
        "shuffle": "internal.metrics.shuffle.write.bytesWritten",
        "rows": "internal.metrics.input.recordsRead",
        "out": "internal.metrics.output.bytesWritten",
    }
    accs = [{"ID": i, "Name": names[k], "Value": v}
            for i, (k, v) in enumerate(acc.items())]
    # SQL metrics carry string values and may repeat a name
    accs.append({"ID": 99, "Name": "number of output rows", "Value": "7"})
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Number of Tasks": tasks,
                           "Submission Time": t, "Accumulables": accs}}


# span 0 = [1000, 2000): job 0 carries its group, job 1 was submitted from
# an engine worker thread and lost it. span 1 = [2000, 2500): job 2 lists
# stage 0 again but skips it (already computed). job 3 runs outside spans.
EVENTS = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job_start(0, 1100, [0, 1], group="perfbench-0"),
    _stage(0, 1110, 4, run=400, cpu=300_000_000, py="120", sent="1000000",
           back="500000", shuffle=2_000_000),
    _stage(1, 1300, 2, run=100, cpu=50_000_000, rows=64),
    _job_end(0, 1500),
    _job_start(1, 1450, [2]),
    _stage(2, 1460, 1, run=50, out=3_000_000),
    _job_end(1, 1700),
    _job_start(2, 2100, [0, 3], group="perfbench-1"),
    _stage(3, 2110, 8, run=80, rows=10),
    _job_end(2, 2300),
    _job_start(3, 3000, [4]),
    _stage(4, 3001, 1, run=5),
    _job_end(3, 3010),
]
SPANS = [
    trace.Span("perfbench-0", "plans.build.build_index", 1000.0, 2000.0),
    trace.Span("perfbench-1", "plans.search.search", 2000.0, 2500.0,
               {"hits": 3}),
]


@pytest.fixture()
def log():
    return trace.parse_event_log(json.dumps(e) for e in EVENTS)


def test_parse_collects_jobs_and_completed_stages(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert log.jobs[0].group == "perfbench-0"
    assert log.jobs[1].group is None
    assert (log.jobs[1].submit_ms, log.jobs[1].end_ms) == (1450.0, 1700.0)
    assert sorted(log.stages) == [0, 1, 2, 3, 4]
    m = log.stages[0].metrics
    assert m["executor_cpu_ms"] == pytest.approx(300.0)
    assert m["python_io_mb"] == pytest.approx(1.5)
    assert m["shuffle_write_mb"] == pytest.approx(2.0)


def test_ungrouped_job_goes_to_the_open_span(log):
    jobs = trace.attribute(log, SPANS)
    assert [j.id for j in jobs["perfbench-0"]] == [0, 1]
    assert [j.id for j in jobs["perfbench-1"]] == [2]


def test_span_metrics_and_driver_time(log):
    build, search = trace.profile(log, SPANS)
    b = build.metrics
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 3, 7)
    assert b["executor_run_ms"] == 550
    assert b["python_worker_ms"] == 120
    assert b["scan_rows"] == 64
    assert b["output_mb"] == pytest.approx(3.0)
    # jobs cover [1100, 1700) of [1000, 2000)
    assert b["driver_ms"] == pytest.approx(400.0)
    assert build.reconcile == pytest.approx(1.0)
    # the skipped stage 0 stays with the job that ran it
    s = search.metrics
    assert (s["jobs"], s["stages"], s["tasks"]) == (1, 1, 8)
    assert s["driver_ms"] == pytest.approx(300.0)


def test_union_of_overlapping_intervals():
    assert trace.union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert trace.union_ms([]) == 0


def test_job_outliving_its_span_fails_reconciliation(log):
    short = [trace.Span("perfbench-0", "x", 1000.0, 1400.0)]
    (p,) = trace.profile(log, short)
    # job 0 runs [1100, 1500): 100 ms past the span's 400 ms
    assert p.reconcile == pytest.approx(1.25)
    assert trace.reconcile_failures([p]) == [p]


def test_per_call_means_and_missing_functions(log):
    profiles = trace.profile(log, SPANS)
    out = trace.per_call(profiles, ["plans.search.search", "plans.cdc.x"])
    assert out["plans.search.search.wall_ms"] == 500.0
    assert out["plans.search.search.jobs"] == 1.0
    assert out["plans.cdc.x.jobs"] == 0.0
    assert len(out) == 2 * len(trace.SPAN_METRICS)

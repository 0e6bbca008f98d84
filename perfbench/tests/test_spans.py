import json

import pytest

from spans import GROUP_PREFIX, Span, parse_event_log, span_rows


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, cpu_ns, run_ms, shuffle=0, spill=0):
    return _ev("SparkListenerTaskEnd", **{"Stage ID": stage, "Task Metrics": {
        "Executor CPU Time": cpu_ns, "Executor Run Time": run_ms,
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}})


def _job(job, stages, group, t0, t1):
    props = {"spark.jobGroup.id": group} if group else {}
    start = _ev("SparkListenerJobStart", **{"Job ID": job, "Submission Time": int(t0 * 1000),
                                           "Stage IDs": stages, "Properties": props})
    subs = [_ev("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": s}, "Properties": props})
            for s in stages]
    end = _ev("SparkListenerJobEnd", **{"Job ID": job, "Completion Time": int(t1 * 1000)})
    return start, subs, end


CANNED = []
for args, tasks in (
    ((0, [0], f"{GROUP_PREFIX}0", 100.0, 101.0), [_task(0, 2e9, 3000, shuffle=100), _task(0, 1e9, 1000)]),
    ((1, [1], f"{GROUP_PREFIX}1", 101.5, 102.0), [_task(1, 5e8, 800, spill=7)]),
    ((2, [2], None, 102.6, 102.8), [_task(2, 1e9, 1000)]),
):
    start, subs, end = _job(*args)
    CANNED += [start, *subs, *tasks, end]


def test_parse_groups_jobs_and_task_metrics():
    groups = parse_event_log(CANNED + [""])
    g0 = groups[f"{GROUP_PREFIX}0"]
    assert g0.jobs == [(100.0, 101.0)]
    assert g0.tasks == 2 and g0.cpu_s == pytest.approx(3.0) and g0.run_s == pytest.approx(4.0)
    assert g0.shuffle_write_bytes == 100 and g0.spill_bytes == 0
    assert groups[f"{GROUP_PREFIX}1"].spill_bytes == 7
    assert groups[""].tasks == 1  # a job outside every span


def test_span_rows_nest_counters_and_split_time():
    spans = [Span(0, "cli.main", None, 1, 99.5, 103.0), Span(1, "extract.run", 0, 1, 101.2, 102.5)]
    outer, inner = span_rows(spans, parse_event_log(CANNED))
    assert outer["wall_s"] == pytest.approx(3.5)
    assert outer["self_s"] == pytest.approx(3.5 - 1.3)
    assert outer["jobs"] == 2 and outer["tasks"] == 3  # inclusive of extract.run
    assert outer["driver_gap_s"] == pytest.approx(3.5 - 1.0 - 0.5)
    assert outer["executor_cpu_s"] == pytest.approx(3.5)
    assert inner["jobs"] == 1 and inner["tasks"] == 1
    assert inner["driver_gap_s"] == pytest.approx(1.3 - 0.5)
    assert inner["self_s"] == pytest.approx(1.3)


class _FakeContext:
    """Records the job group a Spark context would tag jobs with."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


class _Target:
    @staticmethod
    def write(df, path):
        (path / "part-0").write_text("x" * 10)
        return "done"


def test_tracer_nests_groups_and_counts_written_files(tmp_path):
    from spans import Tracer

    spark = _FakeSpark()
    tracer = Tracer(spark)
    tracer.install(_Target, "write", "catalog.write_extract_csv", path_arg=1)
    seen = []
    with tracer.span("cli.main"):
        seen.append(spark.sparkContext.group)
        assert _Target.write(None, tmp_path) == "done"
        seen.append(spark.sparkContext.group)
    seen.append(spark.sparkContext.group)
    tracer.uninstall()
    _Target.write(None, tmp_path)  # no longer traced
    outer, inner = tracer.spans
    assert seen == [f"{GROUP_PREFIX}0", f"{GROUP_PREFIX}0", None]
    assert inner.parent == outer.sid and inner.name == "catalog.write_extract_csv"
    assert (inner.files, inner.bytes) == (1, 10)
    assert len(tracer.spans) == 2

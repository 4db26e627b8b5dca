"""The event-log reader and the span arithmetic, on a hand-written log.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402
from perfbench.trace import Span, Tracer, _covered  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_job_totals_from_fixture():
    log = eventlog.read(FIXTURE)
    assert sorted(log.jobs) == [0, 1]
    j0, j1 = log.jobs[0], log.jobs[1]
    assert (j0.group, j0.submit_ms, j0.end_ms) == ("run:0", 1000, 1500)
    assert j0.call_site == "count at fixture.py:10"
    assert j0.tasks == 3 and j0.failed_tasks == 1
    assert j0.task_ms == 450
    assert j0.cpu_ns == 280_000_000
    assert j0.gc_ms == 5
    assert j0.shuffle_bytes == 2000  # 1000 written + 1000 read
    # Python time comes from the SQL metric, in ns per its metricType;
    # the plan's other metrics are ignored
    assert j0.python_ns == 80_000_000
    assert j0.python_sent_bytes == 2048
    assert j1.group is None and j1.tasks == 1 and j1.output_bytes == 4096
    assert log.task_failures == 1
    assert log.stage_retries == 1  # stage 2 ran a second attempt
    assert log.stage_tasks == {0: [100, 300], 1: [50], 2: [10]}


def test_timing_metric_in_ms_is_scaled():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1,'
        ' "Stage IDs": [0], "Properties": {}}',
        '{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",'
        ' "sparkPlanInfo": {"metrics": [{"name": "time to run Python workers",'
        ' "accumulatorId": 5, "metricType": "timing"}], "children": []}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info":'
        ' {"Accumulables": [{"ID": 5, "Update": "7"}]}, "Task Metrics": {}}',
    ]
    assert eventlog.parse(lines).jobs[0].python_ns == 7_000_000


class _FakeSc:
    """Records local properties like SparkContext does, per tracer call."""

    def __init__(self):
        self.props = {}

    def getLocalProperty(self, k):  # noqa: N802 (Spark casing)
        return self.props.get(k)

    def setLocalProperty(self, k, v):  # noqa: N802
        if v is None:
            self.props.pop(k, None)
        else:
            self.props[k] = v


def test_self_time_and_group_restore():
    sc = _FakeSc()
    sc.setLocalProperty("spark.jobGroup.id", "stream-run-id")
    tr = Tracer(sc, "t")
    with tr.span("outer") as outer:
        assert sc.props["spark.jobGroup.id"] == outer.sid
        with tr.span("inner") as inner:
            assert sc.props["spark.jobGroup.id"] == inner.sid
        assert sc.props["spark.jobGroup.id"] == outer.sid
    assert sc.props["spark.jobGroup.id"] == "stream-run-id"
    assert inner.parent == outer.sid
    # self time = duration minus the union of the children's intervals
    outer.start, outer.end, inner.start, inner.end = 0.0, 10.0, 2.0, 5.0
    extra = Span("t:9", "inner2", 4.0, outer.sid, 0, "t", end=7.0)
    tr.spans.append(extra)
    assert tr.self_time(outer) == 10.0 - 5.0
    assert _covered([(1, 3), (2, 4), (8, 20)], 0, 10) == 5


def test_unknown_group_goes_to_innermost_root_span():
    tr = Tracer(_FakeSc(), "t")
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    outer.start, outer.end, inner.start, inner.end = 0.0, 10.0, 2.0, 5.0
    log = eventlog.parse([
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 3000,'
        ' "Stage IDs": [], "Properties": {"spark.jobGroup.id": "streaming-run"}}',
        '{"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6000,'
        ' "Stage IDs": [], "Properties": {}}',
        f'{{"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 6000,'
        f' "Stage IDs": [], "Properties": {{"spark.jobGroup.id": "{inner.sid}"}}}}',
    ])
    assert tr.attribute(log) == {0: inner.sid, 1: outer.sid, 2: inner.sid}

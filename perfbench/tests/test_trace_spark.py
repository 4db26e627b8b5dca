"""Span attribution against a real event log: jobs of commits run on
worker threads (as ``page_stream`` runs its four table commits) land in
each commit's own span, not in the span that submitted the threads.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


@pytest.fixture()
def traced_spark(tmp_path):
    from pyspark.sql import SparkSession

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-trace-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file:" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    yield spark, str(events)
    spark.stop()


def test_threaded_commits_land_in_their_own_spans(traced_spark, tmp_path):
    from webindex_spark.sources.snapshots import Catalog, SnapshotTable

    spark, events = traced_spark
    cat = Catalog(str(tmp_path / "cat"))
    tracer = Tracer(spark.sparkContext, "t")
    tracer.wrap(SnapshotTable, "commit", "snapshots.commit")
    try:
        with tracer.span("page_stream.apply_page_batch") as outer:
            spark.range(10).collect()  # the outer span's one job (no shuffle)
            with ThreadPoolExecutor(max_workers=2) as pool:
                futs = [
                    pool.submit(cat.table(name).commit, spark.range(n).toDF("x"), epoch=0)
                    for name, n in (("a", 5), ("b", 7))
                ]
                for f in futs:
                    f.result()
    finally:
        tracer.unwrap_all()
    spark.stop()

    log = layers.read_eventlog(events)
    job_span = tracer.attribute(log)
    commits = [s for s in tracer.spans if s.name == "snapshots.commit"]
    assert len(commits) == 2
    assert {c.parent for c in commits} == {outer.sid}
    assert {c.thread for c in commits}.isdisjoint({outer.thread})
    by_span = {}
    for jid, sid in job_span.items():
        by_span.setdefault(sid, []).append(jid)
    assert len(by_span[outer.sid]) == 1
    for c in commits:
        assert by_span.get(c.sid), f"no jobs attributed to {c.sid}"
    assert set(job_span) == set(log.jobs)

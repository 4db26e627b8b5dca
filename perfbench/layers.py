"""Per-layer metrics of a traced run: which public calls get spans, and how
the spans and Spark's event log combine into the metric names that
BENCHMARK.json lists under ``per_layer``.

Layers are named after repository modules.  Unless a metric says
otherwise it covers the measured window only (the ``<workload>.measure``
span), and a layer idle in that window reports 0, which is itself the
"should not move" reading for workloads that bypass it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

from perfbench import eventlog
from perfbench.trace import _covered

MB = 1e6

# top layer -> the benchmark span around one of its operations
TOP_LAYERS = {
    "page_stream": "page_stream.replay",
    "sched_pipeline": "sched_pipeline.pass",
    "images": "images.pass",
    "webserver": "webserver.request",
}
SPARK_SET = {"jobs": "count", "stages": "count", "task_s": "s", "cpu_s": "s",
             "gc_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "python_s": "s",
             "no_job_s": "s", "core_util": "ratio"}
ROUTES = ("top", "pages", "page", "domain", "links")


def metric_units() -> dict:
    """name -> unit of every per-layer metric a traced run reports."""
    units = {f"{layer}.{m}": u for layer in TOP_LAYERS for m, u in SPARK_SET.items()}
    units.update({
        "session.start_s": "s", "session.persisted_rdds_end": "count",
        "session.storage_mb_end": "MB",
        "snapshots.commit_s": "s", "snapshots.commit_n": "count",
        "snapshots.read_s": "s", "snapshots.segments_per_read": "count",
        "snapshots.written_mb": "MB", "snapshots.write_amp": "ratio",
        "seen.bloom_fpr": "ratio",
        "sched_pipeline.pass_s_p50": "s", "sched_pipeline.skew": "ratio",
        "sched_pipeline.python_mb_sent": "MB",
        "images.pass_s_p50": "s", "images.python_mb_sent": "MB",
        "delta.plan_s": "s",
        "page_stream.apply_s_p50": "s", "page_stream.jobs_per_batch": "count",
        "page_stream.trigger_overhead_s": "s", "page_stream.accum_errors": "count",
    })
    units.update({f"webserver.{r}_ms_p50": "ms" for r in ROUTES})
    units.update({
        "webserver.http_ms_p50": "ms", "webserver.jobs_per_request": "count",
        "webserver.cache_s": "s", "queries.plan_ms": "ms",
        "spark.task_failures": "count", "spark.stage_retries": "count",
        "trace.read_ms_p50": "ms",
    })
    return units


def wrap_layers(tracer) -> None:
    """Spans around the public calls of every measured layer."""
    from webindex_spark.operators import delta, images, politeness, robots
    from webindex_spark.operators import sched_pipeline, seen
    from webindex_spark.plans import queries, webserver
    from webindex_spark.sources.snapshots import SnapshotTable
    from webindex_spark.streaming import page_stream

    def segments(span, args, kwargs, _out):
        table = args[0]
        sid = args[2] if len(args) > 2 else kwargs.get("snapshot")
        man = table.manifest(sid)
        span.attrs["segments"] = len(man.get("segments") or [None]) + len(
            man.get("delete_segments") or []
        )

    tracer.wrap(SnapshotTable, "commit", "snapshots.commit")
    tracer.wrap(SnapshotTable, "compact", "snapshots.compact")
    tracer.wrap(SnapshotTable, "read", "snapshots.read", on_call=segments)
    tracer.wrap_module(page_stream, "page_stream", ["start_page_stream", "apply_page_batch"])
    tracer.wrap_module(sched_pipeline, "sched_pipeline", ["schedule_frontier"])
    tracer.wrap_module(images, "images", ["verify_images"])
    tracer.wrap_module(delta, "delta", ["diff_pages", "merge_uri_counts",
                                        "merge_domain_counts", "index_row_mutations"])
    tracer.wrap_module(seen, "seen", ["bloom_insert", "bloom_probe", "filter_unseen"])
    tracer.wrap_module(politeness, "politeness", ["ranked_slots", "schedule"])
    tracer.wrap_module(robots, "robots", ["apply_robots"])
    tracer.wrap_module(queries, "queries", ["top_results", "page_details", "domain_stats",
                                            "pages_in_domain", "links_of"])
    for route in ROUTES:
        tracer.wrap(webserver.WebIndexApp, route, f"webserver.{route}")


def session_state(spark) -> tuple[int, float]:
    """(persisted RDDs, MB they hold) in the session now."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    return (len(sc._jsc.getPersistentRDDs()),
            sum(i.memSize() + i.diskSize() for i in infos) / MB)


def session_end(spark, after_setup: tuple[int, float]) -> dict:
    """Cached state the measured window and the check left in the
    session: what is persisted at the end beyond what the set-up left."""
    n, mb = session_state(spark)
    return {
        "session.persisted_rdds_end": float(n - after_setup[0]),
        "session.storage_mb_end": mb - after_setup[1],
    }


def catalog_bytes(root: str) -> tuple[int, int]:
    """(bytes of every segment on disk, bytes of the segments HEAD uses)
    over the snapshot tables under ``root``."""
    def size(path):
        return sum(os.path.getsize(f) for f in glob.glob(os.path.join(path, "*.parquet")))

    total = live = 0
    for head in glob.glob(os.path.join(root, "*", "_HEAD")):
        tdir = os.path.dirname(head)
        with open(head, encoding="utf-8") as f:
            sid = int(f.read().strip())
        with open(os.path.join(tdir, f"manifest-{sid:05d}.json"), encoding="utf-8") as f:
            man = json.load(f)
        segs = list(man.get("segments") or [f"snap-{sid:05d}"])
        segs += [s for s, _seq in man.get("delete_segments") or []]
        live += sum(size(os.path.join(tdir, s)) for s in segs)
        total += sum(size(d) for d in glob.glob(os.path.join(tdir, "snap-*")))
    return total, live


def read_eventlog(event_dir: str) -> eventlog.EventLog:
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {files}")
    return eventlog.read(files[0])


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def layer_metrics(tracer, log, workload: str, session_s: float, cores: int,
                  extra: dict, driver_log: str) -> dict:
    """name -> (value, unit) for every name of ``metric_units()``; the
    caller adds ``trace.read_ms_p50``."""
    job_span = tracer.attribute(log)
    kids = tracer.children()
    jobs_of = defaultdict(list)
    for jid, sid in job_span.items():
        jobs_of[sid].append(log.jobs[jid])
    all_jobs = [(j.submit_ms / 1e3, (j.end_ms or j.submit_ms) / 1e3)
                for j in log.jobs.values()]
    window = {s.sid for m in tracer.spans if m.name == f"{workload}.measure"
              for s in tracer.subtree(m, kids)}
    in_window = [s for s in tracer.spans if s.sid in window]

    def named(name):
        return [s for s in in_window if s.name == name]

    def jobs_in(spans):
        seen, out = set(), []
        for top in spans:
            for s in tracer.subtree(top, kids):
                for j in jobs_of.get(s.sid, []):
                    if j.job_id not in seen:
                        seen.add(j.job_id)
                        out.append(j)
        return out

    def stages_run(jobs):
        return {sid for j in jobs for sid in j.stage_ids if sid in log.stage_tasks}

    units = metric_units()
    m = dict.fromkeys(units, 0.0)
    for layer, op_name in TOP_LAYERS.items():
        spans = named(op_name)
        if not spans:
            continue
        jobs = jobs_in(spans)
        wall = sum(s.dur for s in spans)
        task_s = sum(j.task_ms for j in jobs) / 1e3
        m[f"{layer}.jobs"] = len(jobs)
        m[f"{layer}.stages"] = len(stages_run(jobs))
        m[f"{layer}.task_s"] = task_s
        m[f"{layer}.cpu_s"] = sum(j.cpu_ns for j in jobs) / 1e9
        m[f"{layer}.gc_s"] = sum(j.gc_ms for j in jobs) / 1e3
        m[f"{layer}.shuffle_mb"] = sum(j.shuffle_bytes for j in jobs) / MB
        m[f"{layer}.spill_mb"] = sum(j.spill_bytes for j in jobs) / MB
        m[f"{layer}.python_s"] = sum(j.python_ns for j in jobs) / 1e9
        m[f"{layer}.no_job_s"] = sum(
            s.dur - _covered(all_jobs, s.start, s.end) for s in spans
        )
        m[f"{layer}.core_util"] = task_s / (wall * cores) if wall else 0.0

    m["session.start_s"] = session_s
    m.update(extra)

    commits = tracer.outermost(lambda s: s.name == "snapshots.commit" and s.sid in window)
    m["snapshots.commit_s"] = sum(s.dur for s in commits)
    m["snapshots.commit_n"] = len(commits)
    reads = named("snapshots.read")
    m["snapshots.read_s"] = sum(s.dur for s in reads)
    m["snapshots.segments_per_read"] = _median([s.attrs.get("segments", 0) for s in reads])
    m["snapshots.written_mb"] = sum(j.output_bytes for j in jobs_in(commits)) / MB

    m["delta.plan_s"] = sum(s.dur for s in in_window if s.layer == "delta")

    for layer in ("sched_pipeline", "images"):
        passes = named(TOP_LAYERS[layer])
        m[f"{layer}.pass_s_p50"] = _median([s.dur for s in passes])
        if passes:
            sent = sum(j.python_sent_bytes for j in jobs_in(passes))
            m[f"{layer}.python_mb_sent"] = sent / MB / len(passes)
    skews = []
    for p in named("sched_pipeline.pass"):
        stage_runs = [log.stage_tasks[sid] for sid in stages_run(jobs_in([p]))]
        if stage_runs:
            widest = max(stage_runs, key=len)
            med = statistics.median(widest)
            skews.append(max(widest) / med if med else 1.0)
    m["sched_pipeline.skew"] = _median(skews)

    batches = named("page_stream.apply_page_batch")
    m["page_stream.apply_s_p50"] = _median([s.dur for s in batches])
    if batches:
        m["page_stream.jobs_per_batch"] = len(jobs_in(batches)) / len(batches)
    if os.path.exists(driver_log):
        with open(driver_log, encoding="utf-8", errors="replace") as f:
            m["page_stream.accum_errors"] = sum(
                "Failed to update accumulator" in line for line in f
            )

    requests = named("webserver.request")
    for r in ROUTES:
        m[f"webserver.{r}_ms_p50"] = 1e3 * _median([s.dur for s in named(f"webserver.{r}")])
    http = []
    for req in requests:
        routes = [c for c in kids.get(req.sid, []) if c.name[len("webserver."):] in ROUTES]
        if routes:
            http.append(req.dur - sum(c.dur for c in routes))
    m["webserver.http_ms_p50"] = 1e3 * _median(http)
    if requests:
        m["webserver.jobs_per_request"] = len(jobs_in(requests)) / len(requests)
    m["webserver.cache_s"] = _median(
        [s.dur for s in tracer.spans if s.name == "webserver.cache"]
    )
    m["queries.plan_ms"] = 1e3 * _median([s.dur for s in in_window if s.layer == "queries"])

    m["spark.task_failures"] = log.task_failures
    m["spark.stage_retries"] = log.stage_retries
    return {k: (float(v), units[k]) for k, v in m.items()}


def write_trace(dest: str, tracer, metrics: dict, log) -> None:
    """Spans (with self time), per-layer metrics and the jobs-per-call-site
    table."""
    os.makedirs(dest, exist_ok=True)
    kids = tracer.children()
    with open(os.path.join(dest, "spans.json"), "w", encoding="utf-8") as f:
        json.dump([{**s.__dict__, "self_s": tracer.self_time(s, kids)}
                   for s in tracer.spans], f)
    with open(os.path.join(dest, "layers.json"), "w", encoding="utf-8") as f:
        json.dump({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, f, indent=1)
    # diagnostic only, not a metric: call-site line numbers drift
    sites = defaultdict(int)
    for j in log.jobs.values():
        sites[j.call_site] += 1
    with open(os.path.join(dest, "call_sites.json"), "w", encoding="utf-8") as f:
        json.dump(dict(sorted(sites.items(), key=lambda kv: -kv[1])), f, indent=1)

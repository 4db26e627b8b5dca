"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload fetch --seed 1 --seconds 5 --trace 0

From the root of a checkout.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Lines before it print the workload's figures by name.
``--workload all`` runs every workload, untraced then traced, in child
processes and prints one table with the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORKLOAD_NAMES = ("fetch", "index")


class Ctx:
    """What a workload gets: the session, its work directory, the seed,
    the core count and (traced runs only) the tracer."""

    def __init__(self, spark, work: str, seed: int, cores: int, tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.cores, self.tracer = cores, tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


def start_session(work: str, cores: int, event_dir: str | None):
    from webindex_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    java_opts = (
        f"-Dlog4j2.configurationFile=file:{os.path.join(BENCH, 'log4j2.properties')} "
        f"-Dperfbench.log={os.path.join(work, 'driver.log')}"
    )
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    # temporary files of this process, the launcher and Spark JVMs and the
    # python workers stay in the run's work directory; the workers import
    # webindex_spark and perfbench from the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    return get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )


def _start_time(pid: int) -> str | None:
    """Start time of a live process (None once it has ended), so that a
    recycled pid is not taken for the process it replaced."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else fields[19]


def _descendants(pid: int) -> dict[int, str]:
    """Every live process under ``pid``, with its start time."""
    out, todo = {}, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/task/{p}/children", encoding="ascii") as f:
                kids = [int(c) for c in f.read().split()]
        except OSError:
            continue
        for c in kids:
            t = _start_time(c)
            if t is not None:
                out[c] = t
                todo.append(c)
    return out


def stop_session(spark, grace_s: float = 30.0) -> None:
    """Stop Spark (``spark`` may be None), then the JVM this process
    launched, and wait until the JVM and every process under it (the
    Python workers) have ended.  ``spark.stop()`` leaves the JVM running
    until this process exits, and it takes seconds to go after that.
    Calling it again does nothing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    procs = _descendants(proc.pid)
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + grace_s
        while True:
            alive = [p for p, t in procs.items() if _start_time(p) == t]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            time.sleep(0.05)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """VmHWM of this process plus the JVM it launched."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def live_heap_mb(spark) -> float:
    """JVM heap in use after a full collection: what the work left live
    (cached tables, broadcasts, Spark's status store).  Peak RSS depends
    mostly on when the collector chose to grow the heap, which varied by
    40% between runs of the same work here."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 1e6


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench import layers, workloads
    from perfbench.trace import Tracer

    cores = os.cpu_count() or 1
    out_dir = os.path.join(BENCH, "out")
    work = os.path.join(out_dir, f"work-{workload}-{os.getpid()}")
    os.makedirs(work)
    event_dir = os.path.join(work, "eventlog") if trace else None
    spark = wl = None
    try:
        t0 = time.time()
        spark = start_session(work, cores, event_dir)
        session_s = time.time() - t0
        tracer = None
        if trace:
            tracer = Tracer(spark.sparkContext, f"{workload}-{seed}")
            layers.wrap_layers(tracer)
        ctx = Ctx(spark, work, seed, cores, tracer)
        wl = workloads.WORKLOADS[workload](ctx)
        t = time.perf_counter()
        wl.setup()
        setup_s = time.perf_counter() - t
        after_setup = layers.session_state(spark) if trace else None
        t = time.perf_counter()
        with ctx.span(f"{workload}.measure"):
            attempted, failed = wl.measure(seconds)
        measure_s = time.perf_counter() - t
        live_mb = live_heap_mb(spark)
        t = time.perf_counter()
        errors = wl.check()
        print(f"{workload} phases: session {session_s:.1f}s, set-up {setup_s:.1f}s, "
              f"measure {measure_s:.1f}s, check {time.perf_counter() - t:.1f}s",
              file=sys.stderr)
        e2e = {"setup_s": (setup_s, "s"), **wl.e2e(), "live_heap_mb": (live_mb, "MB")}
        figures = {**e2e, "peak_rss_mb": (peak_rss_mb(spark), "MB"), **wl.report(),
                   "fail_frac": (failed / attempted, "ratio")}
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        if not trace:
            metrics = e2e
        else:
            tracer.unwrap_all()
            extra = wl.trace_extras()
            wl.release()
            extra.update(layers.session_end(spark, after_setup))
            wl.close()
            stop_session(spark)
            spark = None
            log = layers.read_eventlog(event_dir)
            metrics = layers.layer_metrics(
                tracer, log, workload, session_s, cores, extra,
                os.path.join(work, "driver.log"),
            )
            metrics["trace.read_ms_p50"] = (e2e["read_ms_p50"][0], "ms")
            dest = os.path.join(out_dir, f"trace-{workload}-{seed}")
            layers.write_trace(dest, tracer, metrics, log)
            print(f"trace written to {os.path.relpath(dest, ROOT)}")
        for name, (v, unit) in figures.items():
            print(f"{workload} {name} {v:.6g} {unit}")
        return {
            "correct": not errors,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if wl is not None:
            wl.close()
        stop_session(spark)  # also when the session failed to start
        shutil.rmtree(work, ignore_errors=True)


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced and traced, each in its own process."""
    rows, status = [], 0
    for w in WORKLOAD_NAMES:
        res = {}
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(p.stderr[-2000:], file=sys.stderr)
                status = 1
                break
            res[trace] = json.loads(lines[-1])
            print("\n".join(lines[:-1]))
        if len(res) == 2:
            m0, m1 = res[0]["metrics"], res[1]["metrics"]
            over = m1["trace.read_ms_p50"]["value"] - m0["read_ms_p50"]["value"]
            rows.append((w, res[0]["correct"] and res[1]["correct"], over))
    for w, ok, over in rows:
        print(f"{w} correct={ok} tracing_overhead_read_ms_p50 {over:.6g} ms")
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import webindex_spark  # the program under test, from this checkout
    except ImportError as e:
        print(f"perfbench: webindex_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(webindex_spark.__file__))) != ROOT:
        print(f"perfbench: webindex_spark comes from {webindex_spark.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

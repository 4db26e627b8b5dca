"""The benchmark's workloads.  Each drives webindex_spark only through its
public functions and has these parts:

* ``setup()``   - inputs, initial state and untimed warm-up operations;
* ``measure(seconds)`` - the measured operations; returns (attempted,
  failed), one operation being one pass, micro-batch or request cycle;
* ``check()``   - correctness of the outputs, outside the timed window;
  returns a list of failures;
* ``e2e()``     - the workload's end-to-end metrics other than the
  runner's ``setup_s`` and ``live_heap_mb``;
* ``report()``  - the workload's own figures for the printed summary;
* ``trace_extras()`` - per-layer figures only the workload can measure;
* ``release()`` - drops what the benchmark itself cached in the measured
  window, so that what stays persisted afterwards is the program's;
* ``close()``   - stops what the workload started (idempotent).
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyspark.sql.functions as F

from perfbench import gen


BLOOM_FPP = 0.01


def repeat(op, seconds: float, min_ops: int) -> tuple[int, int]:
    """Run ``op`` until ``seconds`` have passed and at least ``min_ops``
    ran.  A failed operation is counted and printed, not fatal."""
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or attempted < min_ops:
        attempted += 1
        try:
            op()
        except Exception:
            failed += 1
            traceback.print_exc()
    return attempted, failed


def _snap(df) -> set:
    return {tuple(r) for r in df.collect()}


def _median_rate(items: list[int], secs: list[float]) -> float:
    return statistics.median(n / s for n, s in zip(items, secs))


class Fetch:
    """The scheduling pass over generated candidate URLs (25% pre-seen,
    one hot host) in the cogroup regime, then image verification of the
    generated image rows.  One operation is one schedule pass and one
    verify pass."""

    name = "fetch"
    WARMUP_OPS = 1  # the first passes in a session run up to 2x slow
    MIN_OPS = 2
    N_URLS = 600_000
    N_HOSTS = 4096
    BUDGET = 20
    N_SALTS = 4
    N_IMAGES = 4_000

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sched_s: list[float] = []
        self.verify_s: list[float] = []
        self.image_errors: list[str] = []

    def setup(self) -> None:
        from webindex_spark.operators import sched_pipeline
        from webindex_spark.operators import seen as seen_ops

        spark, seed = self.spark, self.ctx.seed
        d = os.path.join(self.ctx.work, "fetch")
        gen.candidates(spark, seed, self.N_URLS, self.N_HOSTS).write.parquet(
            os.path.join(d, "cand")
        )
        gen.images(spark, seed, self.N_IMAGES, self.ctx.cores).write.parquet(
            os.path.join(d, "img")
        )
        self.sched_path = os.path.join(d, "schedule")
        self.cands = spark.read.parquet(os.path.join(d, "cand"))
        self.images = spark.read.parquet(os.path.join(d, "img"))
        self.robots = gen.robots(spark, self.N_HOSTS)
        self.seen = gen.pre_seen(self.cands, seed)
        # the filter is sized for the URIs it holds, so its measured
        # false-positive rate compares with the configured one
        self.bloom_params = seen_ops.bloom_params(self.N_URLS // 4, BLOOM_FPP, 64)
        n_parts, bits, k = self.bloom_params
        # the filter and the seen table at rest, bucketed by (host, salt)
        # as the cogroup plan requires (bench_jobs.frontier_throughput_job)
        self.pid = seen_ops.host_salt_pid("host", "uri", self.N_SALTS, n_parts, 1)
        self.bloom = seen_ops.bloom_insert(
            self.seen, seen_ops.empty_bloom(spark, n_parts, bits),
            "uri", k, bits, n_parts, pid_expr=self.pid,
        ).localCheckpoint(eager=True)
        self.seen_at_rest = sched_pipeline.partition_for_schedule(
            self.seen, n_salts=self.N_SALTS, num_partitions=self.ctx.cores
        ).localCheckpoint(eager=True)
        for _ in range(self.WARMUP_OPS):
            self.op()
        self.sched_s.clear()
        self.verify_s.clear()

    def schedule(self):
        from webindex_spark.operators import sched_pipeline
        from webindex_spark.operators import seen as seen_ops

        n_parts, bits, k = self.bloom_params
        # filter above the broadcast cap: the 10^10-scale cogroup plan
        old = seen_ops.BROADCAST_BLOOM_MAX_BYTES
        seen_ops.BROADCAST_BLOOM_MAX_BYTES = 0
        try:
            return sched_pipeline.schedule_frontier(
                self.cands, self.seen_at_rest, self.bloom, self.robots,
                self.BUDGET, n_salts=self.N_SALTS, k=k, bits=bits,
                n_partitions=n_parts, num_partitions=self.ctx.cores,
                seen_prepartitioned=True, keep_cols=[],
            )
        finally:
            seen_ops.BROADCAST_BLOOM_MAX_BYTES = old

    def op(self) -> None:
        from webindex_spark.operators import images as img_ops
        from webindex_spark.operators import synth

        t0 = time.perf_counter()
        with self.ctx.span("sched_pipeline.pass"):
            # the schedule is handed to the fetchers as a parquet batch
            self.schedule().write.mode("overwrite").parquet(self.sched_path)
        t1 = time.perf_counter()
        with self.ctx.span("images.pass"):
            res = dict(
                img_ops.verify_images(
                    self.images, synth.image_pixels, synth.image_caption
                ).groupBy("ok").count().collect()
            )
        t2 = time.perf_counter()
        self.sched_s.append(t1 - t0)
        self.verify_s.append(t2 - t1)
        if res.get(False, 0) or res.get(True, 0) != self.N_IMAGES:
            self.image_errors.append(f"fetch: image verification {res}")

    def measure(self, seconds: float) -> tuple[int, int]:
        return repeat(self.op, seconds, self.MIN_OPS)

    def check(self) -> list[str]:
        sched = self.spark.read.parquet(self.sched_path)  # the last pass's
        per_host = sched.groupBy("host").count().agg(F.max("count")).first()[0]
        seen_hits = sched.join(self.seen, ["uri", "host"], "left_semi").count()
        errors = self.image_errors[:1]
        if per_host is None or per_host > self.BUDGET:
            errors.append(f"fetch: {per_host} URLs scheduled on one host > budget {self.BUDGET}")
        if seen_hits:
            errors.append(f"fetch: {seen_hits} pre-seen URIs scheduled")
        return errors

    def e2e(self) -> dict:
        return {
            "write_items_per_s": (
                _median_rate([self.N_URLS] * len(self.sched_s), self.sched_s), "1/s"
            ),
            "read_ms_p50": (1000 * statistics.median(self.verify_s), "ms"),
        }

    def report(self) -> dict:
        return {
            "sched_urls_per_s": (self.N_URLS * len(self.sched_s) / sum(self.sched_s), "1/s"),
            "image_rows_per_s": (self.N_IMAGES * len(self.verify_s) / sum(self.verify_s), "1/s"),
        }

    def trace_extras(self) -> dict:
        """Bloom false-positive rate on never-seen URIs, over the
        configured fpp."""
        from webindex_spark.operators import seen as seen_ops

        n_parts, bits, k = self.bloom_params
        fresh = self.cands.join(self.seen, ["uri", "host"], "left_anti")
        probed = seen_ops.bloom_probe(
            fresh, self.bloom, "uri", k, bits, n_parts, pid_expr=self.pid
        )
        row = probed.agg(F.avg(F.col("maybe_seen").cast("double"))).first()
        return {"seen.bloom_fpr": (row[0] or 0.0) / BLOOM_FPP}

    def release(self) -> None:
        pass  # its checkpoints are the set-up's, which the counts leave out

    def close(self) -> None:
        pass


# one cycle of the closed loop: every route, links-in twice (the inverted
# edge scan is the lookup a link index is for)
CYCLE = ("top", "pages", "page", "domain", "links_in", "links_in", "links_out")


class Index:
    """Incremental index maintenance, then serving the result.

    Page-JSON files are replayed through ``page_stream.start_page_stream``
    (availableNow, one file per micro-batch).  Each measured micro-batch
    lands one file of new pages plus re-puts of a seeded sample of earlier
    pages with changed link sets, so counts go down and index rows are
    deleted as well as written.  Then ``webserver.WebIndexApp`` is built
    over the committed state, read back through ``SnapshotTable.read``,
    and a single client runs a closed loop over HTTP against
    ``webserver.serve``: each operation is one ``CYCLE`` of requests in a
    seeded order, with keys skewed toward the hot domain."""

    name = "index"
    N_HOSTS = 64
    PAGES_PER_FILE = 60
    REPUTS_PER_FILE = 30
    # measured micro-batches after the set-up's first; each costs about
    # 10 s, and a second does not fit the run budget (README)
    N_BATCHES = 1
    MIN_CYCLES = 8  # measured request cycles; the median drops the cold first
    SAMPLE = 7      # responses re-checked against plans.queries

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.srv = None
        self.app = None
        self.batch_s: list[float] = []
        self.batch_pages: list[int] = []
        self.trigger_s: list[float] = []
        self.overhead_s: list[float] = []
        self.cycle_s: list[float] = []
        self.lat: list[float] = []
        self.responses: list[tuple] = []

    def setup(self) -> None:
        from webindex_spark.sources.snapshots import Catalog

        d = os.path.join(self.ctx.work, "index")
        self.in_dir = os.path.join(d, "in")
        self.ckpt = os.path.join(d, "ckpt")
        os.makedirs(self.in_dir)
        self.cat = Catalog(os.path.join(d, "cat"))
        self.world = gen.PageWorld(self.ctx.seed, self.N_HOSTS)
        self.n_files = 0
        # the initial pages: the session's first (cold) micro-batch, which
        # also creates the empty state tables
        self.batch()
        for xs in (self.batch_s, self.batch_pages, self.trigger_s, self.overhead_s):
            xs.clear()

    # ------------------------------------------------------------ writes

    def _land_file(self) -> int:
        """New pages plus re-puts of earlier ones (none in the first file)."""
        pages = self.world.reput(self.REPUTS_PER_FILE) + self.world.add(self.PAGES_PER_FILE)
        gen.write_pages(os.path.join(self.in_dir, f"f{self.n_files:05d}.json"), pages)
        self.n_files += 1
        return len(pages)

    def batch(self) -> None:
        from webindex_spark.streaming import page_stream

        n = self._land_file()  # the file landing is the arrival, not the work
        t0 = time.perf_counter()
        with self.ctx.span("page_stream.replay"):
            q = page_stream.start_page_stream(
                self.spark, self.in_dir, self.cat, self.ckpt, max_files_per_trigger=1
            )
            q.awaitTermination()
        dt = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.batch_s.append(dt)
        self.batch_pages.append(n)
        for p in (json.loads(p.json) for p in q.recentProgress):
            d = p.get("durationMs", {})
            if p.get("numInputRows", 0) and "triggerExecution" in d:
                self.trigger_s.append(d["triggerExecution"] / 1000.0)
                self.overhead_s.append(
                    (d["triggerExecution"] - d.get("addBatch", 0)) / 1000.0
                )

    # ------------------------------------------------------------- reads

    def _start_server(self) -> None:
        from webindex_spark.plans import webserver

        with self.ctx.span("webserver.cache"):
            t = self.cat.table
            self.app = webserver.WebIndexApp(
                self.spark, t("uri_counts").read(self.spark),
                t("domain_counts").read(self.spark), t("index_pages").read(self.spark),
            )
        self.srv = webserver.serve(self.app)
        self.base = f"http://127.0.0.1:{self.srv.server_port}"
        self.cycles = self._cycles()

    def _cycles(self):
        world = self.world
        rng = np.random.Generator(np.random.PCG64(self.ctx.seed + 1))
        uris = sorted(world.pages)
        hot = [u for u in uris if u.startswith(f"com.h{world.hot}>")]

        def key():
            pool = hot if rng.random() < 0.3 else uris
            return pool[int(rng.integers(len(pool)))]

        def domain():
            if rng.random() < 0.3:
                return f"h{world.hot}.com"
            return f"h{world.hosts[int(rng.integers(len(world.hosts)))]}.com"

        def request(route):
            if route == "top":
                return "/top", {}
            if route in ("pages", "domain"):
                d = domain()
                return f"/{route}?domain={d}", {"domain": d}
            u = key()
            if route == "page":
                return "/page?url=" + urllib.parse.quote(world.pages[u]["url"]), {"uri": u}
            lt = route.split("_")[1]
            q = urllib.parse.urlencode({"uri": u, "linkType": lt})
            return f"/links?{q}", {"uri": u, "linkType": lt}

        while True:
            yield [(r, *request(r)) for r in rng.permutation(CYCLE)]

    def cycle(self) -> None:
        busy = 0.0
        for route, path, args in next(self.cycles):
            with self.ctx.span("webserver.request"):
                t0 = time.perf_counter()
                with urllib.request.urlopen(self.base + path, timeout=60) as r:
                    body = json.loads(r.read())
                dt = time.perf_counter() - t0
            self.lat.append(dt)
            busy += dt
            self.responses.append((route, args, body))
        self.cycle_s.append(busy)

    def measure(self, seconds: float) -> tuple[int, int]:
        a1, f1 = repeat(self.batch, 0, self.N_BATCHES)
        self._start_server()
        a2, f2 = repeat(self.cycle, seconds, self.MIN_CYCLES)
        return a1 + a2, f1 + f2

    def check(self) -> list[str]:
        return self._check_state() + self._check_responses()

    def _check_state(self) -> list[str]:
        """The streamed state equals a batch build over the final pages."""
        from webindex_spark.operators import index_batch
        from webindex_spark.sources.pages_json import read_pages_json

        final = os.path.join(self.ctx.work, "index-final.json")
        gen.write_pages(final, sorted(self.world.pages.values(), key=lambda p: p["uri"]))
        uc, dc, rows = index_batch.build_index(
            read_pages_json(self.spark, final), cache=False
        )

        def diff(item):
            name, want = item
            got = _snap(self.cat.table(name).read(self.spark))
            return name, len(got ^ _snap(want))

        # the three comparisons are independent: overlapped on threads
        with ThreadPoolExecutor(max_workers=3) as pool:
            diffs = list(pool.map(diff, (
                ("uri_counts", uc), ("domain_counts", dc), ("index_rows", rows)
            )))
        return [f"index {name}: {n} rows differ from batch recompute"
                for name, n in diffs if n]

    def _check_responses(self) -> list[str]:
        """A seeded sample of responses equals ``plans.queries`` run
        directly on the app's frames."""
        from webindex_spark.plans import queries

        app = self.app
        rng = np.random.Generator(np.random.PCG64(self.ctx.seed + 2))
        picks = rng.choice(len(self.responses), size=min(self.SAMPLE, len(self.responses)),
                           replace=False)
        errors = []
        for j in sorted(int(x) for x in picks):
            route, args, body = self.responses[j]
            rows = lambda df: [json.loads(json.dumps(r.asDict(recursive=True)))  # noqa: E731
                               for r in df.collect()]
            if route == "top":
                want = rows(queries.top_results(app.uri_counts))[: queries.PAGE_SIZE]
                got = body["results"]
            elif route == "domain":
                r = rows(queries.domain_stats(app.domain_counts, args["domain"]))
                want, got = (r[0]["pagecount"] if r else 0), body["total"]
            elif route == "pages":
                want = [
                    {"uri": r["uri"], "score": r["links_to"], "rank": r["rank"]}
                    for r in rows(queries.pages_in_domain(app.uri_counts, args["domain"]))
                ]
                got = body["pages"]
            elif route == "page":
                want = rows(queries.page_details(app.pages_state, app.uri_counts, args["uri"]))[0]
                got = body
            else:
                want = rows(queries.links_of(app.pages_state, args["uri"], args["linkType"]))
                got = body["links"]
            if got != want:
                errors.append(f"index {route} {args}: response differs from plans.queries")
        return errors

    def e2e(self) -> dict:
        return {
            "write_items_per_s": (_median_rate(self.batch_pages, self.batch_s), "1/s"),
            "read_ms_p50": (1000 * statistics.median(self.cycle_s), "ms"),
        }

    def report(self) -> dict:
        return {
            "stream_pages_per_s": (sum(self.batch_pages) / sum(self.batch_s), "1/s"),
            "stream_batch_s_p50": (statistics.median(self.trigger_s), "s"),
            "serve_ms_p50": (1000 * statistics.median(self.lat), "ms"),
            "serve_ms_p95": (1000 * statistics.quantiles(self.lat, n=20)[18], "ms"),
        }

    def trace_extras(self) -> dict:
        from perfbench.layers import catalog_bytes

        total, live = catalog_bytes(self.cat.root)
        return {
            "page_stream.trigger_overhead_s": statistics.median(self.overhead_s),
            "snapshots.write_amp": total / live if live else 0.0,
        }

    def release(self) -> None:
        if self.app is not None:
            for df in (self.app.uri_counts, self.app.domain_counts, self.app.pages_state):
                df.unpersist()

    def close(self) -> None:
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
            self.srv = None


WORKLOADS = {w.name: w for w in (Fetch, Index)}

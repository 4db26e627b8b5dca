"""Per-epoch commit+update cost for the MUTATING state tables: merge vs
full, as state grows 10x — the measurement behind the round-4 claim that
no per-epoch cost is O(state) any more.

One "tick" is exactly what run_epoch does for the table (same operators,
same commit path):

  uri_counts  — delta of D uri_deltas rows -> touched-slice semi-join ->
                merge_uri_counts -> upsert/delete commit
  frontier    — D consumed rows (tombstones) + D fresh candidates
                (upserts merged against colliding old rows via the
                broadcast-semi slice)

``full`` mode is the round-3 shape: the same logical update materialized
as the WHOLE next table and committed mode="full" (frontier: the
remaining-anti-join + union + full groupBy).

Reported per (table, mode, S): tick seconds (update compute + commit
write) and, for merge, the reconciled read-back seconds (the
merge-on-read price; bounded by compact()).

Usage: python tools/bench_odelta.py [--quick]
Emits one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

import pyspark.sql.functions as F

sys.path.insert(0, ".")

from webindex_spark.session import get_spark  # noqa: E402
from webindex_spark.sources.snapshots import Catalog  # noqa: E402


def _count_hash(df):
    """(row count, order-independent content hash) in one pass."""
    r = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("h"),  # no-overflow, order-free
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def uri_expr(prefix, col="id"):
    return F.concat(F.lit(prefix), F.col(col).cast("string")).alias("uri")


def gen_uri_counts(spark, n):
    return spark.range(n).select(
        uri_expr("com.h>>o>/p/"),
        (F.col("id") % 50 + 1).alias("links_to"),
        (F.col("id") % 2).alias("docs"),
    )


def gen_frontier(spark, n):
    return spark.range(n).select(
        uri_expr("com.h>>o>/p/"),
        F.concat(F.lit("http://h"), (F.col("id") % 1000).cast("string"),
                 F.lit(".com/p/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 1000).cast("string"),
                 F.lit(".com")).alias("host"),
        F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path"),
        (F.col("id") % 97).cast("double").alias("priority"),
        F.lit(0).cast("long").alias("discovered_epoch"),
        F.lit(False).alias("is_image"),
    )


def tick_uri_counts(spark, cat, name, state_df, n_delta, mode):
    """One UriCombineQ tick (delta.merge_uri_counts through the same
    touched-slice the epoch loop uses) committed in ``mode``."""
    from webindex_spark.operators import delta as delta_ops

    t = cat.table(name)
    t.commit(state_df, epoch=0)
    # delta: half updates to existing keys, half brand-new keys, plus a
    # slice of zero-outs (rows whose counters cancel -> delete keys)
    deltas = spark.range(n_delta).select(
        F.when(F.col("id") % 2 == 0, F.concat(F.lit("com.h>>o>/p/"), (F.col("id") * 7).cast("string")))
        .otherwise(F.concat(F.lit("com.new>>o>/x/"), F.col("id").cast("string"))).alias("uri"),
        F.when(F.col("id") % 20 == 0, F.lit(-1)).otherwise(F.lit(3))
        .cast("long").alias("d_links"),
        F.lit(0).cast("long").alias("d_docs"),
    ).localCheckpoint(eager=True)

    t0 = time.monotonic()
    if mode == "merge":
        sliced = delta_ops.touched(t.read(spark), deltas, "uri")
        _, changes = delta_ops.merge_uri_counts(sliced, deltas)
        # one state scan total: changes feeds BOTH the upsert and the
        # delete writes (run_epoch checkpoints it for the same reason)
        changes = changes.localCheckpoint(eager=True)
        ups = changes.where(
            (F.col("new_links") != 0) | (F.col("new_docs") != 0)
        ).select("uri", F.col("new_links").alias("links_to"),
                 F.col("new_docs").alias("docs"))
        dels = changes.where(
            (F.col("new_links") == 0) & (F.col("new_docs") == 0)
        ).select("uri")
        t.commit(ups, epoch=1, mode="merge", merge_keys=["uri"], deletes=dels)
    else:
        nxt, _ = delta_ops.merge_uri_counts(t.read(spark), deltas)
        t.commit(nxt, epoch=1, mode="full")
    commit_s = time.monotonic() - t0
    t0 = time.monotonic()
    n, h = _count_hash(t.read(spark))  # reconciled read-back + content hash
    read_s = time.monotonic() - t0
    return commit_s, read_s, n, h


def tick_frontier(spark, cat, name, state_df, n_delta, mode):
    """One frontier update (consumed tombstones + fresh upserts with the
    collision merge) committed in ``mode``; full mode is the round-3
    remaining∪fresh groupBy rewrite."""
    t = cat.table(name)
    t.commit(state_df, epoch=0)
    frontier = t.read(spark)
    # consumed: every 13th existing row; fresh: half colliding with
    # existing keys (priority bump), half brand-new
    newly_seen = spark.range(n_delta).select(
        F.concat(F.lit("com.h>>o>/p/"), (F.col("id") * 13).cast("string")).alias("uri")
    ).localCheckpoint(eager=True)
    # url/host/path are FUNCTIONS of the uri (as in the real engine, where
    # canonicalization derives them) — colliding fresh rows must carry the
    # same derived columns as the old row or first() vs merge would
    # legitimately differ
    # engine invariant: fresh is unseen-filtered, so a fresh uri can never
    # be in newly_seen — keep the bench world inside that invariant
    j = F.when(
        (F.col("id") % 2 == 0) & ((F.col("id") * 11 + 1) % 13 != 0),
        F.col("id") * 11 + 1,
    ).otherwise(F.lit(None).cast("long"))
    fresh = spark.range(n_delta).select(
        F.coalesce(
            F.concat(F.lit("com.h>>o>/p/"), j.cast("string")),
            F.concat(F.lit("com.new>>o>/y/"), F.col("id").cast("string")),
        ).alias("uri"),
        F.coalesce(
            F.concat(F.lit("http://h"), (j % 1000).cast("string"),
                     F.lit(".com/p/"), j.cast("string")),
            F.concat(F.lit("http://new.com/y/"), F.col("id").cast("string")),
        ).alias("url"),
        F.coalesce(
            F.concat(F.lit("h"), (j % 1000).cast("string"), F.lit(".com")),
            F.lit("new.com"),
        ).alias("host"),
        F.coalesce(
            F.concat(F.lit("/p/"), j.cast("string")),
            F.concat(F.lit("/y/"), F.col("id").cast("string")),
        ).alias("path"),
        F.lit(1000.0).alias("priority"),
        F.lit(1).cast("long").alias("discovered_epoch"),
        F.lit(False).alias("is_image"),
    ).localCheckpoint(eager=True)

    cols = ["uri", "url", "host", "path", "priority", "discovered_epoch", "is_image"]
    t0 = time.monotonic()
    if mode == "merge":
        old_slice = frontier.join(
            F.broadcast(fresh.select("uri")), "uri", "left_semi"
        ).select("uri", F.col("priority").alias("__p"),
                 F.col("discovered_epoch").alias("__d"))
        ups = fresh.join(old_slice, "uri", "left").select(
            "uri", "url", "host", "path",
            F.greatest("priority", F.coalesce("__p", F.lit(float("-inf")))).alias("priority"),
            F.least("discovered_epoch", F.coalesce("__d", F.lit(1 << 62))).cast("long").alias("discovered_epoch"),
            "is_image",
        )
        t.commit(ups, epoch=1, mode="merge", merge_keys=["uri"],
                 deletes=newly_seen)
    else:
        remaining = frontier.join(newly_seen, "uri", "left_anti")
        nxt = (
            remaining.unionByName(fresh)
            .groupBy("uri")
            .agg(F.first("url").alias("url"), F.first("host").alias("host"),
                 F.first("path").alias("path"), F.max("priority").alias("priority"),
                 F.min("discovered_epoch").alias("discovered_epoch"),
                 F.first("is_image").alias("is_image"))
            .select(*cols)
        )
        t.commit(nxt, epoch=1, mode="full")
    commit_s = time.monotonic() - t0
    t0 = time.monotonic()
    n, h = _count_hash(t.read(spark))  # reconciled read-back + content hash
    read_s = time.monotonic() - t0
    return commit_s, read_s, n, h


def gen_host_uris(spark, n, n_hosts=100):
    """A crawl epoch's uri batch: n uris over a BOUNDED host set (budget-
    limited epochs touch few hosts) — the shape that makes the filter's
    touched-shard set small under (host, salt) sharding."""
    return spark.range(n).select(
        F.concat(F.lit("com.h"), (F.col("id") % n_hosts).cast("string"),
                 F.lit(">>o>/p/"), F.col("id").cast("string")).alias("uri"),
        F.concat(F.lit("h"), (F.col("id") % n_hosts).cast("string"),
                 F.lit(".com")).alias("host"),
    )


def tick_filter(spark, cat, expected_n, n_partitions, delta, n_salts, mode):
    """One epoch's bloom-shard maintenance (seen.bloom_insert through the
    host_salt_pid sharding run_epoch's fused pipeline uses) committed in
    ``mode``: merge = delta_only insert + mode="merge" keyed on pid (only
    touched shards written); full = whole-filter insert + full commit
    (the round-4 shape whose write volume is the FILTER size)."""
    from webindex_spark.operators import seen as seen_ops

    n_parts, bits, k = seen_ops.bloom_params(expected_n, 0.01, n_partitions)
    pid = seen_ops.host_salt_pid("host", "uri", n_salts, n_parts)
    t = cat.table("bloom")
    t.commit(seen_ops.empty_bloom(spark, n_parts, bits), epoch=0)
    t0 = time.monotonic()
    if mode == "merge":
        delta_rows = seen_ops.bloom_insert(
            delta, t.read(spark), "uri", k, bits, n_parts,
            pid_expr=pid, delta_only=True,
        )
        t.commit(delta_rows, epoch=1, mode="merge", merge_keys=["pid"])
    else:
        full_rows = seen_ops.bloom_insert(
            delta, t.read(spark), "uri", k, bits, n_parts, pid_expr=pid
        )
        t.commit(full_rows, epoch=1, mode="full")
    commit_s = time.monotonic() - t0
    t0 = time.monotonic()
    n, h = _count_hash(t.read(spark))
    read_s = time.monotonic() - t0
    if t.manifest().get("mode") == "merge":
        touched = spark.read.parquet(
            os.path.join(t.dir, t.manifest()["merge_segments"][-1])
        ).count()
    else:
        touched = n  # full rewrite touches every shard row
    return commit_s, read_s, n, h, touched


def main():
    quick = "--quick" in sys.argv
    sizes = [1_000_000, 10_000_000] if not quick else [200_000, 2_000_000]
    n_delta = 100_000 if not quick else 20_000
    base = "/dev/shm" if os.access("/dev/shm", os.W_OK) else None
    root = tempfile.mkdtemp(prefix="odelta-", dir=base)
    spark = get_spark("bench-odelta", master="local[8]")
    out = {"metric": "odelta_epoch_commit", "delta_rows": n_delta, "results": []}
    try:
        # warmup: one throwaway tick per shape so JIT/codegen/parquet
        # writer init doesn't land on the first measured cell
        wuc = gen_uri_counts(spark, 50_000).localCheckpoint(eager=True)
        wfr = gen_frontier(spark, 50_000).localCheckpoint(eager=True)
        tick_uri_counts(spark, Catalog(os.path.join(root, "w1")), "w", wuc, 5_000, "merge")
        tick_frontier(spark, Catalog(os.path.join(root, "w2")), "w", wfr, 5_000, "merge")
        for s in sizes:
            uc = gen_uri_counts(spark, s).localCheckpoint(eager=True)
            fr = gen_frontier(spark, s).localCheckpoint(eager=True)
            for table, gen, tick in (
                ("uri_counts", uc, tick_uri_counts),
                ("frontier", fr, tick_frontier),
            ):
                counts = {}
                for mode in ("merge", "full"):
                    cat = Catalog(os.path.join(root, f"{table}-{mode}-{s}"))
                    c, r, n, h = tick(spark, cat, table, gen, n_delta, mode)
                    counts[mode] = (n, h)
                    out["results"].append({
                        "table": table, "mode": mode, "state_rows": s,
                        "tick_secs": round(c, 2), "read_secs": round(r, 2),
                        "rows_after": n,
                    })
                    print(f"# {table} {mode} S={s}: tick {c:.2f}s read {r:.2f}s rows {n}",
                          file=sys.stderr)
                # both modes materialize the SAME next state (count +
                # order-independent content hash)
                assert counts["merge"] == counts["full"], (table, s, counts)
            for df in (uc, fr):
                df.unpersist()
        # filter shards: commit cost vs FILTER size (the r5 ask) — a
        # bounded-host epoch batch against a growing bloom geometry;
        # merge tick should stay ~flat while full grows with the filter
        n_salts = 8
        fdelta = gen_host_uris(spark, n_delta).localCheckpoint(eager=True)
        fsizes = (
            [(50_000_000, 512), (500_000_000, 4096)]
            if not quick else [(10_000_000, 256), (100_000_000, 2048)]
        )
        for expected_n, n_partitions in fsizes:
            counts = {}
            for mode in ("merge", "full"):
                cat = Catalog(os.path.join(root, f"bloom-{mode}-{expected_n}"))
                c, r, n, h, touched = tick_filter(
                    spark, cat, expected_n, n_partitions, fdelta, n_salts, mode
                )
                counts[mode] = (n, h)
                out["results"].append({
                    "table": "bloom", "mode": mode,
                    "filter_expected_n": expected_n,
                    "n_partitions": n_partitions,
                    "tick_secs": round(c, 2), "read_secs": round(r, 2),
                    "shards_written": touched,
                })
                print(f"# bloom {mode} E={expected_n} P={n_partitions}: "
                      f"tick {c:.2f}s read {r:.2f}s wrote {touched} shards",
                      file=sys.stderr)
            assert counts["merge"] == counts["full"], (expected_n, counts)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

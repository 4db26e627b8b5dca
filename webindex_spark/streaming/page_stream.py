"""Streaming incremental index maintenance — the Structured Streaming
restatement of the reference's ``load-hdfs -> Fluo observer cascade``
(SURVEY.md §3.2): page-JSON files land in a directory, each micro-batch
runs the SAME delta engine the snapshot loop uses (operators/delta.py:
diff -> UriInfo combine -> domain ±1 -> delete-old-write-new export), and
every state table commits a snapshot tagged with the micro-batch id.

Exactly-once state maintenance comes from the same two pieces the batch
loop uses, arranged the Structured Streaming way:

  * the file source's checkpoint guarantees each input file is assigned
    to exactly one ``batch_id`` and replayed with the same id on restart;
  * ``foreachBatch`` + the snapshot tables' idempotent commit check
    (skip when the table's committed epoch >= batch_id) make the replay
    of a crashed micro-batch a no-op for tables that already published —
    the streaming twin of run_epoch's crash-resume discipline.

The invariant the tests lock: after any sequence of micro-batches, the
streamed state equals a from-scratch batch build over all pages seen so
far (the reference's IndexIT equivalence, continuously).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from webindex_spark.operators import delta as delta_ops
from webindex_spark.operators.materialize import Materializer
from webindex_spark.sources.pages_json import GSON_PAGE_SCHEMA, gson_pages_transform
from webindex_spark.sources.snapshots import Catalog

STREAM_TABLES = ("index_pages", "uri_counts", "domain_counts", "index_rows")


def _empty_state(spark: SparkSession, cat: Catalog) -> None:
    from webindex_spark.operators.frontier import URI_COUNTS_SCHEMA, INDEX_ROW_SCHEMA
    from webindex_spark.operators.index_batch import PAGE_SCHEMA

    schemas = {
        "index_pages": PAGE_SCHEMA,
        "uri_counts": URI_COUNTS_SCHEMA,
        "domain_counts": "rev_domain string, pagecount long",
        "index_rows": INDEX_ROW_SCHEMA,
    }
    # every table is probed: the init commits run concurrently, so a crash
    # can leave any subset of them published
    missing = [t for t in STREAM_TABLES if not cat.table(t).exists()]
    if not missing:
        return
    # independent empty-segment writes: overlapped on driver threads
    # (guide §2.6) — each is a tiny Spark write job whose cost is pure
    # scheduling, so running them concurrently hides all but one
    with ThreadPoolExecutor(max_workers=len(missing)) as pool:
        futs = [
            pool.submit(
                cat.table(t).commit, spark.createDataFrame([], schemas[t]), epoch=-1
            )
            for t in missing
        ]
        for f in futs:
            f.result()


def apply_page_batch(spark: SparkSession, cat: Catalog, pages: DataFrame,
                     batch_id: int) -> None:
    """One micro-batch through the incremental delta engine, committed as
    snapshot epoch ``batch_id`` (idempotent re-entry per table)."""

    def _epoch(t):
        e = cat.table(t).epoch_of_head()
        return -(10 ** 9) if e is None else e  # NB: epoch 0 is falsy

    if all(_epoch(t) >= batch_id for t in STREAM_TABLES):
        return  # crashed-after-commit replay: nothing to do

    # Read every input pinned at the last snapshot BELOW batch_id, never
    # HEAD: if a crash landed between the four per-table commits, some
    # HEADs are already at batch_id (e.g. index_pages committed, then
    # death before uri_counts).  Reading that HEAD would diff the replayed
    # batch against already-updated state, yield empty deltas, and commit
    # stale tables as batch_id — silently losing the batch.  Pinning makes
    # the replay recompute the SAME outputs the crashed attempt did, and
    # the per-table epoch check turns its re-commit into skip-or-publish.
    def _read_before(t: str) -> DataFrame:
        tbl = cat.table(t)
        sid = tbl.snapshot_before_epoch(batch_id)
        if sid is None:
            raise RuntimeError(
                f"table {t} has no snapshot below batch {batch_id}"
            )
        return tbl.read(spark, sid)

    def _commit_one(name, df, keys, dels):
        if _epoch(name) >= batch_id:
            return
        cat.table(name).commit(
            df, epoch=batch_id, lineage={"stream_batch": batch_id},
            mode="merge", merge_keys=keys, deletes=dels,
        )

    # The shared O(delta) step (delta.index_step): touched-slice reads,
    # mode="merge" commits, index_rows never read.  ``mat`` owns its
    # cuts and frees them after the last commit, also when one fails.
    #
    # The four table commits are independent of EACH OTHER (each reads its
    # own slice of the shared lazily-checkpointed delta frames, and the
    # snapshot substrate publishes per-table with an atomic HEAD replace),
    # so they run overlapped on driver threads (guide §2.6): the three
    # cheap commits hide under index_rows' deeper insert chain, and the
    # shared lazy checkpoints are materialized once whichever consumer job
    # gets there first (BlockManager block-level locking makes the race
    # compute-once).  Crash semantics are unchanged: a failure in ANY
    # commit leaves some subset of tables published at batch_id, exactly
    # the partial state the pinned replay (_read_before) is built for —
    # all remaining futures are drained before the error propagates, so a
    # replay never runs concurrently with a straggler commit.
    with Materializer() as mat:
        outputs, _ = delta_ops.index_step(
            pages.withColumn("op", F.lit("put")),
            _read_before("index_pages"),
            _read_before("uri_counts"),
            _read_before("domain_counts"),
            mat,
        )
        with ThreadPoolExecutor(max_workers=len(outputs)) as pool:
            futs = {n: pool.submit(_commit_one, n, *o) for n, o in outputs.items()}
            errs = {n: f.exception() for n, f in futs.items() if f.exception()}
    if len(errs) == 1:
        raise next(iter(errs.values()))
    if errs:
        raise RuntimeError(
            f"batch {batch_id}: {len(errs)} table commits failed: "
            + "; ".join(f"{n}: {e!r}" for n, e in errs.items())
        ) from next(iter(errs.values()))


def start_page_stream(spark: SparkSession, input_dir: str, cat: Catalog,
                      checkpoint_dir: str, available_now: bool = True,
                      max_files_per_trigger: int | None = None):
    """readStream(json lines) -> foreachBatch(delta engine) -> snapshots.

    ``available_now=True`` drains everything currently in ``input_dir``
    and stops (the batch-replay mode tests use); ``False`` runs the
    continuous micro-batch loop.  ``max_files_per_trigger`` bounds each
    micro-batch's file intake (honored by availableNow since Spark 3.3),
    forcing a multi-batch replay over a pre-staged directory — the
    oracle gate uses it to certify the incremental cascade across
    several real micro-batches rather than one drain.
    """
    _empty_state(spark, cat)
    reader = spark.readStream.schema(GSON_PAGE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(input_dir)
    pages = gson_pages_transform(raw)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        apply_page_batch(spark, cat, batch_df, batch_id)

    writer = (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

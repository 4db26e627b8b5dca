"""Incremental index maintenance — the Fluo observer cascade as batch jobs
(SURVEY.md §2.9 T1-T5, §3.2).

One call to ``apply_page_deltas`` is one "tick": it consumes a batch of
page upserts/deletes (T1), diffs them against current page state exactly
as PageObserver does (T2, PageObserver.java:72-124):

  * delete  -> docs -1 (unconditionally, reference parity) and links -1
               for every current outbound link;
  * put new -> docs +1 and links +1 for every link;
  * put update -> docs unchanged; link deltas are the two set differences
               of the link sets *keyed by (uri, url)* (Link equality,
               Link.java:67-74 — an anchor-only change emits NO link
               delta, exactly like ``Sets.difference`` over TreeSet);

then folds the UriInfo deltas into uri_counts dropping rows that sum to
ZERO (T3, UriCombineQ + UriInfo.reduce:76-82), derives domain ±1 from
0<->nonzero transitions (UriCombineQ.java:72-77), and applies
delete-old-write-new mutations to the materialized index rows (T5,
IndexClient.genUriData/genDomainData/genPageMutations:250-306).

The master invariant (IndexIT.java:107-135): after any sequence of these
ticks, every state table equals a from-scratch ``index_batch.build_index``
over the final page set — asserted step-by-step in tests/test_delta.py.

``index_step`` is the same tick against committed snapshot state, sized
by the delta instead of the state: the one step both a crawl epoch
(frontier.run_epoch) and a stream micro-batch (page_stream) run.

Physical notes: the diff is one full-outer join on the page key; link-set
diffs are ``array_except`` on (uri,url) pairs — vectorized, no shuffle
beyond the join; all merges are key-partitioned joins that Iceberg's
MERGE INTO would express directly on a cluster.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame

from webindex_spark.functions.spark_udfs import page_json, rev_encode, uri_rev_domain_col
from webindex_spark.operators.index_batch import PAGE_SCHEMA
from webindex_spark.operators.materialize import Materializer

DELTA_SCHEMA = T.StructType(PAGE_SCHEMA.fields + [T.StructField("op", T.StringType(), False)])


def diff_pages(pages_state: DataFrame, deltas: DataFrame):
    """T2. Returns (pages_next, uri_deltas, page_mutations).

    ``deltas`` must contain at most one row per uri (a batch = one Fluo
    notification sweep).  page_mutations carries what T5 needs: the op,
    the next JSON, and the added/deleted link structs.
    """
    d = deltas.select(
        F.col("uri"),
        F.col("op"),
        F.struct("url", "uri", "outbound_links", "crawl_date", "server", "title").alias("next_page"),
        F.coalesce(F.col("outbound_links"), F.array().cast(PAGE_SCHEMA["outbound_links"].dataType)).alias("next_links"),
    )
    s = pages_state.select(
        F.col("uri"),
        F.struct("url", "uri", "outbound_links", "crawl_date", "server", "title").alias("cur_page"),
        F.coalesce(F.col("outbound_links"), F.array().cast(PAGE_SCHEMA["outbound_links"].dataType)).alias("cur_links"),
    )
    j = d.join(s, "uri", "left")

    is_del = F.col("op") == "delete"
    cur_exists = F.col("cur_page").isNotNull()
    cur_links = F.coalesce(F.col("cur_links"), F.array().cast(PAGE_SCHEMA["outbound_links"].dataType))
    next_links = F.when(is_del, F.array().cast(PAGE_SCHEMA["outbound_links"].dataType)).otherwise(F.col("next_links"))

    # link-set diffs on (uri, url) identity; added links keep the NEW
    # anchor text for the inlinks row, deleted links carry the old one
    def keys_of(arr: F.Column) -> F.Column:
        return F.transform(arr, lambda l: F.struct(l["uri"].alias("uri"), l["url"].alias("url")))

    cur_keys = keys_of(cur_links)
    next_keys = keys_of(next_links)
    with_diffs = j.select(
        "uri", "op", "next_page", "cur_page",
        F.filter(
            next_links,
            lambda l: ~F.array_contains(cur_keys, F.struct(l["uri"].alias("uri"), l["url"].alias("url"))),
        ).alias("added_links"),
        F.filter(
            cur_links,
            lambda l: ~F.array_contains(next_keys, F.struct(l["uri"].alias("uri"), l["url"].alias("url"))),
        ).alias("deleted_links"),
        F.when(is_del, F.lit(-1)).when(~cur_exists, F.lit(1)).otherwise(F.lit(0))
        .cast("long").alias("d_docs"),
    )

    # uri deltas: the page's own docs delta + ±1 per added/deleted link target
    own = with_diffs.select("uri", F.lit(0).cast("long").alias("d_links"), F.col("d_docs"))
    add = with_diffs.select(F.explode("added_links").alias("l")).select(
        F.col("l.uri").alias("uri"), F.lit(1).cast("long").alias("d_links"),
        F.lit(0).cast("long").alias("d_docs"),
    )
    rem = with_diffs.select(F.explode("deleted_links").alias("l")).select(
        F.col("l.uri").alias("uri"), F.lit(-1).cast("long").alias("d_links"),
        F.lit(0).cast("long").alias("d_docs"),
    )
    uri_deltas = (
        own.unionByName(add).unionByName(rem)
        .groupBy("uri")
        .agg(F.sum("d_links").alias("d_links"), F.sum("d_docs").alias("d_docs"))
        .where((F.col("d_links") != 0) | (F.col("d_docs") != 0))
    )

    # next page state: untouched rows + puts (deletes dropped)
    untouched = pages_state.join(deltas.select("uri"), "uri", "left_anti")
    puts = deltas.where(F.col("op") != "delete").select(*[f.name for f in PAGE_SCHEMA.fields])
    pages_next = untouched.unionByName(puts)

    page_mutations = with_diffs.select("uri", "op", "next_page", "added_links", "deleted_links")
    return pages_next, uri_deltas, page_mutations


def merge_uri_counts(uri_counts: DataFrame, uri_deltas: DataFrame):
    """T3. Returns (uri_counts_next, changes) where changes carries the
    (old, new) pair per changed uri — the ChangeObserver feed."""
    changes = (
        uri_counts.join(uri_deltas, "uri", "full_outer")
        .select(
            "uri",
            F.coalesce("links_to", F.lit(0)).cast("long").alias("old_links"),
            F.coalesce("docs", F.lit(0)).cast("long").alias("old_docs"),
            (F.coalesce("links_to", F.lit(0)) + F.coalesce("d_links", F.lit(0)))
            .cast("long").alias("new_links"),
            (F.coalesce("docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0)))
            .cast("long").alias("new_docs"),
            ((F.coalesce("d_links", F.lit(0)) != 0) | (F.coalesce("d_docs", F.lit(0)) != 0))
            .alias("touched"),
        )
    )
    uri_counts_next = (
        changes.where((F.col("new_links") != 0) | (F.col("new_docs") != 0))
        .select(
            "uri",
            F.col("new_links").alias("links_to"),
            F.col("new_docs").alias("docs"),
        )
    )
    return uri_counts_next, changes.where("touched")


def merge_domain_counts(
    domain_counts: DataFrame, changes: DataFrame, with_changes: bool = False
):
    """T4: ±1 per 0<->nonzero URI transition (UriCombineQ.java:72-77);
    rows reaching 0 dropped (genDomainData emits nothing for 0).

    With ``with_changes=True`` returns ``(next, domain_changes)`` where
    domain_changes carries (rev_domain, old_pagecount, new_pagecount) for
    every TOUCHED domain — O(delta) rows from the same full-outer join
    that produces the merged table, so per-epoch telemetry like
    "domains_new" (old 0 -> new nonzero) costs no extra full-table scan
    (the round-2 metric recomputed a DISTINCT over all of uri_counts per
    tick just to count these)."""
    was_zero = (F.col("old_links") == 0) & (F.col("old_docs") == 0)
    is_zero = (F.col("new_links") == 0) & (F.col("new_docs") == 0)
    d = (
        changes.withColumn("rev_domain", uri_rev_domain_col("uri"))
        .withColumn(
            "d_count",
            F.when(was_zero & ~is_zero, F.lit(1))
            .when(~was_zero & is_zero, F.lit(-1))
            .otherwise(F.lit(0)).cast("long"),
        )
        .where(F.col("d_count") != 0)
        .groupBy("rev_domain")
        .agg(F.sum("d_count").alias("d_count"))
    )
    merged = domain_counts.join(d, "rev_domain", "full_outer").select(
        "rev_domain",
        F.coalesce("pagecount", F.lit(0)).cast("long").alias("old_pagecount"),
        (F.coalesce("pagecount", F.lit(0)) + F.coalesce("d_count", F.lit(0)))
        .cast("long").alias("new_pagecount"),
        F.col("d_count").isNotNull().alias("touched"),
    )
    nxt = merged.where(F.col("new_pagecount") != 0).select(
        "rev_domain", F.col("new_pagecount").alias("pagecount")
    )
    if not with_changes:
        return nxt
    return nxt, merged.where("touched").select(
        "rev_domain", "old_pagecount", "new_pagecount"
    )


def _uri_rows(df: DataFrame, links_col: str, docs_col: str) -> DataFrame:
    """genUriData (IndexClient.java:292-306): the 3 rows for a non-ZERO
    (uri, links_to) — t: total row, d: rank row, p: incount."""
    nz = df.where((F.col(links_col) != 0) | (F.col(docs_col) != 0)).select(
        "uri",
        F.col(links_col).alias("links_to"),
        rev_encode(F.col(links_col)).alias("enc"),
        uri_rev_domain_col("uri").alias("rev_domain"),
    )
    t = nz.select(
        F.concat(F.lit("t:"), F.col("enc"), F.lit(":"), F.col("uri")).alias("row"),
        F.lit("").alias("cf"), F.lit("").alias("cq"),
        F.col("links_to").cast("string").alias("v"),
    )
    d = nz.select(
        F.concat(F.lit("d:"), F.col("rev_domain"), F.lit(":"), F.col("enc"),
                 F.lit(":"), F.col("uri")).alias("row"),
        F.lit("rank").alias("cf"), F.lit("").alias("cq"),
        F.col("links_to").cast("string").alias("v"),
    )
    p = nz.select(
        F.concat(F.lit("p:"), F.col("uri")).alias("row"),
        F.lit("page").alias("cf"), F.lit("incount").alias("cq"),
        F.col("links_to").cast("string").alias("v"),
    )
    return t.unionByName(d).unionByName(p)


def index_row_mutations(
    changes: DataFrame,
    domain_changes: DataFrame,
    page_mutations: DataFrame,
):
    """T5 mutation generator: returns ``(inserts, delete_keys)`` — the
    delta-sized row sets an Iceberg ``MERGE INTO index_rows`` consumes
    (AccumuloTranslator.generateMutations semantics: old rows removed,
    new rows inserted, last-writer-wins per (row, cf, cq)).

    Every input is delta-sized: ``changes`` = touched uris,
    ``domain_changes`` = touched domains (rev_domain, old_pagecount,
    new_pagecount — from ``merge_domain_counts(..., with_changes=True)``),
    ``page_mutations`` = this batch's pages.  Deriving the domain rows
    from the TOUCHED slice instead of the full old/next tables keeps the
    mutation volume O(delta) — untouched domains previously produced
    identical delete+reinsert no-op pairs, an O(all-domains) cost per
    tick the reference never pays (IndexClient.genDomainMutations runs
    per exported DomainUpdate only)."""
    # uri-derived rows
    old_uri_rows = _uri_rows(changes, "old_links", "old_docs")
    new_uri_rows = _uri_rows(changes, "new_links", "new_docs")

    # domain pagecount rows for TOUCHED domains only (0-valued sides
    # produce no row, genDomainData parity)
    def _dom_rows(col: str) -> DataFrame:
        return domain_changes.where(F.col(col) != 0).select(
            F.concat(F.lit("d:"), F.col("rev_domain")).alias("row"),
            F.lit("domain").alias("cf"), F.lit("pagecount").alias("cq"),
            F.col(col).cast("string").alias("v"),
        )

    old_dom = _dom_rows("old_pagecount")
    new_dom = _dom_rows("new_pagecount")

    # page rows (genPageMutations): page:cur put/delete + inlinks add/delete
    puts = page_mutations.where(F.col("op") != "delete")
    page_cur_new = puts.select(
        F.concat(F.lit("p:"), F.col("uri")).alias("row"),
        F.lit("page").alias("cf"), F.lit("cur").alias("cq"),
        page_json(F.col("next_page")).alias("v"),
    )
    page_cur_del_keys = page_mutations.select(
        F.concat(F.lit("p:"), F.col("uri")).alias("row"),
        F.lit("page").alias("cf"), F.lit("cur").alias("cq"),
    )
    inlinks_new = page_mutations.select(
        F.col("uri").alias("src"), F.explode("added_links").alias("l")
    ).select(
        F.concat(F.lit("p:"), F.col("l.uri")).alias("row"),
        F.lit("inlinks").alias("cf"), F.col("src").alias("cq"),
        F.col("l.anchor_text").alias("v"),
    )
    inlinks_del_keys = page_mutations.select(
        F.col("uri").alias("src"), F.explode("deleted_links").alias("l")
    ).select(
        F.concat(F.lit("p:"), F.col("l.uri")).alias("row"),
        F.lit("inlinks").alias("cf"), F.col("src").alias("cq"),
    )

    inserts = (
        new_uri_rows.unionByName(new_dom)
        .unionByName(page_cur_new)
        .unionByName(inlinks_new)
    )
    delete_keys = (
        old_uri_rows.select("row", "cf", "cq")
        .unionByName(old_dom.select("row", "cf", "cq"))
        .unionByName(page_cur_del_keys)
        .unionByName(inlinks_del_keys)
        .unionByName(inserts.select("row", "cf", "cq"))  # last-writer-wins
        .distinct()
    )
    return inserts, delete_keys


def update_index_rows(
    index_rows: DataFrame,
    changes: DataFrame,
    domain_changes: DataFrame,
    page_mutations: DataFrame,
) -> DataFrame:
    """T5 applied as a full next-state table (the standalone/batch seam);
    the snapshot layer's ``mode="merge"`` commit consumes
    ``index_row_mutations`` directly instead and never materializes
    this anti-join over the whole table."""
    inserts, delete_keys = index_row_mutations(changes, domain_changes, page_mutations)
    return index_rows.join(delete_keys, ["row", "cf", "cq"], "left_anti").unionByName(inserts)


def touched(state: DataFrame, delta_keys: DataFrame, key: str) -> DataFrame:
    """The rows of ``state`` whose ``key`` occurs in ``delta_keys``: a
    broadcast SEMI join, so the state side is SCANNED (column-pruned,
    shuffle-free) but never SHUFFLED.  Iceberg equivalent: MERGE INTO's
    on-clause pushdown over a table bucketed by the merge key — at
    deltas too big to broadcast a deployment relies on that bucket
    co-location; the semantics are identical either way."""
    return state.join(F.broadcast(delta_keys.select(key)), key, "left_semi")


def index_step(
    deltas: DataFrame,
    index_pages: DataFrame,
    uri_counts: DataFrame,
    domain_counts: DataFrame,
    mat: Materializer,
):
    """One O(delta) tick of the cascade against snapshot state — the
    step a crawl epoch and a stream micro-batch share.

    Every delta-vs-state join goes through a ``touched`` slice, and each
    delta-sized frame feeding more than one consumer is cut by ``mat``
    (the caller's ``Materializer``, which releases the cuts after the
    last commit).  A cut's plan is its ``LogicalRDD`` scan, so the
    sliced-state-joins-delta shape never nests one delta's plan inside
    the next state slice (uncut, the plan grows 2^stages: measured as a
    driver OOM just printing it).  index_rows itself is never read: its
    mutations come from delta-sized inputs only.

    Returns ``(tables, (page_mutations, changes, domain_changes))``:
    ``tables`` maps each of the four index tables to the
    ``(upserts, merge_keys, deletes)`` of its ``mode="merge"`` commit;
    the triple is what ``frontier.epoch_meters`` counts."""
    deltas = mat.cut(deltas)
    # the page slice feeds both diff outputs: cut, the state is scanned once
    pages_slice = mat.cut(touched(index_pages, deltas, "uri"))
    _, uri_deltas, page_mutations = diff_pages(pages_slice, deltas)
    page_mutations = mat.cut(page_mutations)
    uri_deltas = mat.cut(uri_deltas)
    _, changes = merge_uri_counts(
        touched(uri_counts, uri_deltas, "uri"), uri_deltas
    )
    changes = mat.cut(changes)
    touched_domains = changes.select(
        uri_rev_domain_col("uri").alias("rev_domain")
    ).distinct()
    _, domain_changes = merge_domain_counts(
        touched(domain_counts, touched_domains, "rev_domain"),
        changes, with_changes=True,
    )
    domain_changes = mat.cut(domain_changes)
    inserts, delete_keys = index_row_mutations(
        changes, domain_changes, page_mutations
    )
    is_del = F.col("op") == "delete"
    uri_zero = (F.col("new_links") == 0) & (F.col("new_docs") == 0)
    dom_zero = F.col("new_pagecount") == 0
    tables = {
        "index_pages": (
            deltas.where(~is_del).select(*[f.name for f in PAGE_SCHEMA.fields]),
            ["uri"],
            deltas.where(is_del).select("uri"),
        ),
        "uri_counts": (
            changes.where(~uri_zero).select(
                "uri",
                F.col("new_links").alias("links_to"),
                F.col("new_docs").alias("docs"),
            ),
            ["uri"],
            changes.where(uri_zero).select("uri"),
        ),
        "domain_counts": (
            domain_changes.where(~dom_zero).select(
                "rev_domain", F.col("new_pagecount").alias("pagecount")
            ),
            ["rev_domain"],
            domain_changes.where(dom_zero).select("rev_domain"),
        ),
        "index_rows": (inserts, ["row", "cf", "cq"], delete_keys),
    }
    return tables, (page_mutations, changes, domain_changes)


def apply_page_deltas(pages_state, uri_counts, domain_counts, index_rows, deltas):
    """One full tick. Returns (pages_next, uri_counts_next,
    domain_counts_next, index_rows_next)."""
    pages_next, uri_deltas, page_mutations = diff_pages(pages_state, deltas)
    uri_counts_next, changes = merge_uri_counts(uri_counts, uri_deltas)
    domain_counts_next, domain_changes = merge_domain_counts(
        domain_counts, changes, with_changes=True
    )
    index_rows_next = update_index_rows(
        index_rows, changes, domain_changes, page_mutations
    )
    return pages_next, uri_counts_next, domain_counts_next, index_rows_next

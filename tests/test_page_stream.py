"""Streaming incremental index == batch recompute (the IndexIT invariant,
continuously): page-JSON files drain through foreachBatch + the delta
engine into snapshot tables; restarts and replays are idempotent."""

import os

from webindex_spark.operators import index_batch
from webindex_spark.sources.pages_json import read_pages_json
from webindex_spark.sources.snapshots import Catalog
from webindex_spark.streaming import page_stream


def _snap(df):
    return {tuple(r) for r in df.collect()}


def test_stream_matches_batch_recompute(spark, tmp_path):
    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    lines = [l for l in open(fixture, encoding="utf-8").read().splitlines() if l]
    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    (in_dir / "a.json").write_text("\n".join(lines[:2]) + "\n")
    (in_dir / "b.json").write_text("\n".join(lines[2:4]) + "\n")

    cat = Catalog(str(tmp_path / "cat"))
    q = page_stream.start_page_stream(spark, str(in_dir), cat, str(ckpt))
    q.awaitTermination(120)

    def batch_state(n_files_pages):
        uc, dc, rows = index_batch.build_index(n_files_pages, cache=False)
        return _snap(uc), _snap(dc), _snap(rows)

    pages4 = read_pages_json(spark, str(in_dir))
    want_uc, want_dc, want_rows = batch_state(pages4)
    assert _snap(cat.table("uri_counts").read(spark)) == want_uc
    assert _snap(cat.table("domain_counts").read(spark)) == want_dc
    assert _snap(cat.table("index_rows").read(spark)) == want_rows

    # more data arrives; a NEW query over the same checkpoint resumes and
    # processes only the new file
    (in_dir / "c.json").write_text("\n".join(lines[4:]) + "\n")
    q2 = page_stream.start_page_stream(spark, str(in_dir), cat, str(ckpt))
    q2.awaitTermination(120)
    pages5 = read_pages_json(spark, str(in_dir))
    want_uc5, _dc5, want_rows5 = batch_state(pages5)
    assert _snap(cat.table("uri_counts").read(spark)) == want_uc5
    assert _snap(cat.table("index_rows").read(spark)) == want_rows5


def test_partial_crash_replay_recovers_all_tables(spark, tmp_path, monkeypatch):
    """Crash BETWEEN the four per-table commits of a micro-batch: the
    replay must re-derive the same deltas (inputs pinned below batch_id,
    not read at HEAD) and publish the tables the crash skipped — the
    streamed state still equals a from-scratch batch recompute."""
    import pytest

    from webindex_spark.sources.snapshots import SnapshotTable

    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    lines = [l for l in open(fixture, encoding="utf-8").read().splitlines() if l]
    f_a, f_b = tmp_path / "a.json", tmp_path / "b.json"
    f_a.write_text("\n".join(lines[:2]) + "\n")
    f_b.write_text("\n".join(lines[2:]) + "\n")

    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)
    page_stream.apply_page_batch(
        spark, cat, read_pages_json(spark, str(f_a)), batch_id=0
    )

    # batch 1's uri_counts commit dies BEFORE publishing while the other
    # three tables (committed concurrently) publish: the most dangerous
    # partial state — replay must pin its reads BELOW batch 1 even though
    # those tables' HEADs already sit AT batch 1
    real_commit = SnapshotTable.commit

    def crashing(self, df, **kw):
        if self.name == "uri_counts" and kw.get("epoch") == 1:
            raise RuntimeError("simulated crash between table commits")
        return real_commit(self, df, **kw)

    monkeypatch.setattr(SnapshotTable, "commit", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        page_stream.apply_page_batch(
            spark, cat, read_pages_json(spark, str(f_b)), batch_id=1
        )
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)
    assert cat.table("index_pages").epoch_of_head() == 1  # crash landed mid-way
    assert cat.table("uri_counts").epoch_of_head() == 0

    # replay of batch 1 (what the streaming checkpoint does on restart)
    page_stream.apply_page_batch(
        spark, cat, read_pages_json(spark, str(f_b)), batch_id=1
    )
    all_pages = read_pages_json(spark, str(tmp_path / "*.json"))
    want_uc, want_dc, want_rows = (
        _snap(d) for d in index_batch.build_index(all_pages, cache=False)
    )
    assert _snap(cat.table("uri_counts").read(spark)) == want_uc
    assert _snap(cat.table("domain_counts").read(spark)) == want_dc
    assert _snap(cat.table("index_rows").read(spark)) == want_rows


def test_replayed_batch_is_idempotent(spark, tmp_path):
    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)
    pages = read_pages_json(spark, fixture)
    page_stream.apply_page_batch(spark, cat, pages, batch_id=0)
    before = _snap(cat.table("uri_counts").read(spark))
    heads = {t: cat.table(t).head() for t in page_stream.STREAM_TABLES}
    # crash-replay of the same micro-batch: every commit is skipped
    page_stream.apply_page_batch(spark, cat, pages, batch_id=0)
    assert {t: cat.table(t).head() for t in page_stream.STREAM_TABLES} == heads
    assert _snap(cat.table("uri_counts").read(spark)) == before


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_batch_releases_every_frame_it_persists(spark, tmp_path):
    """Every frame a micro-batch cuts or pins is unpersisted once its
    commits ran: compared as id sets, since the ContextCleaner may free
    older RDDs meanwhile."""
    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)
    pages = read_pages_json(spark, fixture)
    before = _persisted(spark)
    page_stream.apply_page_batch(spark, cat, pages, batch_id=0)
    assert cat.table("index_rows").epoch_of_head() == 0
    assert _persisted(spark) - before == set()


def test_failed_commits_are_all_reported(spark, tmp_path, monkeypatch):
    """Two table commits of one micro-batch fail: the raised error names
    both tables and both exceptions, and the batch's frames are still
    released."""
    import pytest

    from webindex_spark.sources.snapshots import SnapshotTable

    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    cat = Catalog(str(tmp_path / "cat"))
    page_stream._empty_state(spark, cat)
    pages = read_pages_json(spark, fixture)
    real_commit = SnapshotTable.commit

    def failing(self, df, **kw):
        if self.name in ("uri_counts", "domain_counts"):
            raise ValueError(f"disk full under {self.name}")
        return real_commit(self, df, **kw)

    monkeypatch.setattr(SnapshotTable, "commit", failing)
    before = _persisted(spark)
    with pytest.raises(RuntimeError) as err:
        page_stream.apply_page_batch(spark, cat, pages, batch_id=0)
    msg = str(err.value)
    for name in ("uri_counts", "domain_counts"):
        assert f"{name}: ValueError('disk full under {name}')" in msg
    assert _persisted(spark) - before == set()


def test_restart_after_failed_init_commit(spark, tmp_path, monkeypatch):
    """One of the concurrent init commits dies while the others publish:
    the restarted stream initializes the missing table and its state
    equals a batch build."""
    import pytest

    from webindex_spark.sources.snapshots import SnapshotTable

    fixture = os.path.join(os.path.dirname(__file__), "golden", "5-pages.txt")
    in_dir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    in_dir.mkdir()
    (in_dir / "a.json").write_text(open(fixture, encoding="utf-8").read())
    cat = Catalog(str(tmp_path / "cat"))
    real_commit = SnapshotTable.commit

    def crashing(self, df, **kw):
        if self.name == "uri_counts":
            raise RuntimeError("simulated crash during init")
        return real_commit(self, df, **kw)

    monkeypatch.setattr(SnapshotTable, "commit", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        page_stream.start_page_stream(spark, str(in_dir), cat, str(ckpt))
    monkeypatch.setattr(SnapshotTable, "commit", real_commit)
    assert cat.table("index_pages").exists()
    assert not cat.table("uri_counts").exists()

    q = page_stream.start_page_stream(spark, str(in_dir), cat, str(ckpt))
    q.awaitTermination(120)
    assert q.exception() is None
    want_uc, want_dc, want_rows = (
        _snap(d) for d in index_batch.build_index(
            read_pages_json(spark, str(in_dir)), cache=False
        )
    )
    assert _snap(cat.table("uri_counts").read(spark)) == want_uc
    assert _snap(cat.table("domain_counts").read(spark)) == want_dc
    assert _snap(cat.table("index_rows").read(spark)) == want_rows

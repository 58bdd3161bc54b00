"""Iceberg-style snapshot log: time travel, append isolation, expiry.

The north-star layout commits posting tables as Iceberg snapshots; these
tests pin the same contract on the file-based layer (index/snapshots.py):
immutable numbered snapshots, atomic HEAD swap, exact time-travel reads,
killed-writer safety, and expire-based reclamation.
"""

import os

import pytest
from pyspark.sql import functions as F

from dlkp_spark.config import BM25Params, IndexConfig
from dlkp_spark.corpus import generate_web_pages
from dlkp_spark.index import snapshots as snap
from dlkp_spark.index.build import load_stats, prepare_docs
from dlkp_spark.oracle import reference_query_set
from dlkp_spark.query.wand import batch_topk

CFG = IndexConfig(segment_docs=32, block_size=8, n_term_partitions=4)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """One table taken through the full LSM lifecycle:
    build(1) -> compact(2) -> append(3) -> append(4) -> reconcile(5)."""
    tdir = str(tmp_path_factory.mktemp("snap") / "tbl")
    docs = prepare_docs(generate_web_pages(spark, 200, seed=42))
    snap.commit_build(spark, docs, tdir, cfg=CFG, n_shards=2)
    snap.commit_compact(spark, tdir, factor=2, cfg=CFG, n_shards=2)
    b1 = generate_web_pages(spark, 40, seed=101)
    b2 = generate_web_pages(spark, 40, seed=102)
    snap.commit_append(spark, b1, tdir, cfg=CFG)
    snap.commit_append(spark, b2, tdir, cfg=CFG)
    snap.commit_reconcile(spark, tdir, cfg=CFG, n_shards=2)
    return tdir


def test_history_chain(spark, table):
    h = snap.history(table)
    assert [s["operation"] for s in h] == \
        ["build", "compact", "append", "append", "reconcile"]
    assert [s["snapshot_id"] for s in h] == [1, 2, 3, 4, 5]
    assert [s["parent_id"] for s in h] == [None, 1, 2, 3, 4]
    assert snap.current_snapshot(table)["snapshot_id"] == 5
    # appends layer onto the compacted version dir, not a new one
    assert h[2]["index_rel"] == h[1]["index_rel"]
    assert h[2]["stream_batches"] == [0]
    assert h[3]["stream_batches"] == [0, 1]


def test_time_travel_query_identical_across_compaction(spark, table):
    """Snapshot 1 (pre-compaction) and 2 (post) score bit-identically —
    the old snapshot stays fully queryable after the compact commit."""
    queries = reference_query_set(n_queries=10)
    rows = {}
    for sid in (1, 2):
        idx = snap.index_dir_of(table, as_of=sid)
        got = batch_topk(spark, idx, queries, BM25Params(), k=10,
                         postings=snap.read_postings(spark, table, as_of=sid))
        rows[sid] = sorted(tuple(r) for r in got.collect())
    assert rows[1] == rows[2]


def test_append_snapshot_isolation(spark, table):
    """Each append snapshot sees exactly the batches committed as of it;
    older snapshots are unaffected by later appends (immutability)."""
    def n_postings(sid):
        return snap.read_postings(spark, table, as_of=sid) \
            .agg(F.sum("n_postings")).collect()[0][0]

    base, a1, a2 = n_postings(2), n_postings(3), n_postings(4)
    assert base < a1 < a2
    # snapshot 3's view is byte-stable: re-reading it AFTER snapshot 4+5
    # landed returns the same posting total (older batch dirs never rewritten)
    assert n_postings(3) == a1


def test_appended_doc_ids_disjoint_from_base(spark, table):
    """The round-5 seeding fix: first append into a dir holding a base
    build starts doc ids at the base's n_docs, not 0 — reconcile's
    disjoint-ranges invariant holds and the reconciled index counts
    every distinct document exactly once."""
    import dlkp_spark.index.manifest as mf

    vdir = snap.index_dir_of(table, as_of=3)
    m = mf.read_global(vdir, "ingest.json")
    base_docs = load_stats(vdir)["n_docs"]
    assert m["batches"]["0"]["base"] == base_docs  # not 0
    rec = load_stats(snap.index_dir_of(table, as_of=5))
    assert rec["n_docs"] == base_docs + 80


def test_reconciled_snapshot_queries(spark, table):
    """The reconcile snapshot is a self-contained exact index: querying it
    returns k hits per query with globally-consistent scoring."""
    queries = reference_query_set(n_queries=5)
    idx = snap.index_dir_of(table)  # HEAD = reconcile
    got = batch_topk(spark, idx, queries, BM25Params(), k=5).collect()
    assert len(got) == 25
    assert all(r["score"] > 0 for r in got)


def test_killed_writer_and_expiry(spark, tmp_path):
    """A writer killed before _commit leaves HEAD unchanged and an orphan
    version dir; expire_snapshots reclaims both the orphan and expired
    snapshots while HEAD stays readable."""
    from dlkp_spark.index.merge import merge_segments

    tdir = str(tmp_path / "tbl")
    docs = prepare_docs(generate_web_pages(spark, 60, seed=7))
    snap.commit_build(spark, docs, tdir, cfg=CFG, n_shards=1)
    snap.commit_compact(spark, tdir, factor=2, cfg=CFG, n_shards=1)

    # simulate a compact killed after writing its version dir, before commit
    rel, orphan = snap._next_version_dir(tdir)
    merge_segments(spark, snap.index_dir_of(tdir), orphan, factor=2, cfg=CFG)
    assert snap.current_snapshot(tdir)["snapshot_id"] == 2  # HEAD unmoved
    assert os.path.isdir(orphan)

    q = reference_query_set(n_queries=3)
    before = sorted(tuple(r) for r in batch_topk(
        spark, snap.index_dir_of(tdir), q, BM25Params(), k=5).collect())

    expired = snap.expire_snapshots(tdir, keep_last=1)
    assert expired == [1]
    assert not os.path.isdir(os.path.join(tdir, "v00001"))  # v1 reclaimed
    assert not os.path.isdir(orphan)  # orphan reclaimed
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(tdir, 1)
    # HEAD queries bit-identically after expiry
    after = sorted(tuple(r) for r in batch_topk(
        spark, snap.index_dir_of(tdir), q, BM25Params(), k=5).collect())
    assert before == after and len(before) > 0


def test_read_postings_raises_when_segments_are_gone(spark, tmp_path):
    """A retained snapshot whose segment data was deleted out from under
    it raises FileNotFoundError (a typed error, not an assert that
    ``python -O`` strips); other snapshots stay readable."""
    import shutil

    tdir = str(tmp_path / "tbl")
    docs = prepare_docs(generate_web_pages(spark, 40, seed=7))
    snap.commit_build(spark, docs, tdir, cfg=CFG, n_shards=1)
    snap.commit_compact(spark, tdir, factor=2, cfg=CFG, n_shards=1)
    shutil.rmtree(os.path.join(snap.index_dir_of(tdir, as_of=1), "segments"))
    with pytest.raises(FileNotFoundError,
                       match="snapshot 1 references segment data that is gone"):
        snap.read_postings(spark, tdir, as_of=1)
    assert snap.read_postings(spark, tdir).count() > 0


def test_replayed_append_not_double_listed(spark, tmp_path):
    """A streaming retry recommits the SAME batch_id; the snapshot must
    list it once (read_postings would otherwise double-read the batch)."""
    tdir = str(tmp_path / "tbl")
    docs = prepare_docs(generate_web_pages(spark, 60, seed=7))
    snap.commit_build(spark, docs, tdir, cfg=CFG, n_shards=1)
    b = generate_web_pages(spark, 10, seed=8)
    s1 = snap.commit_append(spark, b, tdir, cfg=CFG, batch_id=0)
    s2 = snap.commit_append(spark, b, tdir, cfg=CFG, batch_id=0)  # retry
    assert s1["stream_batches"] == s2["stream_batches"] == [0]
    assert s2["lineage"]["replay"] is True
    n1 = snap.read_postings(spark, tdir, as_of=s1["snapshot_id"]) \
        .agg(F.sum("n_postings")).collect()[0][0]
    n2 = snap.read_postings(spark, tdir, as_of=s2["snapshot_id"]) \
        .agg(F.sum("n_postings")).collect()[0][0]
    assert n1 == n2


def test_compact_refuses_pending_stream_batches(spark, tmp_path):
    """Compaction reads only base segments, so compacting over
    un-reconciled appends would silently drop them — must refuse."""
    tdir = str(tmp_path / "tbl")
    docs = prepare_docs(generate_web_pages(spark, 60, seed=7))
    snap.commit_build(spark, docs, tdir, cfg=CFG, n_shards=1)
    snap.commit_append(spark, generate_web_pages(spark, 10, seed=8), tdir, cfg=CFG)
    with pytest.raises(ValueError, match="pending stream batches"):
        snap.commit_compact(spark, tdir, factor=2, cfg=CFG)


def test_append_requires_build(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        snap.commit_append(spark, generate_web_pages(spark, 5, seed=1),
                           str(tmp_path / "empty_tbl"), cfg=CFG)

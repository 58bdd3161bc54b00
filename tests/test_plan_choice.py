"""The segment-query plan choice: under ``SINGLE_TASK_MAX_ROWS`` a
one-wave query runs as one task (coalesce(1) + mapInPandas; top-k calls
rank in the task); above it the segment-parallel plan
(groupBy(segment).applyInPandas + the row_number window) runs. Both run
the same per-segment kernel, so every call here must return identical
rows under both plans: the cutoff at its value (the fixtures are small,
so the one-task plan) and at 0 (the parallel plan).
"""

import pytest
from pyspark.sql import functions as F

from dlkp_spark.config import BM25Params, IndexConfig
from dlkp_spark.corpus import generate_web_pages
from dlkp_spark.index.build import build_index, prepare_docs
from dlkp_spark.oracle import reference_query_set
from dlkp_spark.query import wand

from test_plans import TERMS, _segment_queries, query_table  # noqa: F401

N_PAGES = 240
N_DUPS = 60
K = 10
CFG = IndexConfig(segment_docs=64, block_size=16, n_term_partitions=4)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    """Pages plus N_DUPS copies of the first pages' text under new urls:
    a copy scores exactly like its original, so the doc_id tie-break
    decides their order."""
    pages = generate_web_pages(spark, N_PAGES, seed=42)
    dups = (pages.orderBy("url").limit(N_DUPS)
            .withColumn("url", F.concat(F.col("url"), F.lit("/copy"))))
    d = str(tmp_path_factory.mktemp("planchoice")) + "/idx"
    build_index(spark, prepare_docs(pages.unionByName(dups)), d, cfg=CFG,
                n_shards=1)
    return d


def _both_plans(spark, monkeypatch, call):
    """(schema, rows) of ``call()`` under the one-task plan and under the
    parallel plan; asserts each call took the plan it was meant to."""
    out = []
    for cutoff in (wand.SINGLE_TASK_MAX_ROWS, 0):
        with monkeypatch.context() as m:
            m.setattr(wand, "SINGLE_TASK_MAX_ROWS", cutoff)
            df = call()
            plan = df._jdf.queryExecution().executedPlan().toString()
            single = "FlatMapGroupsInPandas" not in plan
            assert single == (cutoff > 0), plan
            out.append((df.schema, sorted(tuple(r) for r in df.collect())))
    return out


def _assert_same(spark, monkeypatch, call):
    (s1, r1), (s2, r2) = _both_plans(spark, monkeypatch, call)
    assert s1 == s2
    assert r1 == r2
    return r1


def test_reference_batch_identical(spark, index_dir, monkeypatch):
    qs = reference_query_set(seed=11, n_queries=40)
    rows = _assert_same(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, qs, BM25Params(), k=K))
    assert len({r[0] for r in rows}) > 30


def test_duplicate_texts_tie_break_identical(spark, index_dir, monkeypatch):
    qs = [(0, ["w0003"]), (1, ["w0010", "w0017"]), (2, ["data", "query"])]
    rows = _assert_same(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, qs, BM25Params(), k=K))
    # the copies really tie: some query has equal scores on distinct docs,
    # ranked by doc_id asc
    ties = [(a, b) for a, b in zip(rows, rows[1:])
            if a[0] == b[0] and a[3] == b[3]]
    assert ties, rows
    assert all(a[2] < b[2] for a, b in ties)


@pytest.mark.parametrize("kw", [
    {"conjunctive": True},
    {"min_match": 2},
    {"must_not": {0: ["w0010"], 2: ["w0001"]}},
], ids=["conjunctive", "min_match", "must_not"])
def test_query_options_identical(spark, index_dir, monkeypatch, kw):
    qs = [(0, ["w0003", "w0017", "w0002"]), (1, ["w0000", "w0001", "w0003"]),
          (2, ["w0004", "w0005"])]
    rows = _assert_same(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, qs, BM25Params(), k=K, **kw))
    assert rows


def test_boosts_identical(spark, index_dir, monkeypatch):
    qs = [(0, ["w0003^2.5", "w0017"]), (1, ["w0000", "w0001^0.5"])]
    rows = _assert_same(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, qs, BM25Params(), k=K))
    assert {r[0] for r in rows} == {0, 1}


def test_search_after_identical(spark, index_dir, monkeypatch):
    qs = [(0, ["w0003", "w0017"]), (1, ["w0000"])]
    page1 = _assert_same(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, qs, BM25Params(), k=K))
    after = {q: (s, d) for q, r, d, s in page1 if r == K}
    assert set(after) == {0, 1}
    page2 = _assert_same(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, qs, BM25Params(), k=K, after=after))
    assert page2 and not {(q, d) for q, _, d, _ in page1} \
        & {(q, d) for q, _, d, _ in page2}


def test_k_above_hit_count_identical(spark, index_dir, monkeypatch):
    qs = [(0, ["w0003"]), (1, ["w0010", "w0017"])]
    rows = _assert_same(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, qs, BM25Params(), k=N_PAGES + N_DUPS + 1))
    per_q = {q: max(r for qq, r, _, _ in rows if qq == q) for q in (0, 1)}
    assert all(n < N_PAGES + N_DUPS for n in per_q.values()), per_q
    assert len(rows) == sum(per_q.values())


def test_no_match_is_empty_with_same_schema(spark, index_dir, monkeypatch):
    (s1, r1), (s2, r2) = _both_plans(spark, monkeypatch, lambda: wand.batch_topk(
        spark, index_dir, [(0, ["zzznomatch"]), (1, ["qqqalsonone"])],
        BM25Params(), k=K))
    assert r1 == r2 == []
    assert s1 == s2
    assert [f.name for f in s1.fields] == ["query_id", "rank", "doc_id", "score"]



@pytest.mark.parametrize("entry", sorted(_segment_queries())
                         + ["batch_topk_deletes", "batch_topk_filtered"])
def test_segment_query_entry_identical(spark, query_table, monkeypatch,
                                       entry):
    """Every segment-query entry point, and batch_topk with an attribute
    filter or tombstones (both once pinned to the parallel plan), returns
    the same rows and schema on both plans."""
    t, d = query_table
    q = [(0, TERMS)]
    dead = set()
    if entry == "batch_topk_filtered":
        def call():
            return wand.batch_topk(spark, d, q, k=5,
                                   filters={"lang": ["en", "de"]})
    elif entry == "batch_topk_deletes":
        dead = {r.doc_id for r in wand.batch_topk(spark, d, q, k=3).collect()}
        dels = spark.createDataFrame([(x,) for x in sorted(dead)], "doc_id long")

        def call():
            return wand.batch_topk(spark, d, q, k=5, deletes=dels)
    else:
        def call():
            return _segment_queries()[entry](spark, t, d)
    rows = _assert_same(spark, monkeypatch, call)
    assert rows, entry
    if dead:
        assert not dead & {r[2] for r in rows}, rows

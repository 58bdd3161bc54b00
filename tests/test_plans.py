"""Physical-plan shape assertions: the optimizations the engine relies on
must actually appear in the plan (predicate pushdown, column pruning,
broadcast joins) — regressions here silently cost 10-100× at scale.
"""

import re

import pytest
from pyspark.sql import functions as F

from dlkp_spark.config import BM25Params, IndexConfig
from dlkp_spark.corpus import generate_web_pages
from dlkp_spark.index.build import build_index, load_postings, prepare_docs

from conftest import jobs_of


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("planidx"))
    docs = prepare_docs(generate_web_pages(spark, 120, seed=42))
    build_index(spark, docs, d,
                cfg=IndexConfig(segment_docs=64, block_size=16, n_term_partitions=4),
                n_shards=1)
    return d


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_filter_pushed_to_parquet(spark, index_dir):
    df = load_postings(spark, index_dir).filter(F.col("term") == "w0003")
    plan = plan_of(df)
    assert "PushedFilters" in plan and "w0003" in plan, plan


def test_posting_scan_prunes_columns(spark, index_dir):
    df = load_postings(spark, index_dir).select("term", "df")
    plan = plan_of(df)
    # binary blobs must NOT be read for a stats-only projection
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "docs_vb" not in read_schema[0], plan


@pytest.fixture(scope="module")
def query_table(spark, tmp_path_factory):
    """A snapshot table whose index carries positions and a ``lang``
    attribute sidecar, so every segment-query entry point can run on it."""
    from dlkp_spark.index import snapshots as sn

    t = str(tmp_path_factory.mktemp("planqt")) + "/tbl"
    docs = prepare_docs(generate_web_pages(spark, 120, seed=42))
    sn.commit_build(spark, docs, t,
                    cfg=IndexConfig(segment_docs=64, block_size=16,
                                    n_term_partitions=4, positions=True),
                    n_shards=1, attrs=("lang",))
    return t, sn.index_dir_of(t)


TERMS = ["w0003", "w0010"]


def _segment_queries():
    from dlkp_spark.index.snapshots import snapshot_topk
    from dlkp_spark.query import phrase, wand

    q = [(0, TERMS)]
    return {
        "batch_topk": lambda s, t, d: wand.batch_topk(s, d, q, k=5),
        "wand_topk": lambda s, t, d: wand.wand_topk(s, d, q, k=5),
        "snapshot_topk": lambda s, t, d: snapshot_topk(s, t, q, k=5),
        "synonym_topk": lambda s, t, d: wand.synonym_topk(
            s, d, [(0, [TERMS])], k=5),
        "collapse_topk": lambda s, t, d: wand.collapse_topk(
            s, d, q, "lang", k=5),
        "dismax_topk": lambda s, t, d: wand.dismax_topk(s, d, q, k=5),
        "match_counts": lambda s, t, d: wand.match_counts(s, d, q),
        "facet_counts": lambda s, t, d: wand.facet_counts(s, d, q, "lang"),
        "explain_scores": lambda s, t, d: wand.explain_scores(
            s, d, q, [0, 1, 2]),
        "phrase_topk": lambda s, t, d: phrase.phrase_topk(s, d, q, k=5),
        "phrase_prefix_topk": lambda s, t, d: phrase.phrase_prefix_topk(
            s, d, q, k=5),
    }


@pytest.mark.parametrize("entry", sorted(_segment_queries()))
def test_query_terms_are_a_pushed_scan_predicate(spark, query_table, entry):
    """Query terms reach the posting scan as a pushed-down ``isin``
    predicate, never as a joined local DataFrame: a local term list
    becomes a Python RDD (``Scan ExistingRDD``) whose broadcast costs one
    Spark job of Python tasks per call."""
    t, d = query_table
    plan = plan_of(_segment_queries()[entry](spark, t, d))
    scans = [ln for ln in plan.splitlines()
             if "FileScan parquet" in ln and "docs_vb" in ln]
    assert scans, plan
    pushed = [ln.partition("PushedFilters:")[2] for ln in scans]
    assert any(all(term in f for term in TERMS) for f in pushed), plan
    assert "Scan ExistingRDD" not in plan, plan
    assert not re.search(r"Join[^\n]*\[term#", plan), plan


@pytest.mark.parametrize("entry", ["batch_topk", "dismax_topk"])
def test_single_query_job_budget(spark, index_dir, entry):
    """A 1-query batch_topk or dismax_topk runs exactly one Spark job once
    the listing cache is warm: the small-query plan is one task with no
    exchange, and no job exists just to ship the query terms."""
    from dlkp_spark.query import wand

    call = getattr(wand, entry)
    q = [(0, TERMS)]
    call(spark, index_dir, q, k=5).collect()  # warm the listing cache
    jobs = jobs_of(spark.sparkContext,
                   lambda: call(spark, index_dir, q, k=5).collect())
    assert len(jobs) == 1, jobs


def test_small_query_plan_choice(spark, index_dir, monkeypatch):
    """Under SINGLE_TASK_MAX_ROWS a query plans as one MapInPandas task
    with no Exchange; with the cutoff at 0 the same call takes the
    parallel plan: the per-segment FlatMapGroupsInPandas and the rank
    Window, in more than one job."""
    from dlkp_spark.query import wand

    q = [(0, TERMS)]
    small = plan_of(wand.batch_topk(spark, index_dir, q, k=5))
    assert "MapInPandas" in small and "Exchange" not in small, small
    assert "FlatMapGroupsInPandas" not in small and "Window" not in small

    monkeypatch.setattr(wand, "SINGLE_TASK_MAX_ROWS", 0)
    par = plan_of(wand.batch_topk(spark, index_dir, q, k=5))
    assert "FlatMapGroupsInPandas" in par and "Window" in par, par
    assert "Exchange" in par, par
    jobs = jobs_of(spark.sparkContext,
                   lambda: wand.batch_topk(spark, index_dir, q, k=5).collect())
    assert len(jobs) > 1, jobs


@pytest.mark.parametrize("entry", sorted(_segment_queries()))
def test_segment_kernels_declare_their_eval_type(spark, query_table, entry,
                                                 monkeypatch):
    """Every segment-query entry point plans and runs without PySpark's
    "Cannot infer the eval type from type hints" UserWarning: each
    applyInPandas kernel annotates both parameters (or neither). The
    one-task cutoff is 0 so batch_topk's callers reach their
    applyInPandas kernel too."""
    import warnings

    from dlkp_spark.query import wand

    monkeypatch.setattr(wand, "SINGLE_TASK_MAX_ROWS", 0)
    t, d = query_table
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        _segment_queries()[entry](spark, t, d).collect()


def test_exact_bm25_broadcasts_query_side(spark):
    from dlkp_spark.contract import q_bm25_topk
    df = q_bm25_topk(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan


def test_doc_id_join_is_broadcast(spark):
    docs = prepare_docs(generate_web_pages(spark, 80, seed=1))
    plan = plan_of(docs)
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_ann_table_partition_prunes(spark, tmp_path):
    """write_bucketed + probed_topk: the probe filter must hit the
    PARTITION column (PartitionFilters in the scan), so at 10^12 rows only
    the probed buckets' files are listed/read."""
    import numpy as np

    from dlkp_spark.pipeline.similarity import probed_topk, write_bucketed

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(300)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "bucketed")
    write_bucketed(embs, path, n_planes=4)
    q = [float(x) for x in rng.standard_normal(8)]
    df = probed_topk(spark, path, q, k=5, n_planes=4, multiprobe=1)
    plan = plan_of(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "bucket" in pf[0], plan
    # pruning must not break correctness vs scanning + filtering
    got = [r["vec_id"] for r in df.collect()]
    from dlkp_spark.pipeline.similarity import lsh_cosine_topk

    want = [r["vec_id"] for r in
            lsh_cosine_topk(embs, q, k=5, n_planes=4, multiprobe=1).collect()]
    assert got == want


def test_brute_cosine_topk_has_no_global_sort_or_bare_window(spark):
    """The exact ANN rank path must plan as TakeOrderedAndProject
    (per-partition k-heap + k-row merge), never a full Sort exchange, and
    its rank window must carry an explicit partition key (a bare window
    funnels the whole input through one partition at 10^12 rows)."""
    import numpy as np

    from dlkp_spark.pipeline.similarity import brute_cosine_topk

    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    df = brute_cosine_topk(embs, [float(x) for x in rng.standard_normal(8)], k=5)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    # rank assignment must not use WindowExec at all (a bare or folded
    # partition spec funnels the full input through one partition)
    assert "Window" not in plan, plan
    assert df.count() == 5


def test_ivf_sample_has_no_global_sort(spark):
    """ivf_centroids' driver-side sample must not globally sort the corpus:
    TakeOrderedAndProject (bounded heap), optional hash-threshold filter."""
    import numpy as np

    from dlkp_spark.pipeline import similarity as sim

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(300)]
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    denom = 1 << 20
    hkey = F.pmod(F.xxhash64(F.col("embedding").cast("array<double>")), F.lit(denom))
    sample_df = embs.select("embedding").orderBy(hkey, F.col("embedding")).limit(64)
    plan = plan_of(sample_df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan
    # prefix property: hash-threshold filter + limit == plain limit when
    # the fraction keeps >= sample_size survivors
    full = sim.ivf_centroids(embs, n_centroids=4, sample_size=64)
    filtered = sim.ivf_centroids(embs, n_centroids=4, sample_size=64,
                                 sample_fraction=0.95)
    assert np.allclose(full, filtered)


def test_stratified_sample_is_scan_local(spark):
    """The sampling filter must evaluate inside the scan stage: no
    exchange, no Python — a pure codegen predicate at 100 TB."""
    from dlkp_spark.pipeline.sampling import stratified_sample

    docs = spark.range(1000).selectExpr("id AS doc_id", "'g' AS source")
    plan = plan_of(stratified_sample(docs, {"g": 0.5}))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
    # "*(1)" = whole-stage-codegen stage marker wrapping filter + scan
    assert "*(1) Filter" in plan, plan


def test_curate_gates_are_scan_local_filters(spark):
    """The language/quality gates are pure row expressions — they must
    plan as a Filter inside the scan stage, never as a join of the full
    corpus against a same-cardinality gate frame (this test caught
    exactly that: the first implementation semi-joined docs against
    langid(docs), shuffling the corpus twice)."""
    from dlkp_spark.pipeline.curate import curate_corpus

    docs = spark.createDataFrame(
        [(i, "s", "the data query is fast and good") for i in range(50)],
        "doc_id long, source string, text string")
    empty_pairs = spark.createDataFrame([], "a long, b long")
    df = curate_corpus(docs, min_tokens=1, default_fraction=1.0,
                       pairs=empty_pairs)
    plan = plan_of(df)
    # exactly ONE semi-join in the whole chain: the canonical-keeper
    # filter; the gates contribute Filters, not joins
    assert plan.count("LeftSemi") == 1, plan


def test_stats_pass_is_one_expand_aggregate(spark):
    """Round-4 build change: corpus stats + term dict come from ONE
    grouping-sets pass — the plan must show a single Expand (the grouping
    sets) feeding hash aggregation with exactly one exchange, and no
    separate distinct aggregation anywhere (the pre-round-4 shape had a
    distinct exchange over (doc_id, field, dl) plus a second full pass
    for the term dict)."""
    from dlkp_spark.index.build import stats_term_dict_agg, token_table

    docs = spark.createDataFrame(
        [(i, ["a", "b", "a"], ["a b"]) for i in range(8)],
        "doc_id long, tokens array<string>, keyphrases array<string>")
    tokens = token_table(docs)
    plan = plan_of(stats_term_dict_agg(tokens))
    assert plan.count("Expand") == 1, plan
    # exactly two exchanges end-to-end: token_table's tf aggregation and
    # the combined stats aggregation — no third (distinct) pass
    assert plan.count("Exchange") == 2, plan
    assert "HashAggregate" in plan and "Distinct" not in plan, plan


def test_encode_join_broadcasts_term_dict(spark):
    """The posting-encode job's (field, term) df join must broadcast the
    term dictionary (built from the cached stats aggregate) rather than
    shuffle the token table a second time: the only exchange between the
    token cache and the encode kernel is the (term, field, segment)
    repartition. (At cluster scale an over-threshold vocabulary falls
    back to SMJ by Catalyst's own sizing — this pins the local/bench
    shape.)"""
    from dlkp_spark.index.build import stats_and_term_dict, token_table

    docs = spark.createDataFrame(
        [(i, ["a", "b"], ["a b"]) for i in range(8)],
        "doc_id long, tokens array<string>, keyphrases array<string>")
    tokens = token_table(docs).withColumn(
        "segment", (F.col("doc_id") / F.lit(4)).cast("long")).persist()
    _stats, dfs, grouped = stats_and_term_dict(tokens, 8)
    joined = (tokens.join(dfs, ["field", "term"])
              .repartition(4, "term", "field", "segment"))
    plan = plan_of(joined)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    tokens.unpersist()
    grouped.unpersist()


def test_simhash_single_shuffle(spark):
    """The signature aggregate must be ONE exchange keyed on doc_id."""
    from dlkp_spark.pipeline.dedup import simhash_signatures

    docs = spark.createDataFrame([(i, "a b c") for i in range(10)],
                                 "doc_id long, text string")
    plan = plan_of(simhash_signatures(docs))
    assert plan.count("Exchange") <= 2, plan  # input repartition absent here → 1
    assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan


def test_fuzzy_expansion_prefix_pushdown_and_broadcast(spark, index_dir):
    """The fuzzy term expansion must (a) push its StartsWith prefix gate
    into the posting-metadata parquet scan — at web scale the dictionary
    is huge and the levenshtein sweep may only see the prefix slice —
    and (b) broadcast the tiny source-term list (never shuffle the
    dictionary for a non-equi join)."""
    from dlkp_spark.query.wand import _fuzzy_expand

    postings = load_postings(spark, index_dir)
    df = _fuzzy_expand(spark, postings, ["w0003", "w0017"], 1, 2)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "StartsWith" in plan, plan
    # Catalyst hashes the substring-prefix equality as the broadcast key
    # with levenshtein as the residual condition — even better than the
    # nested-loop broadcast; accept either broadcast form, never a
    # shuffled join
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert "levenshtein" in plan, plan

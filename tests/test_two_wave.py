"""Two-wave segment pruning for selective batch queries (round-5 item #1
— the last named 100×-scale gap: at 10^12 docs a selective query should
touch ~10^2 of ~10^5 doc-range segments, decided JVM-side from posting
metadata before any blob decodes).

Pinned here:
- bit-identity: two_wave=True returns the exact rows+scores of the
  one-wave path on the reference query set (upper bounds are admissible
  and ties at the threshold are kept);
- the pruning actually fires: on a skewed corpus where one segment holds
  the high-impact postings, two_wave_pair_counts reports skipped pairs
  and the pruned result still matches one-wave bit-for-bit;
- the batch kernel's dense-width guard (ADVICE r4): a segment whose
  doc-id span exceeds dense_max_width falls back to the per-query
  adaptive kernel instead of allocating a span-sized buffer, with
  identical results.
"""

import pytest

from dlkp_spark.config import BM25Params, IndexConfig
from dlkp_spark.corpus import generate_web_pages
from dlkp_spark.index.build import build_index, prepare_docs
from dlkp_spark.oracle import reference_query_set
from dlkp_spark.query.wand import batch_topk, two_wave_pair_counts

N_DOCS = 300
K = 10
CFG = IndexConfig(segment_docs=64, block_size=16, n_term_partitions=8)
QUERIES = reference_query_set(n_queries=25)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    docs = prepare_docs(generate_web_pages(spark, N_DOCS, seed=42))
    d = str(tmp_path_factory.mktemp("twowave_idx"))
    build_index(spark, docs, d, cfg=CFG, n_shards=2)
    return d


def _rows(df):
    return sorted((r["query_id"], r["rank"], r["doc_id"], r["score"])
                  for r in df.collect())


def test_two_wave_bit_identical_to_one_wave(spark, index_dir):
    one = _rows(batch_topk(spark, index_dir, QUERIES, BM25Params(), k=K))
    two = _rows(batch_topk(spark, index_dir, QUERIES, BM25Params(), k=K,
                           two_wave=True))
    assert one == two  # exact tuples incl. float64 scores


def test_two_wave_more_wave1_segments_identical(spark, index_dir):
    one = _rows(batch_topk(spark, index_dir, QUERIES[:5], BM25Params(), k=K))
    two = _rows(batch_topk(spark, index_dir, QUERIES[:5], BM25Params(), k=K,
                           two_wave=True, wave1_segments=3))
    assert one == two


@pytest.fixture(scope="module")
def skew_index(spark, tmp_path_factory):
    """Corpus where 'goldterm' is high-tf inside segment 0 (docs 0..63)
    and tf=1 noise elsewhere — a selective query whose top-k lives in one
    segment, the shape segment pruning exists for."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(320):
        toks = [f"w{i % 7}", f"w{(i * 3) % 11}", "filler"]
        if i < 64:
            toks += ["goldterm"] * 10
        elif i % 4 == 0:
            toks += ["goldterm"]
        rows.append((i, toks))
    docs = (spark.createDataFrame(rows, "doc_id long, tokens array<string>")
            .withColumn("keyphrases", F.array().cast("array<string>")))
    d = str(tmp_path_factory.mktemp("skew_idx"))
    build_index(spark, docs, d, cfg=CFG, n_shards=1)
    return d


def test_two_wave_skips_segments_on_selective_query(spark, skew_index):
    queries = [(0, ["goldterm"]), (1, ["goldterm", "filler"])]
    counts = two_wave_pair_counts(spark, skew_index, queries,
                                  BM25Params(), k=5)
    assert counts["pairs_skipped"] > 0, counts
    assert counts["pairs_scored"] < counts["pairs_total"]
    one = _rows(batch_topk(spark, skew_index, queries, BM25Params(), k=5))
    two = _rows(batch_topk(spark, skew_index, queries, BM25Params(), k=5,
                           two_wave=True))
    assert one == two


def test_pair_counts_read_boost_syntax(spark, skew_index):
    """two_wave_pair_counts parses ``term^w`` like batch_topk: a boosted
    query reports the same pairs and postings as the unboosted one, and
    its weighted upper bound still prunes."""
    plain = two_wave_pair_counts(spark, skew_index,
                                 [(0, ["goldterm"]), (1, ["goldterm", "filler"])],
                                 BM25Params(), k=5)
    boosted = two_wave_pair_counts(spark, skew_index,
                                   [(0, ["goldterm^2"]), (1, ["goldterm^3", "filler"])],
                                   BM25Params(), k=5)
    assert boosted["pairs_total"] == plain["pairs_total"] > 0, (plain, boosted)
    assert boosted["postings_total"] == plain["postings_total"]
    assert boosted["pairs_skipped"] > 0, boosted


def test_two_wave_fewer_than_k_results_unpruned(spark, skew_index):
    # a query with < k total hits must not lose rows to pruning (no theta)
    queries = [(0, ["w3"])]
    one = _rows(batch_topk(spark, skew_index, queries, BM25Params(), k=1000))
    two = _rows(batch_topk(spark, skew_index, queries, BM25Params(), k=1000,
                           two_wave=True))
    assert one == two and len(one) > 0


def test_batch_kernel_dense_width_guard(spark, index_dir):
    """Force the non-dense fallback by shrinking dense_max_width below the
    segment span: results must be bit-identical (per-query adaptive kernel
    replaces the segment-width accumulator — ADVICE r4 item 1)."""
    import pandas as pd

    from dlkp_spark.config import BM25Params as BP
    from dlkp_spark.index.build import load_postings, load_stats
    from dlkp_spark.query.wand import _make_batch_kernel, _Side

    stats_all = load_stats(index_dir)
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    bs = stats_all.get("block_size", 16)
    qmap = [(qid, sorted(set(terms))) for qid, terms in QUERIES[:8]]
    pdf = (load_postings(spark, index_dir)
           .filter("segment = 0").toPandas())
    p = BP()
    dense_kernel = _make_batch_kernel(qmap, stats, p, K, bs)
    narrow_kernel = _make_batch_kernel(qmap, stats, p, K, bs,
                                       dense_max_width=4)
    a = dense_kernel(pdf.copy(), _Side())
    b = narrow_kernel(pdf.copy(), _Side())
    pd.testing.assert_frame_equal(
        a.sort_values(["query_id", "doc_id"]).reset_index(drop=True),
        b.sort_values(["query_id", "doc_id"]).reset_index(drop=True))
    assert len(a) > 0


def test_auto_dispatch_rule():
    from dlkp_spark.query.wand import _should_two_wave

    assert not _should_two_wave(20000, 2048, 4096)     # ~10 segments
    assert _should_two_wave(10**9, 2048, 4096)         # ~488k segments
    assert not _should_two_wave(10**9, None, 4096)     # legacy stats: off
    assert _should_two_wave(4096 * 2048, 2048, 4096)   # boundary inclusive


def test_auto_matches_both_paths(spark, index_dir):
    # small index: auto resolves to the one-wave path
    one = _rows(batch_topk(spark, index_dir, QUERIES[:5], BM25Params(), k=K))
    auto = _rows(batch_topk(spark, index_dir, QUERIES[:5], BM25Params(), k=K,
                            two_wave="auto"))
    assert auto == one
    # cutoff forced to 1: auto resolves to the two-wave path; results
    # stay bit-identical (the pruning-correctness invariant)
    forced = _rows(batch_topk(spark, index_dir, QUERIES[:5], BM25Params(),
                              k=K, two_wave="auto", auto_cutoff=1))
    assert forced == one

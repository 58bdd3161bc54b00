"""Exact phrase top-k over the positional index (IndexConfig(positions=True)).

A phrase ["a", "b", "c"] matches a doc iff the BODY token stream contains
the tokens consecutively: ∃s with s∈P(a), s+1∈P(b), s+2∈P(c), where P(t)
is the doc's position set for t. Matched docs are ranked by the BM25 sum
of the phrase's distinct terms (body field, no boost) — the same scoring
the plain-SQL oracle computes over the same term set, restricted to docs
whose space-joined token stream contains the phrase substring.

Scale shape mirrors batch_topk: a phrase touches only its terms' posting
rows (term scan predicate), work fans out per segment (all of a doc's postings
live in its doc-range segment, so adjacency is decided segment-locally),
and only top-k rows leave each kernel. Position blobs decode lazily per
touched (term, segment) row — never the whole index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dlkp_spark.config import FIELD_BODY, BM25Params
from dlkp_spark.index.build import load_postings, load_stats
from dlkp_spark.index.codec import decode_positions, decode_postings_batch
from dlkp_spark.oracle import idf as idf_fn


def _decode_positional_group(g: pd.DataFrame, stats: dict, p: BM25Params) -> dict:
    """One segment's body posting rows → {term: list-dict with positions}.

    Reuses the batched doc/tf/dl decode; the pos blob decodes per row
    (counts = the row's tf values). A term may legitimately have several
    rows only across segments — within one (segment, field) it is unique,
    so the dict maps term → one entry.
    """
    docs_f, tfs_f, dls_f, counts = decode_postings_batch(
        g["docs_vb"].tolist(), g["tfs_vb"].tolist(), g["dls_vb"].tolist())
    offsets = np.concatenate(([0], np.cumsum(counts)))
    dfv = g["df"].to_numpy()
    terms = g["term"].to_numpy()
    pos_bufs = g["pos_vb"].tolist()
    avgdl = stats["avgdl"][FIELD_BODY]
    out = {}
    for i in range(len(g)):
        s, e = offsets[i], offsets[i + 1]
        tfs = tfs_f[s:e]
        tff = tfs.astype(np.float64)
        dlf = dls_f[s:e].astype(np.float64)
        tfn = (tff * (p.k1 + 1.0)) / (tff + p.k1 * (1.0 - p.b + p.b * dlf / avgdl))
        pos = decode_positions(pos_bufs[i], tfs)
        out[str(terms[i])] = {
            "docs": docs_f[s:e],
            "contribs": idf_fn(stats["n_docs"], int(dfv[i])) * tfn,
            "pos": pos,
            "pos_off": np.concatenate(([0], np.cumsum(tfs))),
        }
    return out


def _doc_positions(entry: dict, doc_idx: int) -> np.ndarray:
    s, e = entry["pos_off"][doc_idx], entry["pos_off"][doc_idx + 1]
    return entry["pos"][s:e]


_FAR = np.int64(1) << np.int64(60)  # "no next position" sentinel


def _ordered_window_hit(pos_lists: list[np.ndarray], max_span: int) -> bool:
    """∃ strictly-increasing p_0 < … < p_{m-1}, p_i ∈ pos_lists[i], with
    p_{m-1} − p_0 ≤ max_span?

    Greedy chaining: for every start p_0, picking the SMALLEST valid next
    position at each slot minimizes the chain's final position, hence its
    span — so a witness exists iff some greedy chain's span fits. One
    vectorized searchsorted per slot (no per-position Python loop).
    """
    starts = pos_lists[0].astype(np.int64)
    last = starts
    for pl in pos_lists[1:]:
        idx = np.searchsorted(pl, last, side="right")
        valid = idx < len(pl)
        nxt = pl[np.minimum(idx, len(pl) - 1)] if len(pl) else None
        last = np.where(valid, nxt, _FAR) if len(pl) else np.full_like(last, _FAR)
    return bool(np.any(last - starts <= max_span))


def _unordered_window_hit(pos_lists: list[np.ndarray], max_span: int) -> bool:
    """∃ one position per list with max − min ≤ max_span, any order?

    Classic minimum-window sweep: merge all positions with term labels,
    two-pointer over the sorted merge keeping per-term counts — the
    minimal window ending at each position is checked once, O(total
    positions) per doc.
    """
    if any(not len(p) for p in pos_lists):
        return False
    pos = np.concatenate(pos_lists)
    lab = np.concatenate([np.full(len(pl), i, dtype=np.int64)
                          for i, pl in enumerate(pos_lists)])
    order = np.argsort(pos, kind="stable")
    pos, lab = pos[order], lab[order]
    m = len(pos_lists)
    counts = np.zeros(m, dtype=np.int64)
    have = 0
    lo = 0
    for hi in range(len(pos)):
        c = lab[hi]
        counts[c] += 1
        if counts[c] == 1:
            have += 1
        while have == m:
            if pos[hi] - pos[lo] <= max_span:
                return True
            cl = lab[lo]
            counts[cl] -= 1
            if counts[cl] == 0:
                have -= 1
            lo += 1
    return False


def _phrase_matches(by_term: dict, phrase: list[str],
                    slop: int = 0,
                    in_order: bool = True) -> list[tuple[int, float]]:
    """(doc_id, score) for every doc of one segment matching the phrase.

    slop=0 is exact adjacency (offset-aligned position intersection);
    slop>0 is the ordered sloppy phrase (Lucene ordered-SpanNear shape):
    the terms appear in order within a window of ``len(phrase)−1+slop``
    token slots. slop=0 through the window path is identical to the exact
    path (m strictly increasing positions in m slots are consecutive) —
    pinned by test.

    in_order=False is the unordered SpanNear: the phrase is treated as a
    SET of distinct terms that must co-occur within
    ``m − 1 + slop`` token slots in ANY order (minimum-window sweep per
    candidate doc). An ordered hit is always an unordered hit at the
    same slop (superset — pinned by test).
    """
    uniq_terms = sorted(set(phrase))
    if not in_order:
        phrase = uniq_terms  # a set query: duplicates carry no meaning
    entries = [by_term.get(t) for t in uniq_terms]
    if any(e is None for e in entries):
        return []
    # candidates: docs containing every distinct term, smallest list first
    entries_by_size = sorted(entries, key=lambda e: len(e["docs"]))
    cand = entries_by_size[0]["docs"]
    for e in entries_by_size[1:]:
        cand = cand[np.isin(cand, e["docs"], assume_unique=True)]
        if not len(cand):
            return []
    lookup = {t: by_term[t] for t in uniq_terms}
    max_span = len(phrase) - 1 + slop
    out = []
    for d in cand:
        if slop > 0 or not in_order:
            pos_lists = []
            for t in phrase:
                e = lookup[t]
                pos_lists.append(
                    _doc_positions(e, int(np.searchsorted(e["docs"], d))))
            hit = _ordered_window_hit(pos_lists, max_span) if in_order \
                else _unordered_window_hit(pos_lists, max_span)
            if not hit:
                continue
            score = 0.0
            for t in uniq_terms:
                e = lookup[t]
                score += float(e["contribs"][int(np.searchsorted(e["docs"], d))])
            out.append((int(d), score))
            continue
        run = None
        for i, t in enumerate(phrase):
            e = lookup[t]
            di = int(np.searchsorted(e["docs"], d))
            ps = _doc_positions(e, di) - i
            run = ps if run is None else run[np.isin(run, ps, assume_unique=True)]
            if not len(run):
                break
        else:
            # score: BM25 sum over distinct terms in term-asc order (the
            # oracle's float order)
            score = 0.0
            for t in uniq_terms:
                e = lookup[t]
                score += float(e["contribs"][int(np.searchsorted(e["docs"], d))])
            out.append((int(d), score))
    return out


def phrase_prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    max_expansion: int = 1024,
    postings: DataFrame | None = None,
) -> DataFrame:
    """match_phrase_prefix (the Elasticsearch autocomplete primitive):
    each query is a phrase whose LAST term is a prefix — a doc matches if
    it contains the exact phrase with the last slot filled by ANY index
    term starting with the prefix. → (query_id, rank, doc_id, score).

    Scoring is "best completion wins": score(doc) = max over matching
    expansions e of the completed phrase's ordinary score — the BM25 sum
    over the DISTINCT terms of ``full + [e]`` in term-asc float order,
    exactly what ``phrase_topk`` would give for that completion. A
    DisMax over the completions, deterministic and SQL-replayable. A
    prefix-only query (one-element phrase) degenerates to "best
    completion anywhere in the doc".

    The expansion runs against the index term dictionary with the
    StartsWith gate and ``max_expansion`` guard of ``prefix_topk``; the
    per-expansion adjacency checks reuse the exact-phrase kernel per
    candidate doc, segment-locally.
    """
    p = p or BM25Params()
    k = k or p.k
    stats_all = load_stats(index_dir)
    if not stats_all.get("positions"):
        raise ValueError(
            f"{index_dir} was built without positions — phrase_prefix_topk "
            "needs IndexConfig(positions=True)")
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    qmap = [(int(qid), [str(t) for t in terms]) for qid, terms in queries
            if terms]
    if not qmap:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    if postings is None:
        postings = load_postings(spark, index_dir)
    prefixes = sorted({terms[-1] for _, terms in qmap})
    cond = None
    for pre in prefixes:
        c = F.col("term").startswith(pre)
        cond = c if cond is None else (cond | c)
    vocab = [r["term"] for r in
             (postings.filter(F.col("field") == FIELD_BODY).filter(cond)
              .select("term").distinct().collect())]
    expanded: dict[str, list[str]] = {
        pre: sorted(t for t in vocab if t.startswith(pre))
        for pre in prefixes}
    for pre, terms in expanded.items():
        if len(terms) > max_expansion:
            raise ValueError(
                f"phrase prefix '{pre}*' expands to {len(terms)} terms "
                f"(> max_expansion={max_expansion}) — narrow the prefix "
                "or raise the cap")
    all_terms = sorted({t for _, terms in qmap for t in terms[:-1]}
                       | {t for ts in expanded.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    hits = postings.filter((F.col("field") == FIELD_BODY)
                           & F.col("term").isin(all_terms))

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        by_term = _decode_positional_group(g, stats, p)
        qids, dids, scores = [], [], []
        for qid, terms in qmap:
            full, pre = terms[:-1], terms[-1]
            best: dict[int, float] = {}
            for e in expanded[pre]:
                for d, s in _phrase_matches(by_term, full + [e], 0):
                    if d not in best or s > best[d]:
                        best[d] = s
            top = sorted(best.items(), key=lambda ds: (-ds[1], ds[0]))[:k]
            for d, s in top:
                qids.append(qid)
                dids.append(d)
                scores.append(s)
        return pd.DataFrame({
            "query_id": pd.Series(qids, dtype="int64"),
            "doc_id": pd.Series(dids, dtype="int64"),
            "score": pd.Series(scores, dtype="float64"),
        })

    partials = hits.groupBy("segment").applyInPandas(
        kernel, "query_id long, doc_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("doc_id"))
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    phrases: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    postings: DataFrame | None = None,
    slop: int = 0,
    in_order: bool = True,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """Phrase search → (query_id, rank, doc_id, score), rank 1..k.

    ``deletes`` (doc_id DataFrame — tombstoned ids) masks deleted docs out
    of the candidate set INSIDE the segment kernel, before its per-segment
    top-k truncation — a tombstoned doc can neither match nor occupy a
    top-k slot (same contract as ``batch_topk(deletes=...)``).

    ``slop=0`` (default) is exact adjacency. ``slop=s`` relaxes to the
    ordered sloppy phrase: terms in order within ``len(phrase)−1+s`` token
    slots (Lucene ordered-SpanNear shape) — the greedy minimal-window
    check runs per candidate doc, still segment-local. Scoring is
    unchanged (BM25 sum of the phrase's distinct terms), so a slop hit
    ranks exactly as its terms would.

    ``in_order=False`` is the unordered SpanNear (Lucene
    ``SpanNearQuery(inOrder=false)``): the phrase's DISTINCT terms must
    co-occur within ``m − 1 + slop`` slots in any order, decided by a
    minimum-window sweep per candidate doc. Ordered hits are a subset of
    unordered hits at the same slop.

    Requires an index built with ``IndexConfig(positions=True)``; raises
    otherwise (the posting rows have no pos_vb column to decode).
    """
    p = p or BM25Params()
    k = k or p.k
    stats_all = load_stats(index_dir)
    if not stats_all.get("positions"):
        raise ValueError(
            f"{index_dir} was built without positions — phrase_topk needs "
            "IndexConfig(positions=True)")
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    qmap = [(int(qid), [str(t) for t in terms]) for qid, terms in phrases]
    all_terms = sorted({t for _, terms in qmap for t in terms})
    if not all_terms:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    if postings is None:
        postings = load_postings(spark, index_dir)
    hits = postings.filter((F.col("field") == FIELD_BODY)
                           & F.col("term").isin(all_terms))
    use_deletes = deletes is not None
    if use_deletes:
        seg_docs = int(stats_all.get("segment_docs") or 0)
        if not seg_docs:
            raise ValueError(f"{index_dir}: stats.json has no segment_docs — "
                             "cannot map tombstones to segments")
        seg_del = (deletes.select("doc_id").distinct()
                   .groupBy((F.col("doc_id") / F.lit(seg_docs))
                            .cast("long").alias("segment"))
                   .agg(F.sort_array(F.collect_list("doc_id")).alias("del_ids")))
        hits = hits.join(seg_del, "segment", "left")

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        deleted = None
        if use_deletes:
            raw = g["del_ids"].iloc[0]
            g = g.drop(columns=["del_ids"])
            if raw is not None and len(raw):
                deleted = np.asarray(raw, dtype=np.int64)
        by_term = _decode_positional_group(g, stats, p)
        qids, dids, scores = [], [], []
        for qid, phrase in qmap:
            matches = _phrase_matches(by_term, phrase, slop, in_order)
            if deleted is not None and matches:
                ds = np.fromiter((d for d, _ in matches), dtype=np.int64)
                idx = np.searchsorted(deleted, ds)
                hit = (idx < len(deleted)) & (deleted[np.minimum(
                    idx, len(deleted) - 1)] == ds)
                matches = [m for m, dead in zip(matches, hit) if not dead]
            top = sorted(matches, key=lambda ds: (-ds[1], ds[0]))[:k]
            for d, s in top:
                qids.append(qid)
                dids.append(d)
                scores.append(s)
        return pd.DataFrame({
            "query_id": pd.Series(qids, dtype="int64"),
            "doc_id": pd.Series(dids, dtype="int64"),
            "score": pd.Series(scores, dtype="float64"),
        })

    partials = hits.groupBy("segment").applyInPandas(
        kernel, "query_id long, doc_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))

"""Exact phrase top-k over the positional index (IndexConfig(positions=True)).

A phrase ["a", "b", "c"] matches a doc iff the BODY token stream contains
the tokens consecutively: ∃s with s∈P(a), s+1∈P(b), s+2∈P(c), where P(t)
is the doc's position set for t. Matched docs are ranked by the BM25 sum
of the phrase's distinct terms (body field, no boost) — the same scoring
the plain-SQL oracle computes over the same term set, restricted to docs
whose space-joined token stream contains the phrase substring.

Scale shape is batch_topk's: both phrase queries run on the segment-query
scaffold of ``wand.py`` (``_SegmentQuery``: the term scan predicate plus
``field = BODY``, tombstones, the one-task or segment-parallel plan and
the top-k merge). Adjacency is decided segment-locally — all of a doc's
postings live in its doc-range segment — and only top-k rows leave each
kernel. Position blobs decode lazily per touched (term, segment) row —
never the whole index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dlkp_spark.config import FIELD_BODY, BM25Params
from dlkp_spark.index.codec import decode_positions
from dlkp_spark.query.wand import (_decode_group, _expand_prefixes,
                                   _SegmentQuery, _Side, _topk_rows)


def _decode_positional_group(g: pd.DataFrame, stats: dict, p: BM25Params) -> dict:
    """One segment's body posting rows → {term: list-dict with positions}.

    The batched doc/tf/dl decode and BM25 contributions are
    ``_decode_group``'s; the pos blob decodes per row (counts = the row's
    tf values). A term may legitimately have several rows only across
    segments — within one (segment, field) it is unique, so the dict maps
    term → one entry.
    """
    out = {}
    for lst, pos_vb in zip(_decode_group(g, stats, p), g["pos_vb"]):
        lst["pos"] = decode_positions(pos_vb, lst["tfs"])
        lst["pos_off"] = np.concatenate(([0], np.cumsum(lst["tfs"])))
        out[str(lst["term"])] = lst
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


def _score(lookup: dict, uniq_terms: list[str], d: int) -> float:
    """A matched doc's score: the BM25 sum over the phrase's distinct
    terms in term-asc order (the oracle's float order)."""
    score = 0.0
    for t in uniq_terms:
        e = lookup[t]
        score += float(e["contribs"][int(np.searchsorted(e["docs"], d))])
    return score


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
            if hit:
                out.append((int(d), _score(lookup, uniq_terms, d)))
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
            out.append((int(d), _score(lookup, uniq_terms, d)))
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
    sq = _SegmentQuery(spark, index_dir, postings)
    if not sq.meta.get("positions"):
        raise ValueError(
            f"{index_dir} was built without positions — phrase_prefix_topk "
            "needs IndexConfig(positions=True)")
    stats = sq.stats
    qmap = [(int(qid), [str(t) for t in terms]) for qid, terms in queries
            if terms]
    if not qmap:
        return sq.empty()
    expanded = _expand_prefixes(
        sq.postings.filter(F.col("field") == FIELD_BODY),
        sorted({terms[-1] for _, terms in qmap}), max_expansion,
        "phrase prefix")
    all_terms = sorted({t for _, terms in qmap for t in terms[:-1]}
                       | {t for ts in expanded.values() for t in ts})
    if not all_terms:
        return sq.empty()

    def best_completions(by_term: dict, terms: list[str]) -> list[tuple[int, float]]:
        full, pre = terms[:-1], terms[-1]
        best: dict[int, float] = {}
        for e in expanded[pre]:
            for d, s in _phrase_matches(by_term, full + [e], 0):
                if d not in best or s > best[d]:
                    best[d] = s
        return sorted(best.items(), key=lambda ds: (-ds[1], ds[0]))[:k]

    def kernel(g: pd.DataFrame, _side: _Side) -> pd.DataFrame:
        by_term = _decode_positional_group(g, stats, p)
        return _topk_rows((qid, best_completions(by_term, terms))
                          for qid, terms in qmap)

    return sq.run(all_terms, kernel, k=k, where=F.col("field") == FIELD_BODY)


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
    sq = _SegmentQuery(spark, index_dir, postings)
    if not sq.meta.get("positions"):
        raise ValueError(
            f"{index_dir} was built without positions — phrase_topk needs "
            "IndexConfig(positions=True)")
    stats = sq.stats
    qmap = [(int(qid), [str(t) for t in terms]) for qid, terms in phrases]
    all_terms = sorted({t for _, terms in qmap for t in terms})
    if not all_terms:
        return sq.empty()

    def live_top(by_term: dict, phrase: list[str],
                 deleted: np.ndarray | None) -> list[tuple[int, float]]:
        matches = _phrase_matches(by_term, phrase, slop, in_order)
        if deleted is not None and matches:
            dead = np.isin([d for d, _ in matches], deleted)
            matches = [m for m, x in zip(matches, dead) if not x]
        return sorted(matches, key=lambda ds: (-ds[1], ds[0]))[:k]

    def kernel(g: pd.DataFrame, side: _Side) -> pd.DataFrame:
        by_term = _decode_positional_group(g, stats, p)
        return _topk_rows((qid, live_top(by_term, phrase, side.deleted))
                          for qid, phrase in qmap)

    return sq.run(all_terms, kernel, k=k, where=F.col("field") == FIELD_BODY,
                  deletes=deletes)

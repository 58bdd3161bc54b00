"""Block-max WAND document-at-a-time BM25 over the compressed index.

North-star query path: the query terms filter the posting scan,
``groupBy(segment).applyInPandas`` runs the exact top-k kernel
per doc-range segment — adaptive between block-max WAND (per-partition
DAAT with a size-k heap; pays on long lists) and dense vectorized TAAT
(pays on small segment slices; see ``exact_topk_lists``) — and partial
top-k heaps merge — either relationally (window over the tiny candidate
set) or via ``RDD.treeAggregate`` (the treeReduce heap merge of
SURVEY.md §2.5 A6, analog of the reference's DistributedTensorGatherer at
/root/reference/src/dlkp/extraction/trainer.py:53-75).

Determinism: scores accumulate per doc in (term asc, field asc) order with
the same float64 expression order as the oracle (dlkp_spark.oracle), so
top-k results are bit-identical, tie-broken (score desc, doc_id asc).

Scale shape: a query touches only its terms' posting rows (an ``isin``
predicate pushed into the scan). ``batch_topk`` picks one of two plans
around the same per-segment kernel, from a bound on the posting rows the
call can select (|terms| × 2 fields × ceil(n_docs / segment_docs), from
stats, no Spark job). At or under ``SINGLE_TASK_MAX_ROWS`` the whole query
runs as ONE task — ``coalesce(1).mapInPandas``, the task scores every
segment and ranks — so an interactive query costs one job and no
exchange. Above it, work parallelizes over segments — at 10^12 docs a
single query fans out over n_docs/segment_docs segment tasks; the merge
moves only k rows per segment.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dlkp_spark.config import FIELD_KP, BM25Params
from dlkp_spark.index.build import load_attrs, load_postings, load_stats
from dlkp_spark.index.codec import (decode_postings_batch, delta_decode,
                                    varbyte_decode)
from dlkp_spark.oracle import idf as idf_fn


class _List:
    """One decoded posting list cursor for the DAAT loop."""

    __slots__ = ("key", "boost", "docs", "contribs", "block_max", "block_last",
                 "pos", "n", "list_ub")

    def __init__(self, key, boost, docs, contribs, block_max, block_last):
        self.key = key  # (term, field) — determines scoring order
        self.boost = float(boost)
        self.docs = docs
        self.contribs = contribs
        self.block_max = block_max
        self.block_last = block_last
        self.pos = 0
        self.n = len(docs)
        self.list_ub = boost * float(contribs.max())

    def cur(self) -> int:
        return int(self.docs[self.pos]) if self.pos < self.n else -1

    def advance_to(self, target: int) -> None:
        """Move cursor to first doc >= target (galloping via searchsorted)."""
        if self.pos < self.n and self.docs[self.pos] < target:
            self.pos += int(np.searchsorted(self.docs[self.pos:], target, side="left"))

    def block_idx(self, block_size: int) -> int:
        return self.pos // block_size

    def block_ub(self, block_size: int) -> float:
        return self.boost * float(self.block_max[self.pos // block_size])

    def block_end_doc(self, block_size: int) -> int:
        return int(self.block_last[self.pos // block_size])


def bmw_topk_lists(lists: list[dict], k: int, block_size: int) -> list[tuple[int, float]]:
    """Block-max WAND over decoded lists → top-k [(doc_id, score)].

    Each list dict: {term, field, boost, docs (int64 asc), contribs (f8),
    block_max (f8 per block), block_last (int64 per block)}.

    Heap keeps the k best by (score, -doc_id) so eviction respects the
    (score desc, doc_id asc) tie-break; pruning is strict (< threshold), so
    equal-score candidates are always fully scored — exactness before speed.
    """
    cursors = [
        _List((d["term"], d["field"]), d["boost"], d["docs"], d["contribs"],
              d["block_max"], d["block_last"])
        for d in lists if len(d["docs"])
    ]
    cursors = [c for c in cursors if c.n]
    heap: list[tuple[float, int]] = []  # (score, -doc_id), min-heap of k best

    def threshold() -> float:
        return heap[0][0] if len(heap) >= k else -np.inf

    def score_doc(d: int) -> float:
        """Sum matching lists in (term, field) order — oracle float order."""
        s = 0.0
        for c in sorted((c for c in cursors if c.cur() == d), key=lambda c: c.key):
            s += c.boost * float(c.contribs[c.pos])
        return s

    active = [c for c in cursors if c.pos < c.n]
    while True:
        active = [c for c in active if c.pos < c.n]
        if not active:
            break
        active.sort(key=lambda c: c.cur())
        # find pivot: smallest prefix whose Σ list-ub reaches the threshold
        theta = threshold()
        acc = 0.0
        pivot = -1
        for i, c in enumerate(active):
            acc += c.list_ub
            if acc >= theta or not np.isfinite(theta):
                pivot = i
                break
        if pivot == -1:
            break  # no doc can make the heap
        pivot_doc = active[pivot].cur()
        # extend the prefix over every list sitting on the pivot doc, so the
        # block-bound check accounts for all of its potential contributors
        while pivot + 1 < len(active) and active[pivot + 1].cur() == pivot_doc:
            pivot += 1
        # block-max refinement: sum of *block* upper bounds at current blocks
        block_acc = 0.0
        for c in active[: pivot + 1]:
            block_acc += c.block_ub(block_size)
        if block_acc < theta:
            # skip: jump past the nearest block boundary among the prefix —
            # but never past the next list's current doc (docs beyond it
            # gain a new contributor, so the block-bound argument stops
            # holding there; Ding & Suel BMW candidate rule)
            next_doc = min(c.block_end_doc(block_size) for c in active[: pivot + 1]) + 1
            if pivot + 1 < len(active):
                next_doc = min(next_doc, active[pivot + 1].cur())
            next_doc = max(next_doc, pivot_doc)
            for c in active[: pivot + 1]:
                c.advance_to(next_doc)
            continue
        if active[0].cur() == pivot_doc:
            s = score_doc(pivot_doc)
            item = (s, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
            for c in active:
                if c.cur() == pivot_doc:
                    c.pos += 1
        else:
            for c in active[:pivot]:
                c.advance_to(pivot_doc)

    out = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return [(-nd, s) for s, nd in out]


# doc-span ceiling for the dense exact kernel: above this the accumulator
# buffer stops being cache/memory-friendly and list lengths are where
# block-max pruning starts paying. Worst case at the cap is a 32 MB
# float64 buffer (8 B × 2^22 docs) per concurrently-running kernel task —
# bounded and deliberate: the width of a (query, segment) group is capped
# by the index's ``segment_docs`` (doc-range segmentation, build.py), so
# with the default IndexConfig.segment_docs (2^11..2^13 in this repo) the
# dense path allocates KBs, and only an index built with multi-million-doc
# segments (or a deeply compacted one — merge_segments multiplies
# segment_docs by ``factor``) ever approaches the cap, at which point the
# adaptive dispatch flips to BMW / sparse TAAT instead of allocating
# beyond it.
_DENSE_MAX_WIDTH = 1 << 22


def exact_topk_lists(lists: list[dict], k: int, block_size: int,
                     dense_max_width: int = _DENSE_MAX_WIDTH) -> list[tuple[int, float]]:
    """Adaptive exact top-k over one query's decoded lists in one segment.

    Both kernels are EXACT and bit-identical (same per-doc float-add order,
    same tie-break; pinned by tests/test_wand_kernel.py) — this only picks
    the faster one, the way Lucene chooses between BMW and exhaustive
    scoring per clause:

    - segment doc-span small (the common case: doc-range segments bound
      width by segment_docs) → dense vectorized TAAT; the Python DAAT
      pivot loop costs ~40× more than numpy scatter on short lists
      (measured 0.80 s vs 0.02 s over the bench's 200 query×segment
      groups).
    - doc-span large (huge segments / long posting lists) → block-max
      WAND (Ding & Suel), where skipping whole blocks beats touching
      every posting.
    """
    lists = [lst for lst in lists if len(lst["docs"])]
    if not lists:
        return []
    base = min(int(lst["docs"][0]) for lst in lists)
    width = max(int(lst["docs"][-1]) for lst in lists) - base + 1
    if width > dense_max_width:
        return bmw_topk_lists(lists, k, block_size)
    q_lists = sorted(lists, key=lambda d: (d["term"], d["field"]))
    for lst in q_lists:
        lst["cols"] = (lst["docs"] - base).astype(np.int64)
        lst["vals"] = lst["boost"] * lst["contribs"]
    acc = np.zeros(width, dtype=np.float64)
    return _taat_topk_dense(q_lists, acc, base, k)


def merge_topk(partials: Iterable[tuple[int, float]], k: int) -> list[tuple[int, float]]:
    """Merge per-segment partial top-k lists (docs are segment-disjoint)."""
    return sorted(partials, key=lambda t: (-t[1], t[0]))[:k]


def _decode_group(g: pd.DataFrame, stats: dict, p: BM25Params) -> list[dict]:
    """Decode every posting row of one group in ONE batched codec pass.

    The varbyte/delta decode of all rows runs as a single vectorized pass
    over the concatenated blobs (codec.decode_postings_batch — per-row
    calls cost ~0.2 ms each in numpy overhead alone), and the BM25
    contributions are computed flat with per-row idf/avgdl repeated to
    posting granularity; per-element float expressions are unchanged, so
    per-list values stay bit-identical to row-at-a-time decode
    (tests/test_codec.py pins both).
    """
    n = len(g)
    if n == 0:
        return []
    docs_f, tfs_f, dls_f, counts = decode_postings_batch(
        g["docs_vb"].tolist(), g["tfs_vb"].tolist(), g["dls_vb"].tolist())
    fields = g["field"].to_numpy()
    dfv = g["df"].to_numpy()
    idfs = np.array([idf_fn(stats["n_docs"], int(d)) for d in dfv])
    avgdls = np.array([stats["avgdl"][int(f)] for f in fields])
    tff = tfs_f.astype(np.float64)
    dlf = dls_f.astype(np.float64)
    rep_avg = np.repeat(avgdls, counts)
    # same expression order as tf_norm_vec, element-wise scalar→array
    tfn = (tff * (p.k1 + 1.0)) / (tff + p.k1 * (1.0 - p.b + p.b * dlf / rep_avg))
    contribs_f = np.repeat(idfs, counts) * tfn
    offsets = np.concatenate(([0], np.cumsum(counts)))
    terms = g["term"].to_numpy()
    bmax = g["block_max"].to_numpy()
    blast = g["block_last"].to_numpy()
    lists = []
    for i in range(n):
        s, e = offsets[i], offsets[i + 1]
        lists.append({
            "term": terms[i], "field": int(fields[i]),
            "boost": p.kp_boost if int(fields[i]) == FIELD_KP else 1.0,
            "docs": docs_f[s:e], "contribs": contribs_f[s:e],
            "block_max": np.asarray(bmax[i], dtype=np.float64),
            "block_last": np.asarray(blast[i], dtype=np.int64),
        })
    return lists


def wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
) -> DataFrame:
    """Top-k over the compressed index → (query_id, rank, doc_id, score).

    Latency-oriented entry point; since r6 it executes on the shared
    segment-grouped batch kernel (``batch_topk``): each (term, segment)
    posting row ships and decodes ONCE per segment and every query scores
    against the shared decoded lists with the per-query BMW/dense exact
    kernels. The former per-(query, segment) grouping replicated and
    re-decoded a posting row for every query touching its term and paid a
    separate partial-merge window — measured 1.5 s → 0.9 s for the
    20-query latency set (13 → ~22 q/s) with bit-identical results
    (tests/test_rank_identity.py pins both paths to the same oracle).
    For sub-query-latency services, ``wand_topk_treereduce`` remains the
    single-query heap-merge path.
    """
    return batch_topk(spark, index_dir, queries, p, k)


def _taat_topk(lists: list[dict], k: int,
               cursor: tuple[float, int] | None = None) -> list[tuple[int, float]]:
    """Vectorized term-at-a-time exact scoring for one query × segment.

    Lists must be sorted by (term, field); ``np.add.at`` then accumulates
    per-doc contributions in exactly the oracle's float order (term asc,
    body before kp), so scores stay bit-identical to the WAND/oracle paths.

    ``cursor=(score, doc_id)`` applies Lucene searchAfter semantics: only
    docs strictly after the cursor in (score desc, doc_id asc) order are
    eligible — scores are unchanged, the cursor only gates selection.

    This is the reference kernel shape; the batch path uses the dense
    per-segment variant in ``_taat_topk_dense`` (bit-identical, measured
    2.2× faster at 2000 queries — tests/test_wand_kernel.py pins identity).
    """
    if not lists:
        return []
    docs = np.concatenate([lst["docs"] for lst in lists])
    contribs = np.concatenate([lst["boost"] * lst["contribs"] for lst in lists])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, contribs)
    if cursor is not None:
        s_a, d_a = cursor
        keep = (acc < s_a) | ((acc == s_a) & (uniq > d_a))
        uniq, acc = uniq[keep], acc[keep]
    order = np.lexsort((uniq, -acc))[:k]
    return [(int(uniq[i]), float(acc[i])) for i in order]


def _taat_conjunctive(q_lists: list[dict], need: int, k: int,
                      cursor: tuple[float, int] | None = None) -> list[tuple[int, float]]:
    """Exact match-count-gated top-k for one query over one segment.

    Only docs matched by at least ``need`` distinct query terms are ranked
    (a term counts as matched via either field) — ``need`` = the query's
    term count for conjunctive AND, or a smaller Lucene-style
    minimum-should-match. Scores are the same BM25 sums in the same
    (term asc, field asc) float order as ``_taat_topk``, so results are
    bit-identical to the disjunctive scores of the surviving docs. Correct
    per segment because doc-range segmentation puts ALL of a doc's
    postings (every term, every field) in one segment.

    ``q_lists`` must be sorted by (term, field) — the kernel's order.
    """
    if not q_lists or need <= 0:
        return []
    docs = np.concatenate([lst["docs"] for lst in q_lists])
    contribs = np.concatenate([lst["boost"] * lst["contribs"] for lst in q_lists])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, contribs)
    cnt = np.zeros(len(uniq), dtype=np.int32)
    i = 0
    while i < len(q_lists):
        j = i
        while j < len(q_lists) and q_lists[j]["term"] == q_lists[i]["term"]:
            j += 1
        tdocs = q_lists[i]["docs"] if j == i + 1 else \
            np.unique(np.concatenate([q_lists[x]["docs"] for x in range(i, j)]))
        cnt[np.searchsorted(uniq, tdocs)] += 1
        i = j
    cand = np.flatnonzero(cnt >= need)
    if cursor is not None and len(cand):
        s_a, d_a = cursor
        ca, cu = acc[cand], uniq[cand]
        cand = cand[(ca < s_a) | ((ca == s_a) & (cu > d_a))]
    if not len(cand):
        return []
    order = np.lexsort((uniq[cand], -acc[cand]))[:k]
    return [(int(uniq[cand[i]]), float(acc[cand[i]])) for i in order]


def _taat_topk_dense(q_lists: list[dict], acc: np.ndarray, base: int,
                     k: int,
                     cursor: tuple[float, int] | None = None) -> list[tuple[int, float]]:
    """Dense-accumulator exact TAAT for one query over one segment.

    Replaces the sort-based ``np.unique`` + ``np.add.at`` accumulation with
    direct fancy ``+=`` into a segment-width float buffer: doc ids within a
    segment are a bounded contiguous range (doc_id // segment_docs is the
    segment key, build.py), so ``doc - base`` indexes a cache-resident
    array and each list's docs are unique within the list, making direct
    scatter legal. Accumulation still runs list-by-list in (term asc,
    field asc) order — the same float-add sequence per doc as
    ``_taat_topk`` and the oracle, so scores stay bit-identical.

    Lists must carry precomputed ``cols`` (docs - base) and ``vals``
    (boost * contribs). ``acc`` is the caller's reusable buffer.

    Top-k selection: O(width) ``np.partition`` for the kth score, then the
    boundary-tie-complete candidate set lexsorted by (score desc, doc asc)
    — identical tie handling to the full lexsort it replaces.

    Why no block-max pruning here (round-3 verdict #4 asked; measured +
    argued instead): once accumulation costs O(1) per posting with no
    sort, ANY per-posting prune test costs at least as much as the add it
    would skip, and a block-granularity prune (range-add difference
    array + cumsum for upper bounds) still needs a per-query exact seed
    threshold whose computation touches the same postings. Pruning pays
    where per-posting work is avoidable — the per-query DAAT path
    (``bmw_topk_lists``) already does Ding & Suel block-max skipping. A
    matrix-across-queries variant was also measured: 2.1× SLOWER than
    this shape (2D scatter misses cache; see BASELINE.md round-4 notes).
    """
    if not q_lists:
        return []
    acc.fill(0.0)
    for lst in q_lists:
        acc[lst["cols"]] += lst["vals"]
    if cursor is not None:
        # searchAfter gate: zero docs at-or-before the cursor in
        # (score desc, doc asc) order — BM25 scores are strictly > 0, so
        # zeroing removes them from selection without touching survivors
        s_a, d_a = cursor
        acc[acc > s_a] = 0.0
        ties = np.flatnonzero(acc == s_a)
        if len(ties) and s_a > 0.0:
            acc[ties[ties + base <= d_a]] = 0.0
    kk = min(k, len(acc))
    kth = -np.partition(-acc, kk - 1)[kk - 1]
    cand = np.flatnonzero(acc > 0) if kth <= 0 else np.flatnonzero(acc >= kth)
    if not len(cand):
        return []
    sc = acc[cand]
    order = np.lexsort((cand, -sc))[:k]
    return [(base + int(cand[i]), float(sc[i])) for i in order]


def _parse_boosts(queries) -> tuple[list[tuple[int, list[str]]], dict]:
    """Lucene query-boost syntax: a term ``"spark^2.5"`` weights that
    term's contribution by 2.5 for that query. Returns (clean queries,
    {(qid, term): weight}) with weights validated > 0.

    Conflicting boosts for one term within one query (``"spark^2"`` plus
    ``"spark^3"``, or a boosted term repeated bare) raise: the engine
    dedups terms per query, so last-write-wins would silently score a
    different query than Lucene (which keeps separate clauses). Exact
    repeats (same term, same weight) stay allowed."""
    clean, weights = [], {}
    for qid, terms in queries:
        bare, seen = [], {}
        for t in terms:
            w = 1.0
            if "^" in t:
                t, _, ws = t.partition("^")
                w = float(ws)
                if w <= 0:
                    raise ValueError(f"query {qid}: boost must be > 0, got {w}")
            if t in seen and seen[t] != w:
                raise ValueError(
                    f"query {qid}: conflicting boosts for term {t!r} "
                    f"({seen[t]} vs {w}); terms are deduped per query, so "
                    f"give each term one weight")
            seen[t] = w
            if w != 1.0:
                weights[(int(qid), t)] = w
            bare.append(t)
        clean.append((qid, bare))
    return clean, weights


def _weight_list(lst: dict, w: float) -> dict:
    """A query-weighted copy of a decoded posting list.

    Contribution order is ``(boost × contrib) × w`` — the same grouping in
    every kernel and in the SQL oracle, so weighted scores stay
    bit-consistent across the dense/TAAT/BMW paths (float multiply is
    commutative but NOT associative; the grouping must be fixed). boost
    folds to 1.0 (multiplying by the literal 1.0 afterwards is exact), and
    block-max bounds scale by the same positive factor, so BMW pruning
    stays admissible and exact.
    """
    new = dict(lst)
    new["contribs"] = (lst["boost"] * lst["contribs"]) * w
    new["block_max"] = (lst["boost"] * lst["block_max"]) * w
    new["boost"] = 1.0
    if "vals" in lst:
        new["vals"] = lst["vals"] * w
    return new


def _allowed_docs(flt_rows, filter_attrs: list[str]) -> np.ndarray:
    """Decode a segment's attribute blobs → allowed doc-id set.

    Semantics match SQL ``WHERE a IN (v1, v2) AND b IN (...)``: union of
    doc lists across a filter's values, intersection across attributes; an
    attribute with no row in this segment allows nothing.
    """
    per_attr: dict[str, np.ndarray] = {}
    for r in flt_rows:
        ids = delta_decode(varbyte_decode(r["docs_vb"]).astype(np.int64))
        a = r["attr"]
        per_attr[a] = np.union1d(per_attr[a], ids) if a in per_attr else ids
    allowed: np.ndarray | None = None
    for a in filter_attrs:
        ids = per_attr.get(a)
        if ids is None:
            return np.empty(0, dtype=np.int64)
        allowed = ids if allowed is None else np.intersect1d(allowed, ids)
    return allowed if allowed is not None else np.empty(0, dtype=np.int64)


def _mask_lists(lists: list[dict], masks: list[np.ndarray],
                block_size: int) -> list[dict]:
    """Drop postings where mask is False, rebuilding block-max metadata.

    Masking happens BEFORE any kernel — per-doc BM25 contributions are
    independent, so dropping postings of excluded docs leaves every
    surviving doc's score bit-identical. Block-max metadata is rebuilt from
    the surviving contributions (the original block boundaries no longer
    align), keeping BMW pruning exact for the per-query fallback path.
    """
    out = []
    for lst, mask in zip(lists, masks):
        if mask.all():
            out.append(lst)
            continue
        docs = lst["docs"][mask]
        if not len(docs):
            continue
        contribs = lst["contribs"][mask]
        nb = (len(docs) + block_size - 1) // block_size
        pad = nb * block_size - len(docs)
        bmax = np.pad(contribs, (0, pad)).reshape(nb, block_size).max(axis=1)
        blast = docs[np.minimum(
            np.arange(1, nb + 1) * block_size - 1, len(docs) - 1)]
        new = dict(lst)
        new["docs"], new["contribs"] = docs, contribs
        new["block_max"] = bmax
        new["block_last"] = blast.astype(np.int64)
        out.append(new)
    return out


def _apply_doc_filter(lists: list[dict], allowed: np.ndarray,
                      block_size: int) -> list[dict]:
    """Restrict decoded posting lists to ``allowed`` doc ids."""
    return _mask_lists(lists, [np.isin(lst["docs"], allowed) for lst in lists],
                       block_size)


def _apply_doc_deletes(lists: list[dict], deleted: np.ndarray,
                       block_size: int) -> list[dict]:
    """Drop tombstoned doc ids from decoded posting lists."""
    return _mask_lists(
        lists, [~np.isin(lst["docs"], deleted) for lst in lists], block_size)


def _make_batch_kernel(qmap, stats, p, k, block_size, scoped: bool,
                       dense_max_width: int = _DENSE_MAX_WIDTH,
                       conjunctive: bool = False,
                       min_match: int | None = None,
                       filter_attrs: list[str] | None = None,
                       use_deletes: bool = False,
                       qweights: dict | None = None,
                       after: dict | None = None,
                       must_not: dict | None = None):
    """Per-segment applyInPandas kernel shared by the one-wave and
    two-wave batch paths.

    scoped=False scores EVERY query of ``qmap`` against the segment;
    scoped=True reads the segment's surviving query-id list from the
    joined ``qids`` column (two-wave pruning) and scores only those.

    Adaptive width guard (ADVICE r4): the dense accumulator is only
    allocated when the segment's doc-id span fits ``_DENSE_MAX_WIDTH`` —
    repeated compaction multiplies ``segment_docs``, so an old index merged
    many times can exceed it, in which case each query falls back to the
    per-query adaptive kernel (``exact_topk_lists`` → BMW on wide spans)
    instead of growing the per-task buffer unboundedly. Both branches are
    exact and bit-identical (tests/test_wand_kernel.py).
    """
    qterms = dict(qmap)

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        if scoped:
            live = [(int(q), qterms[int(q)]) for q in g["qids"].iloc[0]]
            g = g.drop(columns=["qids"])
        else:
            live = qmap
        allowed = None
        if filter_attrs:
            allowed = _allowed_docs(g["flt"].iloc[0], filter_attrs)
            g = g.drop(columns=["flt"])
        deleted = None
        if use_deletes:
            raw = g["del_ids"].iloc[0]
            g = g.drop(columns=["del_ids"])
            if raw is not None and len(raw):
                deleted = np.asarray(raw, dtype=np.int64)
        lists = [lst for lst in _decode_group(g, stats, p) if len(lst["docs"])]
        if allowed is not None:
            lists = _apply_doc_filter(lists, allowed, block_size)
        if deleted is not None:
            lists = _apply_doc_deletes(lists, deleted, block_size)
        qids, dids, scores = [], [], []
        if lists and live:
            # dense-accumulator setup: segment doc ids live in a bounded
            # contiguous range, so one reusable width-sized buffer serves
            # every query (see _taat_topk_dense)
            base = min(int(lst["docs"][0]) for lst in lists)
            width = max(int(lst["docs"][-1]) for lst in lists) - base + 1
            gated = conjunctive or (min_match is not None and min_match > 1)
            dense = width <= dense_max_width and not gated
            by_term: dict[str, list[dict]] = {}
            for lst in sorted(lists, key=lambda d: (d["term"], d["field"])):
                if dense:
                    lst["cols"] = (lst["docs"] - base).astype(np.int64)
                    lst["vals"] = lst["boost"] * lst["contribs"]
                by_term.setdefault(lst["term"], []).append(lst)
            acc = np.zeros(width, dtype=np.float64) if dense else None
            for qid, terms in live:
                if qweights:
                    q_lists = []
                    for t in terms:
                        w = qweights.get((qid, t))
                        for lst in by_term.get(t, []):
                            q_lists.append(_weight_list(lst, w) if w else lst)
                else:
                    q_lists = [lst for t in terms for lst in by_term.get(t, [])]
                if must_not and qid in must_not:
                    # Boolean MUST_NOT: drop every posting of a doc that
                    # contains any excluded term (either field) BEFORE
                    # scoring — surviving docs keep bit-identical scores.
                    # The mask copies lists, so the segment's shared
                    # decoded lists are untouched for other queries; the
                    # dense fast-path arrays are re-derived from the
                    # masked copies (the cached ones index the full list).
                    neg = [lst["docs"] for t in must_not[qid]
                           for lst in by_term.get(t, [])]
                    if neg:
                        excl = np.unique(np.concatenate(neg))
                        q_lists = _apply_doc_deletes(q_lists, excl,
                                                     block_size)
                        if dense:
                            for lst in q_lists:
                                lst["cols"] = (lst["docs"] - base).astype(np.int64)
                                lst["vals"] = lst["boost"] * lst["contribs"]
                cursor = after.get(qid) if after else None
                # non-dense fallback: the per-query adaptive kernel, which
                # may still go dense for a query whose own lists span a
                # narrow doc range, else BMW — never a segment-width buffer
                if gated:
                    # qmap terms are deduped, so len(terms) is the
                    # distinct-term requirement for AND; min_match clamps
                    # to it (a 2-term query with min_match=3 needs both)
                    need = len(terms) if conjunctive \
                        else min(int(min_match), len(terms))
                    top = _taat_conjunctive(q_lists, need, k, cursor)
                elif dense:
                    top = _taat_topk_dense(q_lists, acc, base, k, cursor)
                elif cursor is not None:
                    # searchAfter needs a post-score gate, which BMW's
                    # heap can't express — the sparse exact TAAT applies
                    # the cursor before selection (scores unchanged)
                    top = _taat_topk(q_lists, k, cursor)
                else:
                    top = exact_topk_lists(q_lists, k, block_size,
                                           dense_max_width)
                for d, s in top:
                    qids.append(qid)
                    dids.append(d)
                    scores.append(s)
        return pd.DataFrame({
            "query_id": pd.Series(qids, dtype="int64"),
            "doc_id": pd.Series(dids, dtype="int64"),
            "score": pd.Series(scores, dtype="float64"),
        })

    return kernel


def _scoped_partials(hits: DataFrame, pairs: DataFrame, kernel) -> DataFrame:
    """Run the scoped batch kernel over exactly the (query, segment) pairs
    given: fold the pair set into a per-segment query-id list (metadata
    scale — one row per touched segment) and broadcast-join it onto the
    posting rows, so each posting row still ships/decodes once per segment
    and the kernel scores only that segment's surviving queries."""
    seg_queries = pairs.groupBy("segment").agg(
        F.array_sort(F.collect_list("query_id")).alias("qids"))
    scoped = hits.join(F.broadcast(seg_queries), "segment")
    return scoped.groupBy("segment").applyInPandas(
        kernel, "query_id long, doc_id long, score double")


def _expand_range_filters(spark: SparkSession, index_dir: str,
                          ranges: dict) -> dict[str, list[str]]:
    """Expand {attr: (lo, hi)} range filters into the value-list form the
    filter path consumes, against the sidecar's DISTINCT (attr, value)
    domain (a tiny metadata projection — attribute domains are
    low-cardinality by design; the attr predicate pushes to the scan).

    Numeric bounds compare numerically (values that don't parse are
    outside any numeric range — Lucene numeric-range semantics); string
    bounds compare lexicographically. Bounds are inclusive. An attr whose
    domain has no value in range expands to an empty list, which the
    filter path resolves to zero matches for that attribute.
    """
    dom = (load_attrs(spark, index_dir)
           .filter(F.col("attr").isin(sorted(ranges)))
           .select("attr", "value").distinct().collect())
    by_attr: dict[str, list[str]] = {}
    for r in dom:
        by_attr.setdefault(r["attr"], []).append(r["value"])
    out: dict[str, list[str]] = {}
    for a, (lo, hi) in ranges.items():
        vals = by_attr.get(a, [])
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)) \
                and not isinstance(lo, bool) and not isinstance(hi, bool):
            def in_range(v, lo=lo, hi=hi):
                try:
                    return lo <= float(v) <= hi
                except ValueError:
                    return False
            out[a] = sorted(v for v in vals if in_range(v))
        else:
            out[a] = sorted(v for v in vals if str(lo) <= v <= str(hi))
    return out


def _segment_count(n_docs: int, segment_docs: int | None) -> int | None:
    """Doc-range segments of an index from its stats, with no Spark job:
    ceil(n_docs / segment_docs); None when the stats carry no
    segment_docs. Exact for an uncompacted index and an upper bound after
    compaction (merge multiplies segment_docs in the rewritten stats)."""
    if not segment_docs:
        return None
    return -(-int(n_docs) // int(segment_docs))


# batch_topk runs a one-wave query as ONE task while the posting rows it
# can select (bound: |terms| × 2 fields × segments) stay at or under this
# many. The task decodes and scores every row serially, so past some size
# the parallel plan's two extra stages pay for themselves: on a 4-core
# host (local[4]) the plans crossed between 21k and 28k bound rows (sweep
# in ROADMAP.md, direction 1), so the cutoff sits just under that.
SINGLE_TASK_MAX_ROWS = 20_000


def _should_two_wave(n_docs: int, segment_docs: int | None,
                     cutoff: int) -> bool:
    """two_wave="auto" dispatch: prune only when the index is segmented
    finely enough that upper-bound pruning can outrun its own overhead.

    The bench measured the pruning machinery's cost at two extra small
    jobs (metadata aggregate + threshold join, ~2 s local) while its
    benefit scales with the number of (query, segment) pairs the bound
    eliminates — at 98 segments pruning skipped 98.7% of pairs yet still
    lost wall-clock to the job overhead; at 10^5 segments per term the
    same ratio is the whole query. The estimated segment count
    ceil(n_docs / segment_docs) is exact for an uncompacted index and an
    upper bound after compaction (merge multiplies segment_docs in the
    rewritten stats), so "auto" errs toward pruning on large indexes —
    the side where mispredicting costs O(seconds), not O(index scan).
    """
    n_seg = _segment_count(n_docs, segment_docs)
    return n_seg is not None and n_seg >= cutoff


def _single_task_topk(hits: DataFrame, kernel, k: int) -> DataFrame:
    """Run a small one-wave query in one task: the task concatenates its
    Arrow batches, runs the per-segment batch kernel on each ``segment``
    group, and ranks each query by (score desc, doc_id asc) itself — the
    same rows the parallel plan's segment exchange + row_number window
    give, with no Exchange and one Spark job."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        rows = pd.concat(parts, ignore_index=True)
        top = pd.concat([kernel((seg,), g)
                         for seg, g in rows.groupby("segment", sort=True)],
                        ignore_index=True)
        top = top.sort_values(["query_id", "score", "doc_id"],
                              ascending=[True, False, True])
        top["rank"] = (top.groupby("query_id").cumcount() + 1).astype("int32")
        yield top[top["rank"] <= k][["query_id", "rank", "doc_id", "score"]]

    # rank is NOT NULL, as row_number() makes it on the parallel plan
    return hits.coalesce(1).mapInPandas(
        run, "query_id long, rank int not null, doc_id long, score double")


def batch_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    two_wave: bool | str = False,
    wave1_segments: int = 1,
    postings: DataFrame | None = None,
    auto_cutoff: int = 4096,
    conjunctive: bool = False,
    min_match: int | None = None,
    filters: dict[str, list[str]] | None = None,
    deletes: DataFrame | None = None,
    after: dict[int, tuple[float, int]] | None = None,
    must_not: dict[int, list[str]] | None = None,
    range_filters: dict[str, tuple] | None = None,
) -> DataFrame:
    """Batch-throughput top-k: one kernel per *segment*, all queries at once.

    ``range_filters={"attr": (lo, hi), ...}`` adds Lucene/ES range
    queries over attribute values: inclusive bounds, numeric comparison
    for numeric bounds (unparseable values fall outside), lexicographic
    for string bounds. Ranges expand against the sidecar's tiny distinct
    (attr, value) domain and then ride the ordinary ``filters`` path
    (IN within an attribute, AND across attributes; naming the same attr
    in both ``filters`` and ``range_filters`` raises — pass one form per
    attr). A range matching no domain value matches no documents.

    ``must_not={qid: [terms], ...}`` adds Lucene BooleanQuery MUST_NOT
    clauses: a doc containing ANY excluded term (either field) can
    neither rank nor occupy a top-k slot for that query; surviving docs
    keep bit-identical scores (exclusion masks posting lists before
    scoring, like deletes, but per query). Excluded terms never score.
    Composes with conjunctive/min_match/filters/deletes/after; with
    two-wave pruning the upper bound stays admissible (exclusion only
    removes candidates, never raises a score).

    ``after={qid: (score, doc_id), ...}`` applies Lucene searchAfter
    pagination per query: only docs strictly after the cursor in
    (score desc, doc_id asc) order are eligible, scores unchanged, ranks
    restart at 1 for the new page — so feeding page N's last (score,
    doc_id) returns page N+1 without the deep-paging k×page heap.
    Queries absent from the dict are unpaginated. Composes with two-wave
    pruning (the wave-1 threshold comes from cursor-filtered scores,
    which only LOWERS θ — pruning stays admissible) and with
    conjunctive/min_match/filters/deletes (the cursor gates selection
    after every other mask).

    ``deletes`` (a DataFrame with a ``doc_id`` column — tombstoned ids,
    e.g. ``snapshots.read_deletes``) masks deleted docs out of the decoded
    posting lists before scoring: they can neither rank nor occupy a top-k
    slot. Scores of surviving docs keep the index's snapshot statistics
    (stale until compaction purges the tombstones — Lucene delete
    semantics); compaction with deletes recomputes exact stats.

    ``filters={"lang": ["en", "de"], ...}`` restricts candidates to docs
    whose attribute values match (IN within an attribute, AND across
    attributes) — the Lucene filter-field pattern. Requires the index to
    have been built with ``build_index(..., attrs=(...))``; matching is
    done against the attribute-postings sidecar inside the segment kernel
    (posting lists are intersected with the allowed doc set BEFORE
    scoring), so surviving docs score bit-identically to the unfiltered
    path and stats stay full-corpus (a filter narrows candidates, it does
    not re-weight idf/avgdl — same as Lucene). Composes with
    conjunctive/min_match and with two-wave pruning (filtering only lowers
    scores, so the metadata upper bounds stay admissible, and θ comes from
    filtered wave-1 scores).

    ``conjunctive=True`` gives AND semantics: only docs containing every
    query term are ranked (same BM25 scores); ``min_match=m`` is the
    Lucene-style generalization (docs matching ≥ m distinct terms,
    clamped to the query's term count). Correct per segment because
    doc-range segmentation keeps all of a doc's postings in one segment;
    composes with two-wave pruning (the UB bounds a doc's disjunctive
    score, which dominates its gated score, so pruning stays
    admissible).

    Unlike ``wand_topk`` (which replicates and re-decodes a posting row for
    every query touching its term), this ships each (term, segment) posting
    row exactly once, decodes it once, and scores every query against the
    decoded lists with vectorized TAAT accumulation — the right trade at
    batch sizes where most lists are shared between queries. Results are
    bit-identical to wand_topk/oracle. Returns (query_id, rank, doc_id, score).

    two_wave=True enables SEGMENT PRUNING for selective queries — the
    100×-scale path: at 10^12 docs a query term may appear in 10^5
    doc-range segments, but a selective query's top-k is decided by the
    few segments with high-impact postings. Wave 1 scores, per query, the
    ``wave1_segments`` segments with the largest admissible upper bound
    UB(q, seg) = Σ_terms max_contrib × field_boost (a JVM-side metadata
    aggregate over posting-row columns — no blob is decoded) to seed an
    exact threshold θ_q = the query's wave-1 kth score; wave 2 then scores
    only the remaining (query, segment) pairs with UB ≥ θ_q. Dropped pairs
    satisfy score ≤ UB < θ_q strictly, so they cannot even tie the kth
    result — results are bit-identical to the one-wave path
    (tests/test_two_wave.py), which stays the default for dense query sets
    where upper bounds are non-discriminative (the extra metadata
    aggregation + threshold join cost two small jobs).

    Query terms select posting rows through one ``isin`` predicate pushed
    into the parquet scan: no Spark job ships a term table to executors.

    Plan choice (one-wave calls without ``filters``/``range_filters`` or
    ``deletes``): when the selectable posting rows, bounded from stats by
    |terms| × 2 fields × ceil(n_docs / segment_docs), are at most
    ``SINGLE_TASK_MAX_ROWS``, the call runs as one task
    (``coalesce(1).mapInPandas``: every segment through the same kernel,
    then a per-query (score desc, doc_id asc) rank in the task) — one job,
    no exchange. Otherwise, and for two-wave, filtered or delete-masked
    calls, ``groupBy(segment).applyInPandas`` plus the ``row_number``
    window. Both plans return identical rows.

    ``postings`` optionally reuses an already-loaded (possibly persisted)
    posting DataFrame — a long-running query service keeps the index hot
    instead of re-listing parquet footers per batch.
    """
    p = p or BM25Params()
    k = k or p.k
    stats_all = load_stats(index_dir)
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    block_size_meta = stats_all.get("block_size", 64)
    if two_wave == "auto":
        two_wave = _should_two_wave(stats_all["n_docs"],
                                    stats_all.get("segment_docs"),
                                    auto_cutoff)
    queries, qweights = _parse_boosts(queries)
    qmap = [(qid, sorted(set(terms))) for qid, terms in queries]
    must_not = {int(q): sorted(set(ts)) for q, ts in must_not.items() if ts} \
        if must_not else None
    all_terms = sorted({t for _, terms in qmap for t in terms})
    if must_not:
        # excluded terms join the posting scan (their doc lists feed the
        # per-query exclusion sets) but are never added to scoring terms
        all_terms = sorted(set(all_terms)
                           | {t for ts in must_not.values() for t in ts})
    if not all_terms:
        return spark.createDataFrame([], "query_id long, rank int, doc_id long, score double")

    if postings is None:
        postings = load_postings(spark, index_dir)
    hits = postings.filter(F.col("term").isin(all_terms))

    if range_filters:
        overlap = set(range_filters) & set(filters or {})
        if overlap:
            raise ValueError(
                f"attrs {sorted(overlap)} appear in both filters and "
                "range_filters — pass one form per attribute")
        missing_attrs = set(range_filters) - set(stats_all.get("attrs", []))
        if missing_attrs:
            raise ValueError(
                f"index at {index_dir} has no attribute postings for "
                f"{sorted(missing_attrs)}; built with "
                f"attrs={stats_all.get('attrs', [])}")
        expanded = _expand_range_filters(spark, index_dir, range_filters)
        if any(not v for v in expanded.values()):
            # some range matches no attribute value at all → no document
            # can satisfy the conjunction; skip the scan entirely
            return spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score double")
        filters = {**(filters or {}), **expanded}

    filter_attrs = sorted(filters) if filters else None
    if filters:
        built_with = set(stats_all.get("attrs", []))
        missing = set(filter_attrs) - built_with
        if missing:
            raise ValueError(
                f"index at {index_dir} has no attribute postings for "
                f"{sorted(missing)}; built with attrs={sorted(built_with)} — "
                f"rebuild with build_index(..., attrs=(...))")
        cond = None
        for a, vals in filters.items():
            c = (F.col("attr") == a) & F.col("value").isin([str(v) for v in vals])
            cond = c if cond is None else (cond | c)
        # (attr, value) predicate pushes to the sidecar's parquet scan;
        # one tiny row per (attr, segment) joins the posting groups, so a
        # segment with NO allowed docs drops before its kernel ever runs
        flt = (load_attrs(spark, index_dir).filter(cond)
               .groupBy("segment")
               .agg(F.collect_list(F.struct("attr", "docs_vb")).alias("flt")))
        hits = hits.join(flt, "segment")

    use_deletes = deletes is not None
    if use_deletes:
        seg_docs = int(stats_all.get("segment_docs") or 0)
        if not seg_docs:
            raise ValueError(f"{index_dir}: stats.json has no segment_docs — "
                             "cannot map tombstones to segments")
        # per-segment sorted tombstone lists (bounded by segment_docs per
        # row); LEFT join — segments without deletes keep every posting
        seg_del = (deletes.select("doc_id").distinct()
                   .groupBy((F.col("doc_id") / F.lit(seg_docs))
                            .cast("long").alias("segment"))
                   .agg(F.sort_array(F.collect_list("doc_id")).alias("del_ids")))
        hits = hits.join(seg_del, "segment", "left")

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    after = {int(q): (float(s), int(d)) for q, (s, d) in after.items()} \
        if after else None
    if not two_wave:
        kernel = _make_batch_kernel(qmap, stats, p, k, block_size_meta, scoped=False,
                                    conjunctive=conjunctive, min_match=min_match,
                                    filter_attrs=filter_attrs,
                                    use_deletes=use_deletes, qweights=qweights,
                                    after=after, must_not=must_not)
        n_seg = _segment_count(stats_all["n_docs"],
                               stats_all.get("segment_docs"))
        # 2 fields: one posting row per (term, field, segment)
        if not filters and not use_deletes and n_seg is not None \
                and len(all_terms) * 2 * n_seg <= SINGLE_TASK_MAX_ROWS:
            return _single_task_topk(hits, kernel, k)
        partials = hits.groupBy("segment").applyInPandas(
            kernel, "query_id long, doc_id long, score double")
        return (partials.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "score"))

    kernel = _make_batch_kernel(qmap, stats, p, k, block_size_meta, scoped=True,
                                conjunctive=conjunctive, min_match=min_match,
                                filter_attrs=filter_attrs,
                                use_deletes=use_deletes, qweights=qweights,
                                after=after, must_not=must_not)
    # per-(query, segment) admissible upper bound from posting METADATA
    # columns only (max_contrib is written at encode time) — this scan
    # reads no posting blobs (parquet column pruning) and aggregates to
    # one row per (query, touched segment)
    pair_rows = [(qid, t, qweights.get((qid, t), 1.0))
                 for qid, terms in qmap for t in terms]
    qt_df = spark.createDataFrame(pair_rows,
                                  "query_id long, term string, qw double")
    boost = F.when(F.col("field") == FIELD_KP, F.lit(p.kp_boost)).otherwise(F.lit(1.0))
    # (max_contrib × boost) × qw — same grouping as the kernels' weighted
    # contribution, and float multiply by a positive weight is monotone,
    # so the bound stays admissible under query boosts
    # registry persists (r6): the former local persist + try/finally
    # unpersist forced an EAGER localCheckpoint of the final frame (a full
    # extra materialization pass) just so the intermediates could be
    # released before returning. Routing them through the session cache
    # registry keeps the result lazy — callers/benches release storage via
    # release_cached() / catalog.clearCache() as with every other
    # operator-internal persist.
    from dlkp_spark.cache import persist as _registry_persist

    ub = _registry_persist(
        postings.select("term", "field", "segment", "max_contrib")
        .join(F.broadcast(qt_df), "term")
        .groupBy("query_id", "segment")
        .agg(F.sum((F.col("max_contrib") * boost) * F.col("qw")).alias("ub")))
    uw = Window.partitionBy("query_id").orderBy(F.col("ub").desc(), F.col("segment"))
    w1_pairs = (ub.withColumn("rn", F.row_number().over(uw))
                .filter(F.col("rn") <= wave1_segments)
                .select("query_id", "segment"))
    w1 = _registry_persist(_scoped_partials(hits, w1_pairs, kernel))
    # exact per-query threshold: the kth wave-1 score (queries with
    # fewer than k wave-1 hits have no row → no pruning for them)
    theta = (w1.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") == k)
             .select("query_id", F.col("score").alias("theta")))
    w2_pairs = (ub.join(w1_pairs.withColumn("w1", F.lit(True)),
                        ["query_id", "segment"], "left")
                .filter(F.col("w1").isNull())
                .join(theta, "query_id", "left")
                .filter(F.col("theta").isNull() | (F.col("ub") >= F.col("theta")))
                .select("query_id", "segment"))
    w2 = _scoped_partials(hits, w2_pairs, kernel)
    partials = w1.unionByName(w2)
    return (partials.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def prefix_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    p: BM25Params | None = None,
    k: int | None = None,
    max_expansion: int = 1024,
    postings: DataFrame | None = None,
    **topk_kw,
) -> DataFrame:
    """Prefix (wildcard ``pre*``) top-k: expand each prefix to its matching
    index terms, then score as a multi-term OR query through the regular
    batch kernel — each matched term keeps its own idf, identical to
    running the expanded term list by hand. Extra kwargs
    (filters/deletes/...) pass through to ``batch_topk``.

    Expansion happens against the INDEX's term dictionary (one distinct
    projection over posting-row metadata — no blob decodes; the
    StartsWith predicate reaches the parquet scan). ``max_expansion``
    guards runaway prefixes the way Lucene's maxClauseCount does: a
    prefix matching more terms raises instead of shipping an unbounded
    term list to every kernel.
    """
    p = p or BM25Params()
    k = k or p.k
    qmap = [(int(qid), str(pre)) for qid, pre in queries]
    if postings is None:
        postings = load_postings(spark, index_dir)
    prefixes = sorted({pre for _, pre in qmap})
    if not prefixes:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    cond = None
    for pre in prefixes:
        c = F.col("term").startswith(pre)
        cond = c if cond is None else (cond | c)
    vocab = [r["term"] for r in
             postings.filter(cond).select("term").distinct().collect()]
    expanded: dict[str, list[str]] = {
        pre: sorted(t for t in vocab if t.startswith(pre)) for pre in prefixes}
    for pre, terms in expanded.items():
        if len(terms) > max_expansion:
            raise ValueError(
                f"prefix '{pre}*' expands to {len(terms)} terms "
                f"(> max_expansion={max_expansion}) — narrow the prefix "
                "or raise the cap")
    term_queries = [(qid, expanded[pre]) for qid, pre in qmap]
    return batch_topk(spark, index_dir, term_queries, p, k=k,
                      postings=postings, **topk_kw)


def _wildcard_regex(pattern: str) -> str:
    """Translate a Lucene wildcard pattern (``*`` = any run, ``?`` = one
    char) to an anchored regex understood identically by Spark's rlike
    and DuckDB's regexp_full_match — all other chars are escaped
    literally."""
    import re as _re

    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(_re.escape(ch))
    return "".join(out)


def wildcard_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, str]],
    p: BM25Params | None = None,
    k: int | None = None,
    max_expansion: int = 1024,
    postings: DataFrame | None = None,
    **topk_kw,
) -> DataFrame:
    """Wildcard (Lucene WildcardQuery) top-k: each pattern (``*`` = any
    run, ``?`` = exactly one char) expands against the index's term
    dictionary and scores as a multi-term OR through the batch kernel —
    the same rewrite contract as ``prefix_topk`` (per-expanded-term idf).

    Expansion is one distinct projection over posting metadata filtered
    with an anchored ``rlike`` (JVM regex; a leading literal prefix still
    lets the scan skip non-matching row groups via the OR of StartsWith
    prefixes below). ``max_expansion`` guards runaway patterns like
    Lucene's maxClauseCount. Leading-wildcard patterns are allowed but,
    as in Lucene, scan the whole dictionary — prefer an anchored prefix.
    """
    p = p or BM25Params()
    k = k or p.k
    qmap = [(int(qid), str(pat)) for qid, pat in queries]
    pats = sorted({pat for _, pat in qmap})
    if not pats:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    if postings is None:
        postings = load_postings(spark, index_dir)
    vocab = postings.select("term").distinct()
    # literal prefix (chars before the first wildcard) prunes the scan
    pre_cond = None
    for pat in pats:
        cut = min([i for i, c in enumerate(pat) if c in "*?"] + [len(pat)])
        c = F.col("term").startswith(pat[:cut]) if cut else F.lit(True)
        pre_cond = c if pre_cond is None else (pre_cond | c)
    rx_cond = None
    for pat in pats:
        c = F.col("term").rlike(f"^{_wildcard_regex(pat)}$")
        rx_cond = c if rx_cond is None else (rx_cond | c)
    matched = [r["term"] for r in
               vocab.filter(pre_cond & rx_cond).collect()]
    import re as _re

    expanded: dict[str, list[str]] = {}
    for pat in pats:
        rx = _re.compile(f"^{_wildcard_regex(pat)}$")
        terms = sorted(t for t in matched if rx.match(t))
        if len(terms) > max_expansion:
            raise ValueError(
                f"wildcard '{pat}' expands to {len(terms)} terms "
                f"(> max_expansion={max_expansion}) — narrow the pattern "
                "or raise the cap")
        expanded[pat] = terms
    term_queries = [(qid, expanded[pat]) for qid, pat in qmap
                    if expanded[pat]]
    if not term_queries:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    return batch_topk(spark, index_dir, term_queries, p, k=k,
                      postings=postings, **topk_kw)


def synonym_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list]],
    p: BM25Params | None = None,
    k: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Synonym-aware top-k with Lucene SynonymQuery blending: each query
    is a list of CLAUSES, a clause being a plain term or a list of
    synonyms. A synonym group scores as ONE pseudo-term per field —
    tf = Σ member tfs in the doc, idf from df = max member df (Lucene's
    SynonymQuery docFreq rule: overlap between members is unknowable
    from per-term stats, and max under-counts rather than over-counts) —
    so a doc matching any member matches the clause, and matching several
    members raises tf, not the number of matched clauses. A singleton
    clause reduces exactly to the plain term query.

    Per-clause df_max is resolved GLOBALLY from posting metadata before
    the kernel (a member term may be absent from a given segment but
    still carry the group's max df — per-segment resolution would score
    the same doc differently depending on which segment it lives in).
    The segment kernel merges member doc lists with one unique+scatter
    pass per (clause, field) and accumulates clause contributions in
    (clause index, field) order; docs are segment-disjoint so the global
    top-k is the usual window merge. → (query_id, rank, doc_id, score).
    """
    from dlkp_spark.config import FIELD_BODY

    p = p or BM25Params()
    k = k or p.k
    stats_all = load_stats(index_dir)
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    qmap: list[tuple[int, list[tuple[str, ...]]]] = []
    for qid, clauses in queries:
        norm = []
        for cl in clauses:
            members = (cl,) if isinstance(cl, str) else tuple(sorted(set(cl)))
            norm.append(members)
        qmap.append((int(qid), norm))
    all_terms = sorted({t for _, cls in qmap for cl in cls for t in cl})
    if not all_terms:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    if postings is None:
        postings = load_postings(spark, index_dir)
    hits = postings.filter(F.col("term").isin(all_terms))
    # global per-(term, field) df from metadata — tiny (|terms| × 2 rows)
    df_rows = hits.select("term", "field", "df").distinct().collect()
    term_df = {(r["term"], int(r["field"])): int(r["df"]) for r in df_rows}
    fields = sorted({int(r["field"]) for r in df_rows}) or [FIELD_BODY]
    # df_max per (clause, field), resolved once for the whole index
    clause_df: dict[tuple[tuple[str, ...], int], int] = {}
    for _, cls in qmap:
        for cl in cls:
            for f in fields:
                dfs = [term_df[(t, f)] for t in cl if (t, f) in term_df]
                if dfs:
                    clause_df[(cl, f)] = max(dfs)

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        docs_f, tfs_f, dls_f, counts = decode_postings_batch(
            g["docs_vb"].tolist(), g["tfs_vb"].tolist(), g["dls_vb"].tolist())
        offsets = np.concatenate(([0], np.cumsum(counts)))
        entries: dict[tuple[str, int], tuple] = {}
        for i in range(len(g)):
            s, e = offsets[i], offsets[i + 1]
            entries[(g["term"].iloc[i], int(g["field"].iloc[i]))] = (
                docs_f[s:e], tfs_f[s:e], dls_f[s:e])
        qids, dids, scores = [], [], []
        for qid, cls in qmap:
            q_lists = []
            for cl in cls:  # clause order = query order (deterministic)
                for f in fields:
                    parts = [entries[(t, f)] for t in cl if (t, f) in entries]
                    if not parts:
                        continue
                    if len(parts) == 1:
                        u, tf_sum, dl_u = parts[0]
                    else:
                        docs = np.concatenate([pt[0] for pt in parts])
                        tfs = np.concatenate([pt[1] for pt in parts])
                        dls = np.concatenate([pt[2] for pt in parts])
                        u, inv = np.unique(docs, return_inverse=True)
                        tf_sum = np.zeros(len(u), dtype=np.int64)
                        np.add.at(tf_sum, inv, tfs)
                        # dl is a (doc, field) property — every member
                        # carries the same value, any write wins
                        dl_u = np.zeros(len(u), dtype=np.int64)
                        dl_u[inv] = dls
                    idf = idf_fn(stats["n_docs"], clause_df[(cl, f)])
                    tff = tf_sum.astype(np.float64)
                    dlf = dl_u.astype(np.float64)
                    avgdl = stats["avgdl"][f]
                    tfn = (tff * (p.k1 + 1.0)) / (
                        tff + p.k1 * (1.0 - p.b + p.b * dlf / avgdl))
                    q_lists.append({
                        "docs": u, "contribs": idf * tfn,
                        "boost": p.kp_boost if f == FIELD_KP else 1.0,
                    })
            for d, s in _taat_topk_lists_presorted(q_lists, k):
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


def collapse_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    p: BM25Params | None = None,
    k: int | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Field collapsing (Lucene grouping / Elasticsearch ``collapse``):
    per query, the top-k docs with AT MOST ONE doc — the best-scoring —
    per value of ``attr``. The web-search "one result per site" shape.
    Docs missing the attribute collapse into one shared null group (ES
    null-bucket semantics). → (query_id, rank, doc_id, score, value).

    Scale shape: the kernel scores a segment once for all queries (the
    usual decode-once TAAT pass), maps scored docs to values via the
    attribute-postings sidecar (already segment-local), and emits only
    the per-value best for the segment's TOP-K DISTINCT VALUES — enough
    for exactness: if a value's best doc is outranked by k other values'
    bests within its own segment, those same k values outrank it
    globally, so it can never reach the global top-k. The global merge
    is a two-window pass over ≤ k rows per (query, segment): best per
    (query, value), then rank. Requires ``build_index(..., attrs=(...,
    attr, ...))``.
    """
    p = p or BM25Params()
    k = k or p.k
    stats_all = load_stats(index_dir)
    if attr not in stats_all.get("attrs", []):
        raise ValueError(
            f"index at {index_dir} has no attribute postings for '{attr}'; "
            f"built with attrs={stats_all.get('attrs', [])}")
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    qmap = [(int(qid), sorted({t.partition("^")[0] for t in terms}))
            for qid, terms in queries]
    all_terms = sorted({t for _, terms in qmap for t in terms})
    schema = "query_id long, doc_id long, score double, value string"
    if not all_terms:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double, value string")
    if postings is None:
        postings = load_postings(spark, index_dir)
    vals = (load_attrs(spark, index_dir).filter(F.col("attr") == attr)
            .groupBy("segment")
            .agg(F.collect_list(F.struct("value", "docs_vb")).alias("vals")))
    # LEFT join (r6 fix, ADVICE): an inner join dropped every posting of a
    # segment with zero docs carrying the attribute, so that segment's
    # docs could never rank — ES null-bucket semantics say they compete in
    # the shared null group, exactly like per-doc missing values
    hits = (postings.filter(F.col("term").isin(all_terms))
            .join(vals, "segment", "left"))

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        vrow = g["vals"].iloc[0]
        value_docs = [(r["value"],
                       delta_decode(varbyte_decode(r["docs_vb"])
                                    .astype(np.int64)))
                      for r in (vrow if vrow is not None else [])]
        g = g.drop(columns=["vals"])
        lists = [lst for lst in _decode_group(g, stats, p)
                 if len(lst["docs"])]
        by_term: dict[str, list[dict]] = {}
        for lst in sorted(lists, key=lambda d: (d["term"], d["field"])):
            by_term.setdefault(lst["term"], []).append(lst)
        qids, dids, scores, values = [], [], [], []
        for qid, terms in qmap:
            q_lists = [lst for t in terms for lst in by_term.get(t, [])]
            if not q_lists:
                continue
            docs = np.concatenate([lst["docs"] for lst in q_lists])
            contribs = np.concatenate(
                [lst["boost"] * lst["contribs"] for lst in q_lists])
            uniq, inv = np.unique(docs, return_inverse=True)
            acc = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(acc, inv, contribs)
            # doc → value-code; unmatched docs share the null group (-1)
            group = np.full(len(uniq), -1, dtype=np.int64)
            for vi, (_v, ids) in enumerate(value_docs):
                pos = np.searchsorted(ids, uniq)
                hit = (pos < len(ids)) & \
                    (ids[np.minimum(pos, len(ids) - 1)] == uniq)
                group[hit] = vi
            order = np.lexsort((uniq, -acc))
            seen: set[int] = set()
            for i in order:
                gcode = int(group[i])
                if gcode in seen:
                    continue
                seen.add(gcode)
                qids.append(qid)
                dids.append(int(uniq[i]))
                scores.append(float(acc[i]))
                values.append(value_docs[gcode][0] if gcode >= 0 else None)
                if len(seen) >= k:
                    break
        return pd.DataFrame({
            "query_id": pd.Series(qids, dtype="int64"),
            "doc_id": pd.Series(dids, dtype="int64"),
            "score": pd.Series(scores, dtype="float64"),
            "value": pd.Series(values, dtype="object"),
        })

    partials = hits.groupBy("segment").applyInPandas(kernel, schema)
    # best per (query, value) across segments — NULL values form one
    # partition (the shared null group) in both Spark and the SQL oracle
    wv = Window.partitionBy("query_id", "value").orderBy(
        F.col("score").desc(), F.col("doc_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id"))
    return (partials.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1).drop("rn")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score", "value"))


def dismax_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    tie: float = 0.1,
    postings: DataFrame | None = None,
) -> DataFrame:
    """DisMax (Lucene DisjunctionMaxQuery) field combination: per query
    term and doc, the body and keyphrase-field contributions combine as
    ``max + tie × min`` instead of the default sum — the "best field
    wins, others tie-break" semantics that stops a term matching weakly
    in both fields from outranking a strong single-field match. Each
    field keeps its own idf/avgdl and the kp field keeps its boost
    (Lucene applies field boosts inside the disjuncts); tie=1.0 recovers
    the default sum combiner exactly and tie=0.0 is pure max. Per-term
    disjunct scores then sum across query terms (term-asc float order).
    → (query_id, rank, doc_id, score).

    Scale shape is identical to ``batch_topk``'s one-wave path: each
    matched posting row ships and decodes once per segment, the combiner
    is one union+scatter pass per (term, doc-overlap), and only k rows
    per (query, segment) leave the kernel.
    """
    from dlkp_spark.config import FIELD_BODY

    p = p or BM25Params()
    k = k or p.k
    if not 0.0 <= tie <= 1.0:
        raise ValueError(f"tie must be in [0, 1], got {tie}")
    stats_all = load_stats(index_dir)
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    qmap = [(int(qid), sorted({t.partition("^")[0] for t in terms}))
            for qid, terms in queries]
    all_terms = sorted({t for _, terms in qmap for t in terms})
    if not all_terms:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    if postings is None:
        postings = load_postings(spark, index_dir)
    hits = postings.filter(F.col("term").isin(all_terms))

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        lists = _decode_group(g, stats, p)
        by_tf: dict[tuple[str, int], dict] = {
            (lst["term"], lst["field"]): lst for lst in lists
            if len(lst["docs"])}
        qids, dids, scores = [], [], []
        for qid, terms in qmap:
            q_lists = []
            for t in terms:
                fl = [by_tf[(t, f)] for f in (FIELD_BODY, FIELD_KP)
                      if (t, f) in by_tf]
                if not fl:
                    continue
                if len(fl) == 1:
                    lst = fl[0]
                    # a single disjunct IS the max; tie never applies
                    q_lists.append({"docs": lst["docs"],
                                    "contribs": lst["contribs"],
                                    "boost": lst["boost"]})
                    continue
                b, kp = fl
                u = np.union1d(b["docs"], kp["docs"])
                cb = np.zeros(len(u), dtype=np.float64)
                ck = np.zeros(len(u), dtype=np.float64)
                cb[np.searchsorted(u, b["docs"])] = b["boost"] * b["contribs"]
                ck[np.searchsorted(u, kp["docs"])] = kp["boost"] * kp["contribs"]
                comb = np.maximum(cb, ck) + tie * np.minimum(cb, ck)
                q_lists.append({"docs": u, "contribs": comb, "boost": 1.0})
            for d, s in _taat_topk_lists_presorted(q_lists, k):
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


def _taat_topk_lists_presorted(q_lists: list[dict], k: int) -> list[tuple[int, float]]:
    """`_taat_topk` accumulation over lists whose order the CALLER fixed
    (clause order, not (term, field)) — synonym clauses have no term key."""
    q_lists = [lst for lst in q_lists if len(lst["docs"])]
    if not q_lists:
        return []
    docs = np.concatenate([lst["docs"] for lst in q_lists])
    contribs = np.concatenate([lst["boost"] * lst["contribs"] for lst in q_lists])
    uniq, inv = np.unique(docs, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, contribs)
    order = np.lexsort((uniq, -acc))[:k]
    return [(int(uniq[i]), float(acc[i])) for i in order]


def _fuzzy_expand(spark: SparkSession, postings: DataFrame,
                  srcs: list[str], max_edits: int,
                  prefix_len: int) -> DataFrame:
    """The fuzzy expansion frame: (src, term) pairs from the index term
    dictionary within ``max_edits`` of a source, sharing its first
    ``prefix_len`` chars. The StartsWith prefix gate reaches the posting
    metadata scan (plan-pinned) and the tiny source list broadcasts, so
    the JVM-side levenshtein runs only over the prefix-pruned dictionary
    slice."""
    src_df = spark.createDataFrame([(s,) for s in srcs], "src string")
    vocab = postings.select("term").distinct()
    if prefix_len > 0:
        cond = None
        for pre in sorted({s[:prefix_len] for s in srcs}):
            c = F.col("term").startswith(pre)
            cond = c if cond is None else (cond | c)
        vocab = vocab.filter(cond)
    join_cond = F.levenshtein(F.col("term"), F.col("src"), max_edits) >= 0
    if prefix_len > 0:
        join_cond = join_cond & (
            F.substring("term", 1, prefix_len) == F.substring("src", 1, prefix_len))
    return vocab.join(F.broadcast(src_df), join_cond).select("src", "term")


def fuzzy_topk(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    max_edits: int = 1,
    prefix_len: int = 1,
    max_expansion: int = 1024,
    postings: DataFrame | None = None,
    **topk_kw,
) -> DataFrame:
    """Fuzzy (Lucene FuzzyQuery) top-k: each query term expands to every
    index term within Levenshtein distance ``max_edits`` that shares its
    first ``prefix_len`` characters, then scores as a multi-term OR
    through the regular batch kernel — each matched term keeps its own
    idf, identical to running the expanded term list by hand (the same
    rewrite contract as ``prefix_topk``; Lucene's blended-frequency
    rewrite is a scoring variation we deliberately skip so the expansion
    stays bit-replayable by the SQL oracle).

    Expansion runs against the INDEX's term dictionary entirely JVM-side:
    one distinct projection over posting metadata (no blob decodes), a
    StartsWith prefix gate that reaches the parquet scan (Lucene requires
    the same non-zero prefix for exactly this reason — at web scale the
    dictionary is huge and an unanchored edit-distance sweep reads all of
    it), and Spark's built-in ``levenshtein(term, src, threshold)`` with
    the early-exit threshold. ``max_expansion`` guards runaway expansions
    the way Lucene's maxClauseCount does. A query term always matches
    itself (distance 0) when indexed.
    """
    p = p or BM25Params()
    k = k or p.k
    if max_edits < 0 or prefix_len < 0:
        raise ValueError("max_edits and prefix_len must be >= 0")
    qmap = [(int(qid), sorted({str(t) for t in terms}))
            for qid, terms in queries]
    srcs = sorted({t for _, terms in qmap for t in terms})
    if not srcs:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    if postings is None:
        postings = load_postings(spark, index_dir)
    matched = _fuzzy_expand(spark, postings, srcs, max_edits,
                            prefix_len).collect()
    expanded: dict[str, list[str]] = {s: [] for s in srcs}
    for r in matched:
        expanded[r["src"]].append(r["term"])
    for s, terms in expanded.items():
        if len(terms) > max_expansion:
            raise ValueError(
                f"fuzzy '{s}'~{max_edits} expands to {len(terms)} terms "
                f"(> max_expansion={max_expansion}) — raise prefix_len, "
                "lower max_edits, or raise the cap")
    term_queries = [
        (qid, sorted({t for s in terms for t in expanded[s]}))
        for qid, terms in qmap]
    term_queries = [(qid, ts) for qid, ts in term_queries if ts]
    if not term_queries:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    return batch_topk(spark, index_dir, term_queries, p, k=k,
                      postings=postings, **topk_kw)


def match_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    min_match: int = 1,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Total hit counts (Lucene TotalHitCountCollector): per query, how
    many docs match — i.e. contain at least ``min_match`` distinct query
    terms in either field → (query_id, n_docs).

    Counting never scores: the kernel decodes only each matched posting
    row's doc-id blob (tf/doclen blobs stay untouched), unions per-term
    across fields, and for min_match=1 unions across terms; doc-range
    segmentation makes per-segment counts additive, so the global count
    is a plain sum and only (query, count) pairs leave each kernel. At
    10^12 docs this is the cheapest possible full-match statistic: no
    accumulator, no heap, no tf decode.
    """
    if min_match < 1:
        raise ValueError("min_match must be >= 1")
    qmap = [(int(qid), sorted({t.partition("^")[0] for t in terms}))
            for qid, terms in queries]
    all_terms = sorted({t for _, terms in qmap for t in terms})
    if not all_terms:
        return spark.createDataFrame([], "query_id long, n_docs long")
    if postings is None:
        postings = load_postings(spark, index_dir)
    hits = (postings.filter(F.col("term").isin(all_terms))
            .select("term", "segment", "docs_vb"))

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        by_term: dict[str, np.ndarray] = {}
        for i in range(len(g)):
            ids = delta_decode(
                varbyte_decode(g["docs_vb"].iloc[i]).astype(np.int64))
            t = g["term"].iloc[i]
            prev = by_term.get(t)
            # union the term's field lists: a doc matching in either
            # field counts once for that term
            by_term[t] = ids if prev is None else np.union1d(prev, ids)
        qids, counts = [], []
        for qid, terms in qmap:
            lists = [by_term[t] for t in terms if t in by_term]
            if not lists:
                continue
            if min_match == 1:
                n = len(lists[0]) if len(lists) == 1 else \
                    len(np.unique(np.concatenate(lists)))
            else:
                allv = np.concatenate(lists)
                uniq, cnt = np.unique(allv, return_counts=True)
                n = int((cnt >= min(min_match, len(terms))).sum())
            if n:
                qids.append(qid)
                counts.append(n)
        return pd.DataFrame({"query_id": pd.Series(qids, dtype="int64"),
                             "n_docs": pd.Series(counts, dtype="int64")})

    partials = hits.groupBy("segment").applyInPandas(
        kernel, "query_id long, n_docs long")
    return (partials.groupBy("query_id")
            .agg(F.sum("n_docs").alias("n_docs")))


def facet_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Facet counts: per query, how many MATCHING docs carry each value of
    ``attr`` (Lucene faceting) → (query_id, value, n_docs).

    A doc matches when it contains any query term (either field — OR
    semantics, the same match set batch_topk ranks). Per segment, the
    kernel unions the query's decoded doc lists and intersects each attr
    value's doc list (both sorted — one searchsorted per value); doc-range
    segmentation makes counts additive across segments, so the global
    count is a plain sum. No posting is scored and no doc row ships —
    only (query, value, count) triples leave each kernel.

    Requires ``build_index(..., attrs=(..., attr, ...))``.
    """
    stats_all = load_stats(index_dir)
    if attr not in stats_all.get("attrs", []):
        raise ValueError(
            f"index at {index_dir} has no attribute postings for '{attr}'; "
            f"built with attrs={stats_all.get('attrs', [])}")
    qmap = [(int(qid), sorted({t.partition('^')[0] for t in terms}))
            for qid, terms in queries]
    all_terms = sorted({t for _, terms in qmap for t in terms})
    if not all_terms:
        return spark.createDataFrame([], "query_id long, value string, n_docs long")
    if postings is None:
        postings = load_postings(spark, index_dir)
    flt = (load_attrs(spark, index_dir).filter(F.col("attr") == attr)
           .groupBy("segment")
           .agg(F.collect_list(F.struct("value", "docs_vb")).alias("vals")))
    hits = (postings.filter(F.col("term").isin(all_terms))
            .select("term", "segment", "docs_vb")
            .join(flt, "segment"))

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        vals = g["vals"].iloc[0]
        value_docs = [(r["value"],
                       delta_decode(varbyte_decode(r["docs_vb"])
                                    .astype(np.int64))) for r in vals]
        by_term: dict[str, list[np.ndarray]] = {}
        for i in range(len(g)):
            ids = delta_decode(
                varbyte_decode(g["docs_vb"].iloc[i]).astype(np.int64))
            by_term.setdefault(g["term"].iloc[i], []).append(ids)
        qids, values, counts = [], [], []
        for qid, terms in qmap:
            lists = [ids for t in terms for ids in by_term.get(t, [])]
            if not lists:
                continue
            matched = lists[0] if len(lists) == 1 else \
                np.unique(np.concatenate(lists))
            for v, ids in value_docs:
                idx = np.searchsorted(ids, matched)
                n = int(((idx < len(ids))
                         & (ids[np.minimum(idx, len(ids) - 1)] == matched)).sum())
                if n:
                    qids.append(qid)
                    values.append(v)
                    counts.append(n)
        return pd.DataFrame({"query_id": pd.Series(qids, dtype="int64"),
                             "value": pd.Series(values, dtype="object"),
                             "n_docs": pd.Series(counts, dtype="int64")})

    partials = hits.groupBy("segment").applyInPandas(
        kernel, "query_id long, value string, n_docs long")
    return (partials.groupBy("query_id", "value")
            .agg(F.sum("n_docs").alias("n_docs")))


def facet_ranges(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    ranges: list[tuple],
    postings: DataFrame | None = None,
) -> DataFrame:
    """Range facets (the Elasticsearch ``range`` aggregation): per query,
    how many MATCHING docs fall into each numeric bucket of ``attr`` →
    (query_id, bucket, n_docs). Buckets are ES half-open [lo, hi) pairs,
    MAY overlap (a doc counts in every bucket containing it), and either
    bound may be None for an open end. Values that don't parse
    numerically belong to no bucket.

    Built on ``facet_counts``'s additivity: the attribute is
    single-valued per doc, so a bucket's doc count is the SUM of the
    per-value counts over the values it contains — one tiny broadcast
    range join over the (query, value, count) facet table; nothing else
    ships.
    """
    buckets = []
    for i, (lo, hi) in enumerate(ranges):
        buckets.append((i,
                        float(lo) if lo is not None else None,
                        float(hi) if hi is not None else None))
    if not buckets:
        return spark.createDataFrame([], "query_id long, bucket int, n_docs long")
    b_df = spark.createDataFrame(buckets, "bucket int, lo double, hi double")
    fc = facet_counts(spark, index_dir, queries, attr, postings=postings)
    vd = F.col("value").cast("double")
    cond = (vd.isNotNull()
            & (F.col("lo").isNull() | (vd >= F.col("lo")))
            & (F.col("hi").isNull() | (vd < F.col("hi"))))
    return (fc.join(F.broadcast(b_df), cond)
            .groupBy("query_id", "bucket")
            .agg(F.sum("n_docs").alias("n_docs")))


def facet_stats(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    attr: str,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Stats aggregation over matching docs (the Elasticsearch ``stats``
    agg): per query, count/min/max/sum/avg of ``attr``'s numeric value
    over the docs matching any query term →
    (query_id, n_docs, vmin, vmax, vsum, vavg). Docs whose value doesn't
    parse numerically are excluded (ES skips non-numeric docs).

    Derived entirely from the facet table: the attribute is
    single-valued per doc, so every moment is a weighted sum over
    (value, count) pairs — no doc rows ship, nothing is re-scored.
    Values here are integer-valued doubles, so the weighted sums are
    exact.
    """
    fc = facet_counts(spark, index_dir, queries, attr, postings=postings)
    vd = F.col("value").cast("double")
    num = fc.filter(vd.isNotNull())
    return (num.groupBy("query_id")
            .agg(F.sum("n_docs").alias("n_docs"),
                 F.min(vd).alias("vmin"),
                 F.max(vd).alias("vmax"),
                 F.sum(vd * F.col("n_docs")).alias("vsum"))
            .withColumn("vavg", F.round(F.col("vsum") / F.col("n_docs"), 6))
            .select("query_id", "n_docs", "vmin", "vmax", "vsum", "vavg"))


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    docs: DataFrame,
    doc_ids: list[int],
    p: BM25Params | None = None,
    k: int | None = None,
    n_terms: int = 5,
    **topk_kw,
) -> DataFrame:
    """Lucene MoreLikeThis: find docs similar to the given ones.

    Per source doc, its ``n_terms`` most distinctive BODY terms by
    tf × idf (idf = the index's own BM25 idf from posting metadata — the
    same quantity the ranking uses; ties term-asc) form an OR query
    through ``batch_topk``; the source doc is excluded from its own
    results, with ranks closed up. → (query_id=source doc_id, rank,
    doc_id, score).

    The term-selection inputs are tiny (|doc_ids| docs × their vocab, and
    df metadata for just those terms), so selection runs driver-side with
    the scalar-libm idf — keeping the picked terms bit-consistent with
    the SQL oracle; everything that scales (the search) stays the
    distributed batch path. Extra kwargs pass through to ``batch_topk``.
    """
    from dlkp_spark.config import FIELD_BODY

    p = p or BM25Params()
    k = k or p.k
    stats = load_stats(index_dir)
    ids = [int(d) for d in doc_ids]
    src = (docs.filter(F.col("doc_id").isin(ids))
           .select("doc_id", F.explode("tokens").alias("term"))
           .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
           .collect())
    terms_needed = sorted({r["term"] for r in src})
    dfs = {r["term"]: int(r["df"]) for r in
           (load_postings(spark, index_dir)
            .filter((F.col("field") == FIELD_BODY)
                    & F.col("term").isin(terms_needed))
            .select("term", "df").distinct().collect())}
    by_doc: dict[int, list] = {}
    for r in src:
        by_doc.setdefault(int(r["doc_id"]), []).append((r["term"], int(r["tf"])))
    queries = []
    for d in ids:
        scored = sorted(
            (-(tf * idf_fn(stats["n_docs"], dfs[t])), t)
            for t, tf in by_doc.get(d, []) if t in dfs)
        qterms = [t for _, t in scored[:n_terms]]
        if qterms:
            queries.append((d, qterms))
    if not queries:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double")
    # k+1 then drop the source: it can occupy at most one slot, so the
    # exclusion happens before the FINAL truncation — no similar doc is
    # ever displaced by the source itself
    hits = batch_topk(spark, index_dir, queries, p, k + 1, **topk_kw)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("doc_id"))
    return (hits.filter(F.col("doc_id") != F.col("query_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score"))


def explain_scores(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    doc_ids: list[int],
    p: BM25Params | None = None,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Lucene ``explain``: the per-(query, doc, term, field) score
    breakdown for the given docs → (query_id, doc_id, term, field, tf,
    df, contribution), where Σ contribution over a (query, doc) is exactly
    that doc's ``batch_topk`` score (same decode, same float expressions).

    Only the doc-range segments covering ``doc_ids`` are touched (segment
    = doc_id // segment_docs prunes at the scan), so explaining a handful
    of hits reads a handful of posting rows regardless of index size.
    """
    p = p or BM25Params()
    stats_all = load_stats(index_dir)
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    seg_docs = int(stats_all.get("segment_docs") or 0)
    if not seg_docs:
        raise ValueError(f"{index_dir}: stats.json has no segment_docs")
    wanted = np.asarray(sorted({int(d) for d in doc_ids}), dtype=np.int64)
    qmap = [(int(qid), sorted({t.partition("^")[0] for t in terms}))
            for qid, terms in queries]
    all_terms = sorted({t for _, ts in qmap for t in ts})
    schema = ("query_id long, doc_id long, term string, field int, "
              "tf long, df long, contribution double")
    if not all_terms or not len(wanted):
        return spark.createDataFrame([], schema)
    segs = sorted({int(d) // seg_docs for d in wanted})
    if postings is None:
        postings = load_postings(spark, index_dir)
    hits = postings.filter(F.col("segment").isin(segs)
                           & F.col("term").isin(all_terms))

    def kernel(_key: tuple, g: pd.DataFrame) -> pd.DataFrame:
        lists = _decode_group(g, stats, p)
        # tf values ride along for the breakdown (decode again is cheap
        # here — explain touches a handful of rows)
        tfs = [decode_postings_batch([g["docs_vb"].iloc[i]],
                                     [g["tfs_vb"].iloc[i]],
                                     [g["dls_vb"].iloc[i]])[1]
               for i in range(len(g))]
        dfv = g["df"].to_numpy()
        out = {k: [] for k in ("query_id", "doc_id", "term", "field",
                               "tf", "df", "contribution")}
        for qid, terms in qmap:
            for i, lst in enumerate(lists):
                if lst["term"] not in terms:
                    continue
                mask = np.isin(lst["docs"], wanted)
                if not mask.any():
                    continue
                contrib = lst["boost"] * lst["contribs"][mask]
                for d, t_, c in zip(lst["docs"][mask],
                                    tfs[i][np.flatnonzero(mask)], contrib):
                    out["query_id"].append(qid)
                    out["doc_id"].append(int(d))
                    out["term"].append(lst["term"])
                    out["field"].append(lst["field"])
                    out["tf"].append(int(t_))
                    out["df"].append(int(dfv[i]))
                    out["contribution"].append(float(c))
        return pd.DataFrame(out) if out["doc_id"] else pd.DataFrame(
            {k: pd.Series([], dtype=dt) for k, dt in
             [("query_id", "int64"), ("doc_id", "int64"), ("term", "object"),
              ("field", "int32"), ("tf", "int64"), ("df", "int64"),
              ("contribution", "float64")]})

    return hits.groupBy("segment").applyInPandas(kernel, schema)


def two_wave_pair_counts(
    spark: SparkSession,
    index_dir: str,
    queries: list[tuple[int, list[str]]],
    p: BM25Params | None = None,
    k: int | None = None,
    wave1_segments: int = 1,
) -> dict:
    """Diagnostic replay of batch_topk(two_wave=True)'s pruning decision:
    returns {"pairs_total", "pairs_scored", "pairs_skipped",
    "postings_total", "postings_scored"} — how many (query, segment)
    pairs the upper-bound gate dropped, and the posting-entry volume
    behind them (Σ n_postings of each pair's matched lists, from index
    METADATA only). The postings ratio is the scale-transferable number:
    per-pair decode+score work is what dominates at 10^12 docs, while
    local wall-clock at bench scale is mostly fixed per-stage constants
    (see BASELINE.md round-5 notes). Runs the same wave-1 kernel to obtain
    the exact thresholds, so counts match what the query path actually
    skips (used by tests + the bench demonstration)."""
    p = p or BM25Params()
    k = k or p.k
    stats_all = load_stats(index_dir)
    stats = {"n_docs": stats_all["n_docs"], "avgdl": stats_all["avgdl"]}
    block_size_meta = stats_all.get("block_size", 64)
    qmap = [(qid, sorted(set(terms))) for qid, terms in queries]
    pair_rows = [(qid, t) for qid, terms in qmap for t in terms]
    qt_df = spark.createDataFrame(pair_rows, "query_id long, term string")
    postings = load_postings(spark, index_dir)
    hits = postings.filter(
        F.col("term").isin(sorted({t for _, ts in qmap for t in ts})))
    boost = F.when(F.col("field") == FIELD_KP, F.lit(p.kp_boost)).otherwise(F.lit(1.0))
    ub = (postings.select("term", "field", "segment", "max_contrib", "n_postings")
          .join(F.broadcast(qt_df), "term")
          .groupBy("query_id", "segment")
          .agg(F.sum(F.col("max_contrib") * boost).alias("ub"),
               F.sum("n_postings").alias("np"))
          .persist())
    try:
        tot = ub.agg(F.count(F.lit(1)).alias("c"), F.sum("np").alias("s")).collect()[0]
        uw = Window.partitionBy("query_id").orderBy(F.col("ub").desc(), F.col("segment"))
        w1_pairs = (ub.withColumn("rn", F.row_number().over(uw))
                    .filter(F.col("rn") <= wave1_segments)
                    .select("query_id", "segment", "np"))
        kernel = _make_batch_kernel(qmap, stats, p, k, block_size_meta, scoped=True)
        w1 = _scoped_partials(hits, w1_pairs.drop("np"), kernel)
        w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
        theta = (w1.withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") == k)
                 .select("query_id", F.col("score").alias("theta")))
        agg1 = w1_pairs.agg(F.count(F.lit(1)).alias("c"),
                            F.sum("np").alias("s")).collect()[0]
        agg2 = (ub.join(w1_pairs.select("query_id", "segment")
                        .withColumn("w1", F.lit(True)),
                        ["query_id", "segment"], "left")
                .filter(F.col("w1").isNull())
                .join(theta, "query_id", "left")
                .filter(F.col("theta").isNull() | (F.col("ub") >= F.col("theta")))
                .agg(F.count(F.lit(1)).alias("c"), F.sum("np").alias("s"))
                .collect()[0])
    finally:
        ub.unpersist()
    scored = int(agg1["c"]) + int(agg2["c"])
    return {"pairs_total": int(tot["c"]), "pairs_scored": scored,
            "pairs_skipped": int(tot["c"]) - scored,
            "postings_total": int(tot["s"] or 0),
            "postings_scored": int(agg1["s"] or 0) + int(agg2["s"] or 0)}


def wand_topk_treereduce(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    p: BM25Params | None = None,
    k: int | None = None,
) -> list[tuple[int, int, float]]:
    """Single-query top-k with an explicit treeReduce heap merge
    (north_star: "treeReduce heap merge"; reference analog: distributed
    gather, extraction/trainer.py:53-75). Returns [(rank, doc_id, score)].
    """
    p = p or BM25Params()
    k = k or p.k
    stats = load_stats(index_dir)
    block_size_meta = stats.get("block_size", 64)
    stats = {"n_docs": stats["n_docs"], "avgdl": stats["avgdl"]}
    uniq = sorted(set(terms))

    # repartition by segment so every posting list of a segment is
    # colocated — the kernel scores docs fully only with all of the
    # query's lists for that doc range present
    postings = (load_postings(spark, index_dir)
                .filter(F.col("term").isin(uniq))
                .repartition("segment"))

    def seq_op(acc: list, rows: list) -> list:
        return merge_topk(acc + rows, k)

    def per_part(it):
        pdf_rows = list(it)
        if not pdf_rows:
            return iter([[]])
        g = pd.DataFrame([r.asDict() for r in pdf_rows])
        out = []
        for _seg, seg_g in g.groupby("segment", sort=False):
            lists = _decode_group(seg_g, stats, p)
            out.extend(exact_topk_lists(lists, k, block_size_meta))
        return iter([merge_topk(out, k)])

    partial_rdd = postings.rdd.mapPartitions(per_part)
    top = partial_rdd.treeAggregate([], seq_op, lambda a, b: merge_topk(a + b, k), depth=2)
    return [(i + 1, d, s) for i, (d, s) in enumerate(merge_topk(top, k))]

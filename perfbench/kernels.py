"""Spark-free timings of the innermost layers, on the run's own data.

The traced run replays the posting rows of the index it ended with through
the codec and the top-k kernel, and its page texts through the tokenizer
and tagger, in the driver process. No Spark job runs here.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np

MIN_S = 0.2  # each timing repeats its work until at least this long


def _timed(fn) -> tuple[float, int]:
    """(seconds per repetition, repetitions), repeating ``fn`` >= MIN_S."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_S:
            return dt / reps, reps


def _posting_rows(index_dir: str):
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(index_dir, "segments", "**", "*.parquet"),
                             recursive=True))
    cols = ["term", "field", "segment", "df", "docs_vb", "tfs_vb", "dls_vb",
            "block_max", "block_last"]
    tables = [pq.read_table(f, columns=cols) for f in files]
    return {c: [v for t in tables for v in t.column(c).to_pylist()] for c in cols}


def codec_and_kernel(index_dir: str, queries: list[tuple[int, list[str]]]) -> dict:
    from dlkp_spark.config import FIELD_KP, BM25Params
    from dlkp_spark.index.build import load_stats
    from dlkp_spark.index.codec import (decode_postings_batch,
                                        encode_postings_multi, tf_norm_vec)
    from dlkp_spark.oracle import idf
    from dlkp_spark.query.wand import exact_topk_lists

    p = BM25Params()
    stats = load_stats(index_dir)
    block_size = int(stats.get("block_size", 64))
    rows = _posting_rows(index_dir)
    blobs = (rows["docs_vb"], rows["tfs_vb"], rows["dls_vb"])
    blob_bytes = sum(len(b) for col in blobs for b in col)

    dec_s, _ = _timed(lambda: decode_postings_batch(*blobs))
    docs, tfs, dls, counts = decode_postings_batch(*blobs)
    ends = np.cumsum(counts)
    starts = ends - counts
    idfs = np.array([idf(stats["n_docs"], int(d)) for d in rows["df"]])
    avgdls = np.array([stats["avgdl"][int(f)] for f in rows["field"]])
    enc = encode_postings_multi(docs, tfs, dls, starts, ends, idfs, avgdls, p,
                                block_size=block_size)
    enc_bytes = sum(len(b) for c in ("docs_vb", "tfs_vb", "dls_vb") for b in enc[c])
    enc_s, _ = _timed(lambda: encode_postings_multi(
        docs, tfs, dls, starts, ends, idfs, avgdls, p, block_size=block_size))

    # per (query, segment) decoded lists, built once; the kernel is timed alone
    contribs = np.repeat(idfs, counts) * tf_norm_vec(
        tfs, dls, np.repeat(avgdls, counts), p)
    by_term: dict[str, list[int]] = {}
    for i, t in enumerate(rows["term"]):
        by_term.setdefault(t, []).append(i)
    groups = []
    for _qid, terms in queries:
        per_seg: dict[int, list[dict]] = {}
        for t in sorted(set(terms)):
            for i in by_term.get(t, []):
                f = int(rows["field"][i])
                per_seg.setdefault(int(rows["segment"][i]), []).append({
                    "term": t, "field": f,
                    "boost": p.kp_boost if f == FIELD_KP else 1.0,
                    "docs": docs[starts[i]:ends[i]],
                    "contribs": contribs[starts[i]:ends[i]],
                    "block_max": np.asarray(rows["block_max"][i], dtype=np.float64),
                    "block_last": np.asarray(rows["block_last"][i], dtype=np.int64)})
        groups.extend(per_seg.values())
    postings = sum(len(lst["docs"]) for g in groups for lst in g)
    ker_s, _ = _timed(lambda: [exact_topk_lists(g, p.k, block_size) for g in groups])
    n_postings = int(counts.sum())
    return {
        "index.codec.decode_mb_per_s": blob_bytes / dec_s / 1e6,
        "index.codec.encode_mb_per_s": enc_bytes / enc_s / 1e6,
        "index.codec.bytes_per_posting": blob_bytes / n_postings,
        "query.wand.kernel_postings_per_s": postings / ker_s,
    }


def keyphrase_docs_per_s(texts: list[str]) -> float:
    from dlkp_spark.analysis.analyzer import tokenize_py
    from dlkp_spark.analysis.keyphrase import tag_and_extract

    def run():
        for text in texts:
            tag_and_extract(tokenize_py(text))

    run()  # fills the tagger's token-hash cache, as a long-lived worker has
    per_rep, _ = _timed(run)
    return len(texts) / per_rep

"""Iceberg-style snapshot log over the posting index — time travel + expiry.

The north-star layout writes posting tables to Iceberg, whose core
contract is a *snapshot log*: every commit (build / append / compact /
reconcile) produces an immutable numbered snapshot, a HEAD pointer swap
makes it current atomically, readers can time-travel to any retained
snapshot, and old snapshots are reclaimed by an explicit expire — never
by a writer. This module provides exactly that contract over the engine's
file-based index dirs (Iceberg jars are not in this environment; on a
real deployment each ``commit_*`` body maps 1:1 onto an Iceberg
``table.newOverwrite()/newAppend()...commit()``).

Table layout::

    table_dir/
      _snapshots/snap_00001.json   immutable snapshot records
      _snapshots/HEAD.json         current snapshot pointer (atomic swap)
      v00001/                      a full index dir (segments/, stats.json)
      v00002/

Immutability: build / compact / reconcile each write a brand-new
``v{N}`` dir (the existing merge path already never mutates its source);
append adds NEW ``stream/batch=K`` sub-dirs under the current version dir
and never rewrites existing ones, so an older append snapshot stays
readable by filtering to the batch list it recorded at commit time.

Crash safety: the snapshot record and the HEAD swap are both
tmp-write + ``os.replace``. A writer killed before ``_commit`` leaves an
orphan ``v{N}`` dir and an unchanged HEAD — readers never see a partial
commit, and ``expire_snapshots`` reclaims the orphan. Single writer at a
time is assumed (Iceberg arbitrates concurrent writers with an optimistic
catalog-pointer CAS; a POSIX dir has no catalog to CAS against).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dlkp_spark.config import IndexConfig
from dlkp_spark.index.build import build_index, load_postings
from dlkp_spark.index.merge import merge_segments, reconcile_stream
from dlkp_spark.streaming.ingest import append_batch

_SNAP_RE = re.compile(r"^snap_(\d{5})\.json$")


def _snap_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_snapshots")


def _snap_path(table_dir: str, snapshot_id: int) -> str:
    return os.path.join(_snap_dir(table_dir), f"snap_{snapshot_id:05d}.json")


def _write_json(path: str, payload: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def _read_json(path: str) -> dict | None:
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def snapshot_ids(table_dir: str) -> list[int]:
    d = _snap_dir(table_dir)
    if not os.path.isdir(d):
        return []
    return sorted(int(m.group(1)) for n in os.listdir(d)
                  if (m := _SNAP_RE.match(n)))


def read_snapshot(table_dir: str, snapshot_id: int) -> dict:
    snap = _read_json(_snap_path(table_dir, snapshot_id))
    if snap is None:
        raise FileNotFoundError(
            f"snapshot {snapshot_id} not found in {table_dir} "
            f"(retained: {snapshot_ids(table_dir)})")
    return snap


def current_snapshot(table_dir: str) -> dict | None:
    head = _read_json(os.path.join(_snap_dir(table_dir), "HEAD.json"))
    if head is None:
        return None
    return read_snapshot(table_dir, int(head["snapshot_id"]))


def history(table_dir: str) -> list[dict]:
    """All retained snapshots, oldest first (the table's lineage chain)."""
    return [read_snapshot(table_dir, i) for i in snapshot_ids(table_dir)]


def _commit(table_dir: str, operation: str, index_rel: str,
            lineage: dict, metrics: dict,
            stream_batches: list[int] | None = None,
            delete_rel: str | None = None) -> dict:
    """THE commit point: snapshot record first, HEAD swap second — readers
    resolve through HEAD, so the table flips atomically or not at all."""
    ids = snapshot_ids(table_dir)
    head = current_snapshot(table_dir)
    snap = {
        "snapshot_id": (ids[-1] + 1) if ids else 1,
        "parent_id": head["snapshot_id"] if head else None,
        "operation": operation,
        "index_rel": index_rel,
        "lineage": lineage,
        "metrics": metrics,
        "committed_at": time.time(),
    }
    if stream_batches is not None:
        snap["stream_batches"] = sorted(stream_batches)
    if delete_rel is not None:
        snap["delete_rel"] = delete_rel
    os.makedirs(_snap_dir(table_dir), exist_ok=True)
    _write_json(_snap_path(table_dir, snap["snapshot_id"]), snap)
    _write_json(os.path.join(_snap_dir(table_dir), "HEAD.json"),
                {"snapshot_id": snap["snapshot_id"]})
    return snap


def _next_version_dir(table_dir: str) -> tuple[str, str]:
    vs = [int(n[1:]) for n in os.listdir(table_dir)
          if re.match(r"^v\d{5}$", n)] if os.path.isdir(table_dir) else []
    rel = f"v{(max(vs) + 1) if vs else 1:05d}"
    return rel, os.path.join(table_dir, rel)


def index_dir_of(table_dir: str, as_of: int | None = None) -> str:
    """Resolve a snapshot (HEAD when ``as_of`` is None) to its index dir."""
    snap = read_snapshot(table_dir, as_of) if as_of is not None \
        else current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"{table_dir} has no committed snapshot")
    return os.path.join(table_dir, snap["index_rel"])


def commit_build(spark: SparkSession, docs: DataFrame, table_dir: str,
                 cfg: IndexConfig | None = None, n_shards: int = 4,
                 n_docs: int | None = None,
                 attrs: tuple[str, ...] = ()) -> dict:
    """Full (re)build into a fresh version dir; commits a ``build`` snapshot.

    When ``docs`` carries a ``url`` column (the prepare_docs shape), the
    doc-map sidecar (doc_id ↔ url [+warc_ts, lang]) is written alongside —
    it powers ``commit_delete(urls=...)`` and ``resolve_urls``.
    """
    from dlkp_spark.index.build import write_docmap

    cfg = cfg or IndexConfig()
    rel, vdir = _next_version_dir(table_dir)
    os.makedirs(table_dir, exist_ok=True)
    metrics = build_index(spark, docs, vdir, cfg=cfg, n_shards=n_shards,
                          resume=False, n_docs=n_docs, attrs=attrs)
    docmap_cols: list[str] = []
    if "url" in docs.columns:
        docmap_cols = write_docmap(spark, docs, vdir)
    return _commit(table_dir, "build", rel,
                   lineage={"source": "full-build", "docmap": docmap_cols},
                   metrics=metrics)


def commit_append(spark: SparkSession, pages: DataFrame, table_dir: str,
                  cfg: IndexConfig | None = None,
                  batch_id: int | None = None) -> dict:
    """Append a micro-batch to the CURRENT version dir as a new
    ``stream/batch=K`` sub-index; commits an ``append`` snapshot recording
    the batch list visible as of this commit (time-travel reads of older
    append snapshots filter to their shorter list — existing batch dirs
    are never rewritten, so they stay valid).

    Stats in appended sub-indexes are batch-local (exactly the
    streaming-ingest contract); ``commit_reconcile`` folds them into a
    globally-exact index. ``read_postings`` is exact at every snapshot.
    """
    cfg = cfg or IndexConfig()
    head = current_snapshot(table_dir)
    if head is None:
        raise FileNotFoundError(f"{table_dir}: append needs a build snapshot first")
    vdir = os.path.join(table_dir, head["index_rel"])
    prior = head.get("stream_batches", [])
    bid = batch_id if batch_id is not None else (max(prior) + 1 if prior else 0)
    n = append_batch(spark, pages, vdir, cfg, bid)
    # a replayed batch_id (streaming retry — append_batch is idempotent per
    # batch) must not be listed twice, or read_postings would double-read it
    batches = prior if bid in prior else [*prior, bid]
    return _commit(table_dir, "append", head["index_rel"],
                   lineage={"batch_id": bid, "parent_version": head["index_rel"],
                            "replay": bid in prior},
                   metrics={"rows_appended": n},
                   stream_batches=batches,
                   delete_rel=head.get("delete_rel"))


def commit_compact(spark: SparkSession, table_dir: str, factor: int = 2,
                   cfg: IndexConfig | None = None, n_shards: int = 4) -> dict:
    """Compact the current snapshot into a fresh version dir (the LSM merge);
    the source version stays readable at its snapshot until expired.

    A snapshot with pending stream batches must ``commit_reconcile`` first:
    the segment merge reads only the base ``segments/``, so compacting over
    un-reconciled appends would silently drop them from the new version.
    """
    head = current_snapshot(table_dir)
    if head and head.get("stream_batches"):
        raise ValueError(
            f"snapshot {head['snapshot_id']} has pending stream batches "
            f"{head['stream_batches']} — run commit_reconcile before "
            "commit_compact (compaction reads only the base segments)")
    src = index_dir_of(table_dir)
    rel, vdir = _next_version_dir(table_dir)
    # compaction PURGES tombstones: postings of deleted docs drop out and
    # statistics are recomputed exactly, so the new snapshot carries no
    # delete_rel and scores as a from-scratch build of the survivors
    deletes = read_deletes(spark, table_dir)
    metrics = merge_segments(spark, src, vdir, factor=factor, cfg=cfg,
                             n_shards=n_shards, deletes=deletes)
    return _commit(table_dir, "compact", rel,
                   lineage={"compacted_from": current_snapshot(table_dir)["snapshot_id"],
                            "factor": factor,
                            "tombstones_purged": deletes is not None},
                   metrics=metrics)


def commit_reconcile(spark: SparkSession, table_dir: str,
                     cfg: IndexConfig | None = None, n_shards: int = 4) -> dict:
    """Fold the current version's streamed batches into one globally-exact
    index in a fresh version dir (see merge.reconcile_stream).

    Tombstones carry FORWARD (doc ids are unchanged by reconcile); only
    compaction purges them.
    """
    head = current_snapshot(table_dir)
    src = index_dir_of(table_dir)
    rel, vdir = _next_version_dir(table_dir)
    metrics = reconcile_stream(spark, src, vdir, cfg=cfg, n_shards=n_shards)
    return _commit(table_dir, "reconcile", rel,
                   lineage={"reconciled_from": head["snapshot_id"]},
                   metrics=metrics,
                   delete_rel=head.get("delete_rel"))


def commit_delete(spark: SparkSession, table_dir: str, doc_ids=None,
                  urls=None) -> dict:
    """Tombstone docs — an Iceberg-style delete-file commit, no data rewrite.

    ``doc_ids`` is an iterable of ints or a DataFrame with a ``doc_id``
    column; ``urls`` (iterable of strings or a DataFrame with a ``url``
    column) addresses docs through the version's doc-map sidecar instead —
    the natural key of the Common-Crawl input shape. The commit writes a
    CUMULATIVE delete file (parent tombstones ∪
    new — readers resolve exactly one file) and swaps HEAD; the index data
    dirs are untouched, so time travel to pre-delete snapshots still sees
    the docs. Queries via ``snapshot_topk``/``read_deletes`` mask
    tombstoned ids at decode time with snapshot statistics (Lucene delete
    semantics: stats go stale until a compaction purges — ``commit_compact``
    then drops the postings and recomputes exact stats).
    """
    head = current_snapshot(table_dir)
    if head is None:
        raise FileNotFoundError(f"{table_dir}: delete needs a build snapshot first")
    if (doc_ids is None) == (urls is None):
        raise ValueError("commit_delete takes exactly one of doc_ids / urls")
    if urls is not None:
        if isinstance(urls, DataFrame):
            u = urls.select("url").distinct()
        else:
            u = spark.createDataFrame([(str(x),) for x in urls], "url string")
        dm = _snapshot_docmap(spark, table_dir, head)
        new = (dm.join(F.broadcast(u), "url", "left_semi")
               .select("doc_id").distinct())
    elif isinstance(doc_ids, DataFrame):
        new = doc_ids.select("doc_id").distinct()
    else:
        new = spark.createDataFrame([(int(d),) for d in doc_ids], "doc_id long")
    prior_rel = head.get("delete_rel")
    if prior_rel:
        new = new.unionByName(
            spark.read.parquet(os.path.join(table_dir, prior_rel))).distinct()
    ids = snapshot_ids(table_dir)
    rel = os.path.join("deletes", f"del_{(ids[-1] + 1) if ids else 1:05d}")
    tmp = os.path.join(table_dir, "_tmp_deletes")
    shutil.rmtree(tmp, ignore_errors=True)
    new.coalesce(1).write.mode("overwrite").parquet(tmp)
    final = os.path.join(table_dir, rel)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    n = spark.read.parquet(final).count()
    return _commit(table_dir, "delete", head["index_rel"],
                   lineage={"parent_snapshot": head["snapshot_id"]},
                   metrics={"tombstones_total": n},
                   stream_batches=head.get("stream_batches"),
                   delete_rel=rel)


def _snapshot_docmap(spark: SparkSession, table_dir: str, snap: dict) -> DataFrame:
    """The doc map visible at a snapshot: the version's base sidecar plus
    each LISTED stream batch's sidecar (appends extend the id space, and
    append_batch writes a per-batch doc map alongside its sub-index)."""
    from dlkp_spark.index.build import load_docmap

    vdir = os.path.join(table_dir, snap["index_rel"])
    paths = [os.path.join(vdir, "docmap")]
    for bid in snap.get("stream_batches", []):
        paths.append(os.path.join(vdir, "stream", f"batch={bid}", "docmap"))
    live = [p for p in paths if os.path.isdir(p)]
    if not live:
        load_docmap(spark, vdir)  # raises the canonical docmap error
    parts = [spark.read.parquet(p) for p in live]
    dm = parts[0]
    for p in parts[1:]:
        dm = dm.unionByName(p, allowMissingColumns=True)
    return dm


def resolve_urls(spark: SparkSession, table_dir: str, hits: DataFrame,
                 as_of: int | None = None) -> DataFrame:
    """Join a (…, doc_id, …) result frame back to urls via the snapshot's
    doc-map sidecar(s). The hit frame is broadcast (results are ≤ queries
    × k rows), so the map is one scan with no shuffle."""
    snap = read_snapshot(table_dir, as_of) if as_of is not None \
        else current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"{table_dir} has no committed snapshot")
    dm = _snapshot_docmap(spark, table_dir, snap)
    return dm.join(F.broadcast(hits), "doc_id").select(
        *hits.columns, *[c for c in dm.columns if c != "doc_id"])


def read_deletes(spark: SparkSession, table_dir: str,
                 as_of: int | None = None) -> DataFrame | None:
    """The tombstone set visible at a snapshot (None when it has none)."""
    snap = read_snapshot(table_dir, as_of) if as_of is not None \
        else current_snapshot(table_dir)
    if snap is None or "delete_rel" not in snap:
        return None
    return spark.read.parquet(os.path.join(table_dir, snap["delete_rel"]))


def snapshot_topk(spark: SparkSession, table_dir: str, queries,
                  p=None, k: int | None = None,
                  as_of: int | None = None, **kw) -> DataFrame:
    """Snapshot-exact batch top-k: resolves the snapshot's index dir and
    masks its tombstones. Pending-append snapshots must reconcile first
    (their batch-local stats are not globally exact for scoring)."""
    from dlkp_spark.query.wand import batch_topk

    snap = read_snapshot(table_dir, as_of) if as_of is not None \
        else current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"{table_dir} has no committed snapshot")
    if snap.get("stream_batches"):
        raise ValueError(
            f"snapshot {snap['snapshot_id']} has pending stream batches — "
            "commit_reconcile before querying (batch-local stats)")
    return batch_topk(spark, os.path.join(table_dir, snap["index_rel"]),
                      queries, p, k,
                      deletes=read_deletes(spark, table_dir,
                                           as_of=snap["snapshot_id"]),
                      **kw)


def snapshot_phrase_topk(spark: SparkSession, table_dir: str, phrases,
                         p=None, k: int | None = None,
                         as_of: int | None = None, **kw) -> DataFrame:
    """Snapshot-exact phrase top-k (tombstones masked); see snapshot_topk."""
    from dlkp_spark.query.phrase import phrase_topk

    snap = read_snapshot(table_dir, as_of) if as_of is not None \
        else current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"{table_dir} has no committed snapshot")
    if snap.get("stream_batches"):
        raise ValueError(
            f"snapshot {snap['snapshot_id']} has pending stream batches — "
            "commit_reconcile before querying (batch-local stats)")
    return phrase_topk(spark, os.path.join(table_dir, snap["index_rel"]),
                       phrases, p, k,
                       deletes=read_deletes(spark, table_dir,
                                            as_of=snap["snapshot_id"]),
                       **kw)


def read_postings(spark: SparkSession, table_dir: str,
                  as_of: int | None = None) -> DataFrame:
    """Posting frame exactly as of a snapshot (HEAD when ``as_of`` is None).

    Append snapshots resolve to base segments + ONLY the batches their
    record lists; build/compact/reconcile snapshots to their version dir.
    """
    snap = read_snapshot(table_dir, as_of) if as_of is not None \
        else current_snapshot(table_dir)
    if snap is None:
        raise FileNotFoundError(f"{table_dir} has no committed snapshot")
    vdir = os.path.join(table_dir, snap["index_rel"])
    paths = [os.path.join(vdir, "segments")]
    for bid in snap.get("stream_batches", []):
        paths.append(os.path.join(vdir, "stream", f"batch={bid}", "segments"))
    missing = [p for p in paths if not os.path.isdir(p)]
    if missing:
        raise FileNotFoundError(
            f"snapshot {snap['snapshot_id']} references segment data that is "
            f"gone: {missing} — a retained snapshot's files must never be "
            "deleted (expire_snapshots only reclaims unreferenced dirs)")
    parts = [spark.read.parquet(p).drop("shard") for p in paths]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def expire_snapshots(table_dir: str, keep_last: int = 1) -> list[int]:
    """Reclaim old snapshots + version dirs no retained snapshot references.

    Keeps the newest ``keep_last`` snapshots (always including HEAD);
    deletes the rest's records, then any ``v*`` dir not referenced by a
    kept snapshot — including orphans from writers killed before commit.
    Returns the expired snapshot ids.
    """
    ids = snapshot_ids(table_dir)
    head = current_snapshot(table_dir)
    keep = set(ids[-max(keep_last, 1):])
    if head:
        keep.add(head["snapshot_id"])
    expired = [i for i in ids if i not in keep]
    for i in expired:
        os.remove(_snap_path(table_dir, i))
    kept_snaps = [read_snapshot(table_dir, i) for i in keep]
    live_rels = {s["index_rel"] for s in kept_snaps}
    for name in os.listdir(table_dir):
        if re.match(r"^v\d{5}$", name) and name not in live_rels:
            shutil.rmtree(os.path.join(table_dir, name))
    # delete files work the same way: reclaim any not referenced by a
    # retained snapshot (each snapshot's delete file is cumulative)
    live_dels = {os.path.basename(s["delete_rel"])
                 for s in kept_snaps if "delete_rel" in s}
    del_dir = os.path.join(table_dir, "deletes")
    if os.path.isdir(del_dir):
        for name in os.listdir(del_dir):
            if name not in live_dels:
                shutil.rmtree(os.path.join(del_dir, name))
    return expired

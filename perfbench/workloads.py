"""The workloads: set-up, warm-up, requests and their answer checks.

Every request is split in two: ``prepare`` runs untimed and returns the
timed body, a check and the number of queries the request answers. The body
is the request as a user issues it and consumes its result (a ``collect`` or
a commit) inside the timer. Checks run after the measurement window closes,
against facts captured when the request was prepared.
"""

from __future__ import annotations

import math
import os
import random
import re

import pandas as pd

from perfbench.plan import VARIANTS

N_BASE = 2000          # base corpus pages
SEGMENT_DOCS = 256     # 8 doc-range segments in the base index
MB_PAGES = 100         # pages per micro-batch, near-duplicates included
MB_DUPS = 4            # exact-text copies per micro-batch, under new urls
MB_FRESH = MB_PAGES - MB_DUPS
MAX_BATCHES = 16       # micro-batches generated up front
WARM_BASE = 64         # pages of ingest's throwaway warm-up table
DELETE_URLS = 3        # urls per churn delete request
POOL = 4096            # query pool; batch requests take slices of it
BATCH_QUERIES = 2000
VARIANT_QUERIES = 20
BATCH_CHECKED = 16     # oracle-checked queries per serve batch
K = 10


class CheckFailed(Exception):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def _check_shape(rows) -> dict[int, list]:
    """Result rows per query, in rank order; ranks run 1..n <= k with
    scores descending."""
    per_q: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        per_q.setdefault(int(r["query_id"]), []).append(r)
    for qid, rs in per_q.items():
        _expect([r["rank"] for r in rs] == list(range(1, len(rs) + 1)),
                f"query {qid}: ranks not 1..n")
        _expect(len(rs) <= K, f"query {qid}: more than k results")
        _expect(all(a["score"] >= b["score"] for a, b in zip(rs, rs[1:])),
                f"query {qid}: scores not descending")
    return per_q


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(path) for f in files)


class Workload:
    """What the workloads share: the session, the generated pages, the
    snapshot table, the query pool and the write requests."""

    name = ""
    n_batches = 0      # micro-batches to generate
    extra_pages = 0    # further generated pages, after the micro-batches

    def __init__(self, spark, tracer, root: str, seed: int, n_cpus: int):
        from dlkp_spark.config import BM25Params, IndexConfig
        from dlkp_spark.oracle import reference_query_set

        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.seed = seed
        self.p = BM25Params()
        self.cfg = IndexConfig(segment_docs=SEGMENT_DOCS, n_term_partitions=n_cpus)
        self.table = os.path.join(root, "table")
        self.pool = reference_query_set(seed=seed, n_queries=POOL)
        self.queried: list[int] = []   # snapshot id read by each query request
        self.appended = 0
        self.batches = 0

    def setup(self) -> None:
        """Generate every page the run uses in one pass: the base corpus,
        then the micro-batches' fresh pages, then any extra."""
        from dlkp_spark.corpus import generate_web_pages

        n = N_BASE + self.n_batches * MB_FRESH + self.extra_pages
        pdf = generate_web_pages(self.spark, n, seed=self.seed).toPandas()
        self.base = pdf.iloc[:N_BASE].reset_index(drop=True)
        self.fresh = pdf.iloc[N_BASE:].reset_index(drop=True)
        self.base_path = self._write(self.base, "base.parquet")
        self.texts = self.base["text"].tolist()
        # doc ids are url ranks (analysis.analyzer.with_doc_ids)
        order = sorted(range(N_BASE), key=lambda i: self.base["url"][i])
        self.doc_of_row = {row: doc for doc, row in enumerate(order)}
        self.url_of_doc = {doc: self.base["url"][row]
                           for row, doc in self.doc_of_row.items()}

    def _write(self, pdf: pd.DataFrame, name: str) -> str:
        path = os.path.join(self.root, "input", name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pdf.to_parquet(path, coerce_timestamps="us", index=False)
        return path

    def build(self, path: str, n: int, table: str) -> dict:
        from dlkp_spark.index import snapshots as S
        from dlkp_spark.index.build import prepare_docs

        pages = self.spark.read.parquet(path)
        with self.tracer.call("index.snapshots.commit_build"):
            return S.commit_build(self.spark, prepare_docs(pages, validate=True, n_docs=n),
                                  table, cfg=self.cfg, n_shards=1, n_docs=n,
                                  attrs=("lang",))

    def queries(self, start: int, n: int) -> list[tuple[int, list[str]]]:
        return [self.pool[(start + i) % POOL] for i in range(n)]

    def stats_docs(self, snap: dict, table: str | None = None) -> int:
        from dlkp_spark.index.build import load_stats

        return int(load_stats(os.path.join(table or self.table,
                                           snap["index_rel"]))["n_docs"])

    def micro_batch(self, start: int | None = None) -> tuple[str, str, str]:
        """Write the next micro-batch; returns (path, sentinel term,
        sentinel url). Its first page carries a term no other page has; its
        last MB_DUPS pages repeat the text of pages 1..MB_DUPS under new
        urls, so the near-duplicate filter must drop exactly those."""
        from dlkp_spark.corpus import wrap_html

        b = self.batches
        lo = b * MB_FRESH if start is None else start
        pdf = self.fresh.iloc[lo:lo + MB_FRESH].reset_index(drop=True)
        if len(pdf) < MB_FRESH:
            raise IndexError(f"all {self.n_batches} generated micro-batches are used")
        self.batches += 1
        term = f"zsentinel{self.seed}x{b}"
        text = f"{pdf.loc[0, 'text']} {term}"
        pdf.loc[0, "text"] = text
        pdf.loc[0, "html"] = wrap_html(text, lang=pdf.loc[0, "lang"], key=b)
        dups = pdf.iloc[1:1 + MB_DUPS].assign(url=lambda d: d["url"] + "?copy")
        pdf = pd.concat([pdf, dups], ignore_index=True)
        pdf["mb_id"] = range(len(pdf))
        return self._write(pdf, f"batch-{b}.parquet"), term, pdf.loc[0, "url"]

    def append(self, path: str, table: str) -> dict:
        """Near-duplicate filter, then commit_append. Each pipeline step
        materializes its output inside its own span, so its Spark work is
        attributed to it."""
        from dlkp_spark.cache import release_cached
        from dlkp_spark.index import snapshots as S
        from dlkp_spark.pipeline.cluster import dedup_clusters, keep_canonical
        from dlkp_spark.pipeline.dedup import minhash_lsh_pairs

        spark, t = self.spark, self.tracer
        pages = spark.read.parquet(path)
        with t.call("pipeline.dedup.minhash_lsh_pairs"):
            pairs = minhash_lsh_pairs(pages, id_col="mb_id").localCheckpoint()
        with t.call("pipeline.cluster.dedup_clusters"):
            labels = dedup_clusters(pages, pairs, id_col="mb_id")
        with t.call("pipeline.cluster.keep_canonical"):
            kept = keep_canonical(pages, labels, id_col="mb_id").drop("mb_id") \
                .localCheckpoint()
        with t.call("index.snapshots.commit_append"):
            snap = S.commit_append(spark, kept, table, cfg=self.cfg)
        release_cached()
        return snap

    def reconcile(self, table: str) -> dict:
        from dlkp_spark.index import snapshots as S

        with self.tracer.call("index.snapshots.commit_reconcile"):
            return S.commit_reconcile(self.spark, table, cfg=self.cfg, n_shards=1)

    def compact(self, table: str) -> dict:
        from dlkp_spark.index import snapshots as S

        with self.tracer.call("index.snapshots.commit_compact"):
            return S.commit_compact(self.spark, table, cfg=self.cfg, n_shards=1)

    def fresh_urls(self, table: str, sid: int, term: str) -> list[str]:
        """Urls of the top hits for ``term`` at snapshot ``sid``."""
        from dlkp_spark.index import snapshots as S

        hits = S.snapshot_topk(self.spark, table, [(0, [term])], self.p, k=K, as_of=sid)
        return [r["url"] for r in S.resolve_urls(self.spark, table, hits,
                                                 as_of=sid).collect()]

    def _check_kept(self, snap: dict) -> None:
        kept = snap["metrics"]["rows_appended"]
        _expect(kept == MB_FRESH, f"near-duplicate filter kept {kept} of "
                f"{MB_PAGES} pages, expected {MB_FRESH}")

    # -- end-of-run facts ------------------------------------------------------

    def live_docs(self) -> int:
        return N_BASE + self.appended

    def index_dir(self) -> str:
        from dlkp_spark.index import snapshots as S

        return S.index_dir_of(self.table)

    def index_bytes_per_doc(self) -> float:
        """Bytes of the current snapshot (index dir plus its delete file)
        per live doc."""
        from dlkp_spark.index import snapshots as S

        snap = S.current_snapshot(self.table)
        size = _dir_bytes(os.path.join(self.table, snap["index_rel"]))
        if snap.get("delete_rel"):
            size += _dir_bytes(os.path.join(self.table, snap["delete_rel"]))
        return size / self.live_docs()

    def segment_count(self) -> float:
        """Median segment count of the snapshots the query requests read."""
        import pyarrow.parquet as pq

        from dlkp_spark.index import snapshots as S
        from perfbench.plan import median

        counts = {}
        for sid in set(self.queried):
            d = os.path.join(self.table, S.read_snapshot(self.table, sid)["index_rel"],
                             "segments")
            counts[sid] = len(set(pq.read_table(d, columns=["segment"])
                                  .column("segment").to_pylist()))
        return median([counts[s] for s in self.queried]) if self.queried else 0.0

    def write_amp(self) -> float:
        """Bytes written by reconcile and compact commits per byte of
        appended sub-index."""
        from dlkp_spark.index import snapshots as S

        merged = appended = 0
        seen = set()
        for snap in S.history(self.table):
            vdir = os.path.join(self.table, snap["index_rel"])
            if snap["operation"] in ("reconcile", "compact"):
                merged += _dir_bytes(vdir)
            if vdir not in seen:
                seen.add(vdir)
                appended += _dir_bytes(os.path.join(vdir, "stream"))
        return merged / appended if appended else 0.0


class Serve(Workload):
    """Read-only: interactive, batch and variant requests against one
    index with a ``lang`` attribute sidecar, built in set-up."""

    name = "serve"

    def setup(self) -> None:
        from dlkp_spark.index import snapshots as S
        from dlkp_spark.oracle import build_oracle_index

        super().setup()
        self.build(self.base_path, N_BASE, self.table)
        self.idx = S.index_dir_of(self.table)
        self.oracle = build_oracle_index(
            [(self.doc_of_row[i], t) for i, t in enumerate(self.texts)])
        self.lang = {self.doc_of_row[i]: lang for i, lang in enumerate(self.base["lang"])}
        self._ranked: dict = {}

    def warm_requests(self) -> list[dict]:
        return [{"op": op, "query": 0} for op in ("single", "batch", "variant")]

    def _oracle(self, terms) -> list[tuple[int, int, float]]:
        """Full oracle ranking of a query (memoized)."""
        from dlkp_spark.oracle import bm25_topk

        key = tuple(sorted(set(terms)))
        if key not in self._ranked:
            self._ranked[key] = bm25_topk(self.oracle, list(key), self.p,
                                          k=self.oracle.n_docs)
        return self._ranked[key]

    def _has(self, doc: int, term: str) -> bool:
        return any(doc in plist.get(term, {}) for plist in self.oracle.postings.values())

    def _match_oracle(self, qid: int, terms, got: list, keep=None) -> None:
        """``got`` is rank-identical to the oracle's top k, restricted to
        docs ``keep`` accepts."""
        want = [(d, s) for _r, d, s in self._oracle(terms)
                if keep is None or keep(d)][:K]
        have = [(int(r["doc_id"]), float(r["score"])) for r in got]
        _expect([d for d, _ in have] == [d for d, _ in want],
                f"query {qid} {terms}: docs {have[:3]} != oracle {want[:3]}")
        _expect(all(math.isclose(a, b, rel_tol=1e-12)
                    for (_, a), (_, b) in zip(have, want)),
                f"query {qid}: scores differ from the oracle")

    def prepare(self, req: dict):
        from dlkp_spark.query import wand

        spark, p, idx, t = self.spark, self.p, self.idx, self.tracer
        op = req["op"]
        self.queried.append(1)
        if op == "single":
            qs = self.queries(req["query"], 1)
            span, checked = "query.wand.batch_topk.single", qs
        elif op == "batch":
            qs = self.queries(req["query"], BATCH_QUERIES)
            span = "query.wand.batch_topk.batch"
            checked = random.Random(req["query"]).sample(qs, BATCH_CHECKED)
        elif op == "variant":
            return self._variant(req)
        else:
            raise ValueError(f"serve has no request class {op!r}")

        def body():
            with t.call(span):
                return wand.batch_topk(spark, idx, qs, p, k=K).collect()

        def check(rows):
            per_q = _check_shape(rows)
            for qid, terms in checked:
                self._match_oracle(qid, terms, per_q.get(qid, []))
        return body, check, len(qs)

    def _variant(self, req: dict):
        """One call of each variant in VARIANTS over the same queries. The
        ``filtered`` call composes filters, must_not and conjunctive."""
        from dlkp_spark.query import wand

        spark, p, idx, t = self.spark, self.p, self.idx, self.tracer
        qs = self.queries(req["query"], VARIANT_QUERIES)
        rng = random.Random(req["query"])
        # each query's first term and its vocabulary neighbour form one
        # synonym clause
        syn = [(qid, [[ts[0], f"w{(int(ts[0][1:]) + 1) % 2000:04d}"]
                      if re.fullmatch(r"w\d{4}", ts[0]) else ts[0], *ts[1:]])
               for qid, ts in qs]
        langs = ["en", "fr"]
        excl = {qid: [f"w{rng.randrange(20):04d}"] for qid, _ in qs}
        calls = {
            "dismax": lambda: wand.dismax_topk(spark, idx, qs, p, k=K),
            "synonym": lambda: wand.synonym_topk(spark, idx, syn, p, k=K),
            "collapse": lambda: wand.collapse_topk(spark, idx, qs, "lang", p, k=K),
            "filtered": lambda: wand.batch_topk(spark, idx, qs, p, k=K,
                                                filters={"lang": langs},
                                                must_not=excl, conjunctive=True),
        }

        def body():
            out = {}
            for kind in VARIANTS:
                with t.call("query.wand.variant"):
                    out[kind] = calls[kind]().collect()
            return out

        def check(results):
            per_kind = {kind: _check_shape(rows) for kind, rows in results.items()}
            for qid, terms in qs:
                for kind in ("dismax", "synonym"):
                    _expect(all(0 <= int(r["doc_id"]) < N_BASE
                                for r in per_kind[kind].get(qid, [])),
                            f"{kind} query {qid}: unknown doc id")
                got = per_kind["collapse"].get(qid, [])
                vals = [r["value"] for r in got]
                _expect(len(vals) == len(set(vals)), f"collapse query {qid}: value repeats")
                _expect(all(self.lang[int(r["doc_id"])] == r["value"] for r in got),
                        f"collapse query {qid}: value is not the doc's lang")
                # an excluded term never scores, but conjunctive still
                # requires every query term, so excluding one of them
                # leaves no docs
                bad = excl[qid][0]
                self._match_oracle(
                    qid, [x for x in terms if x != bad], per_kind["filtered"].get(qid, []),
                    keep=lambda d: (self.lang[d] in langs and not self._has(d, bad)
                                    and all(self._has(d, x) for x in terms)))
        return body, check, len(VARIANTS) * len(qs)


class Ingest(Workload):
    """Write-heavy: one timed build into an empty table, then a stream of
    near-duplicate-filtered micro-batches, each followed by a reconcile, a
    compaction and a freshness probe."""

    name = "ingest"
    n_batches = MAX_BATCHES
    extra_pages = WARM_BASE + MB_FRESH

    def setup(self) -> None:
        super().setup()
        # the warm-up runs on a throwaway table of its own, from the pages
        # after the micro-batches
        lo = MAX_BATCHES * MB_FRESH
        self.warm_path = self._write(
            self.fresh.iloc[lo:lo + WARM_BASE].reset_index(drop=True), "warm.parquet")
        self.warm_table = os.path.join(self.root, "warm-table")
        self.warm_start = lo + WARM_BASE
        self.n_docs = 0            # docs in the table's stats
        self.pending: list[tuple[str, str]] = []   # (term, url) not yet probed

    def warm_requests(self) -> list[dict]:
        return [{"op": op, "query": 0, "warm": True}
                for op in ("build", "append", "reconcile", "compact", "probe")]

    def prepare(self, req: dict):
        from dlkp_spark.index import snapshots as S

        warm = req.get("warm", False)
        table = self.warm_table if warm else self.table
        op = req["op"]
        if op == "build":
            path, n = (self.warm_path, WARM_BASE) if warm else (self.base_path, N_BASE)
            if not warm:
                self.n_docs = N_BASE

            def check(snap):
                got = self.stats_docs(snap, table)
                _expect(got == n, f"build indexed {got} docs, expected {n}")
            return lambda: self.build(path, n, table), check, 0
        if op == "append":
            path, term, url = self.micro_batch(self.warm_start if warm else None)
            self.pending.append((term, url))
            if not warm:
                self.appended += MB_FRESH
            return lambda: self.append(path, table), self._check_kept, 0
        if op in ("reconcile", "compact"):
            if op == "reconcile" and not warm:
                self.n_docs = N_BASE + self.appended
            want = None if warm else self.n_docs

            def check(snap):
                if want is not None:
                    got = self.stats_docs(snap, table)
                    _expect(got == want, f"{op} left {got} docs, expected {want}")
            return (lambda: getattr(self, op)(table)), check, 0
        if op == "probe":
            fresh, self.pending = self.pending, []
            term, url = fresh[-1]
            sid = S.current_snapshot(table)["snapshot_id"]
            if not warm:
                self.queried.append(sid)

            def body():
                with self.tracer.call("index.snapshots.snapshot_topk.single"):
                    return S.snapshot_topk(self.spark, table, [(0, [term])], self.p,
                                           k=K).collect()

            def check(rows):
                _expect(len(rows) == 1 and rows[0]["rank"] == 1,
                        f"probe for {term} returned {len(rows)} rows, expected 1")
                for t_, u in fresh:
                    got = self.fresh_urls(table, sid, t_)
                    _expect(got == [u], f"freshness probe for {t_} found {got}, "
                            f"expected {u}")
            return body, check, 1
        raise ValueError(f"ingest has no request class {op!r}")


class Churn(Workload):
    """Reads beside writes on one snapshot table: interactive and batch
    queries interleave with deletes, near-duplicate-filtered appends
    (reconciled at once) and compactions. Every commit changes the files
    that key the listing cache, so the next query misses it.

    Not registered in BENCHMARK.json: once a compaction has changed the
    segment size, a later reconcile records the stream batch's segment size
    for the whole index, and deleted base docs reappear in answers (see
    perfbench/README.md). The tombstone check reports it on every run.
    """

    name = "churn"
    n_batches = MAX_BATCHES

    def setup(self) -> None:
        super().setup()
        self.build(self.base_path, N_BASE, self.table)
        order = list(range(N_BASE))
        random.Random(f"deletes:{self.seed}").shuffle(order)
        self.delete_order = order       # base doc ids, deleted front to back
        self.deleted = 0
        self.n_docs = N_BASE            # docs in the stats, tombstoned ones too
        self.tombstones = 0             # tombstones since the last compaction

    def warm_requests(self) -> list[dict]:
        return [{"op": op, "query": 0} for op in
                ("single", "batch", "delete", "append", "compact")]

    def live_docs(self) -> int:
        return N_BASE + self.appended - self.deleted

    def prepare(self, req: dict):
        from dlkp_spark.index import snapshots as S

        spark, t = self.spark, self.tracer
        op = req["op"]
        if op in ("single", "batch"):
            qs = self.queries(req["query"], 1 if op == "single" else BATCH_QUERIES)
            gone = set(self.delete_order[:self.deleted])
            self.queried.append(S.current_snapshot(self.table)["snapshot_id"])

            def body():
                with t.call(f"index.snapshots.snapshot_topk.{op}"):
                    return S.snapshot_topk(spark, self.table, qs, self.p, k=K).collect()

            def check(rows):
                _check_shape(rows)
                hit = sorted({int(r["doc_id"]) for r in rows} & gone)
                _expect(not hit, f"tombstoned docs {hit[:5]} in an answer")
            return body, check, len(qs)
        if op == "delete":
            docs = self.delete_order[self.deleted:self.deleted + DELETE_URLS]
            urls = [self.url_of_doc[d] for d in docs]
            self.deleted += len(docs)
            self.tombstones += len(docs)
            want = self.tombstones

            def body():
                with t.call("index.snapshots.commit_delete"):
                    return S.commit_delete(spark, self.table, urls=urls)

            def check(snap):
                got = snap["metrics"]["tombstones_total"]
                _expect(got == want, f"{got} tombstones, expected {want}")
            return body, check, 0
        if op == "append":
            path, term, url = self.micro_batch()
            self.appended += MB_FRESH
            self.n_docs += MB_FRESH
            want = self.n_docs

            def body():
                return self.append(path, self.table), self.reconcile(self.table)

            def check(snaps):
                appended, reconciled = snaps
                self._check_kept(appended)
                got = self.stats_docs(reconciled)
                _expect(got == want, f"append + reconcile left {got} docs, "
                        f"expected {want}")
                found = self.fresh_urls(self.table, reconciled["snapshot_id"], term)
                _expect(found == [url], f"freshness probe for {term} found {found}")
            return body, check, 0
        if op == "compact":
            self.n_docs -= self.tombstones
            self.tombstones = 0
            want = self.n_docs

            def check(snap):
                got = self.stats_docs(snap)
                _expect(got == want, f"compaction left {got} docs, expected {want}")
            return lambda: self.compact(self.table), check, 0
        raise ValueError(f"churn has no request class {op!r}")


WORKLOADS = {"serve": Serve, "ingest": Ingest, "churn": Churn}

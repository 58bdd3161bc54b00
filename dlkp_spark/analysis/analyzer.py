"""Analyzer: html → text extraction and deterministic tokenization.

Engine analog of the reference's tokenize stage (dlkp ``tagger.py:60``
whitespace split + ``datasets/extraction.py:128-139`` fast-tokenizer map),
re-expressed as Arrow-batched ``mapInPandas`` — the reference's
``Dataset.map(batched=True, num_proc=N)`` workhorse (M1/M2/M3 in SURVEY.md §2.3)
maps 1:1 onto this. Never per-row Python.

The per-row invariant (BASELINE.json input_hint): text extracted from
``html`` is byte-identical to the ``text`` column for every url.
"""

from __future__ import annotations

import html as html_std
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dlkp_spark.config import TOKEN_RE

# Compiled once per worker process; every sub below runs at C speed per
# page, so extraction stays Arrow-batch-friendly inside mapInPandas.
_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_SCRIPT_RE = re.compile(r"<script\b.*?</script\s*>", re.S | re.I)
_STYLE_RE = re.compile(r"<style\b.*?</style\s*>", re.S | re.I)
_HEAD_RE = re.compile(r"<head\b.*?</head\s*>", re.S | re.I)
_MAIN_RE = re.compile(r"<(?:main|article)\b[^>]*>(.*?)</(?:main|article)\s*>",
                      re.S | re.I)
_BOILER_RE = re.compile(r"<(nav|header|footer|aside)\b.*?</\1\s*>",
                        re.S | re.I)
_TAG_RE = re.compile(r"<[^>]+>")


def extract_text_py(html: bytes) -> str:
    """General html → visible-main-text extraction (trafilatura/jusText
    shape, from scratch): drop comments, raw-text ``<script>``/``<style>``
    blocks (whose contents legally contain ``<``/``>``/fake tags) and the
    whole ``<head>``; scope to ``<main>``/``<article>`` when the page has
    one; drop ``nav``/``header``/``footer``/``aside`` boilerplate blocks;
    strip remaining tags to whitespace; THEN decode character entities
    (the html-correct order — ``&lt;b&gt;`` is text, not markup); collapse
    whitespace. Pure function of the bytes.

    Per-row invariant (BASELINE.json input_hint): byte-identical to the
    ``text`` column for every url of the generated corpus — enforced by
    ``analyze(validate=True)`` and pinned by tests/test_corpus.py, which
    also covers handwritten adversarial pages (uppercase tags, attributes,
    entities in all forms, comment-wrapped markup, boilerplate nesting
    other tags, pages with and without ``<main>``).

    Documented limits (fine for the renderer and typical crawl html, and
    the validate gate catches violations loudly): same-name nested
    boilerplate elements, ``>`` inside attribute values, and CDATA
    sections are not handled.
    """
    s = html.decode("utf-8", errors="replace")
    s = _COMMENT_RE.sub(" ", s)
    s = _SCRIPT_RE.sub(" ", s)
    s = _STYLE_RE.sub(" ", s)
    s = _HEAD_RE.sub(" ", s)
    m = _MAIN_RE.search(s)
    if m:
        s = m.group(1)
    s = _BOILER_RE.sub(" ", s)
    s = _TAG_RE.sub(" ", s)
    s = html_std.unescape(s)
    # collapse + strip in one C pass: str.split() splits on unicode
    # whitespace runs exactly like \s+ (profiled 10× faster than the
    # regex sub, which was 97% of extractor time)
    return " ".join(s.split())


def tokenize_py(text: str) -> list[str]:
    """Shared tokenizer: lowercase + runs of [a-z0-9] (config.TOKEN_RE)."""
    return TOKEN_RE.findall(text.lower())


def analyze(web_pages: DataFrame, validate: bool = True) -> DataFrame:
    """web_pages(url, warc_ts, html, text, lang) → +extracted_text, +tokens.

    ``mapInPandas`` iterator form: one Python worker handles a whole Arrow
    batch stream, so per-batch cost amortizes (the reference's batched=True
    map, datasets/extraction.py:36-42).
    """
    schema = ("url string, warc_ts timestamp, text string, lang string, "
              "tokens array<string>")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            extracted = pdf["html"].map(extract_text_py)
            if validate:
                bad = pdf.loc[extracted != pdf["text"], "url"]
                if len(bad):
                    raise ValueError(
                        f"extracted text not byte-identical for urls: {bad.tolist()[:5]}")
            yield pd.DataFrame({
                "url": pdf["url"],
                "warc_ts": pdf["warc_ts"],
                "text": extracted,
                "lang": pdf["lang"],
                "tokens": extracted.map(tokenize_py),
            })

    return web_pages.mapInPandas(run, schema)


# with_doc_ids' scale path broadcasts the slim (url, doc_id) map up to this
# many docs (guide §3.1 — broadcast the side that fits): a hash join there
# shuffles the WIDE docs frame (token/keyphrase arrays) by url, the single
# largest exchange of the whole build (measured at 400k docs: the id attach
# cost ~8 s against a perfectly-scaling tagger stage). The map is ~60 B/row,
# so 4M rows ≈ 240 MB — inside executor broadcast budgets; beyond that the
# distributed join is the honest path and the wide shuffle is amortized by
# the corpus size that forced it.
DOC_ID_BROADCAST_ROWS = 4_000_000


def with_doc_ids(docs: DataFrame, scale_threshold: int = 100_000,
                 n_range_parts: int | None = None,
                 n_docs: int | None = None,
                 key_source: DataFrame | None = None) -> DataFrame:
    """Dense deterministic doc_id = rank of url (0-based).

    The rank is always computed on a slim ``url``-only projection (documents
    carry wide text/token/keyphrase columns — dragging them through a rank
    shuffle would dominate the build), then joined back on url.

    ``key_source``: optional upstream frame carrying the SAME url set
    (e.g. the raw web_pages scan). When ``docs`` is the output of a
    Python inference stage, ranking ``docs.select("url")`` would either
    re-run the whole Arrow UDF for the url projection (mapInPandas does
    not column-prune) or force the caller to persist the wide tagged
    frame — measured 30–50 s of cache churn at 100k docs. Ranking the
    url column straight off the source parquet is a column-pruned
    JVM-only scan, and the analyzer is url-preserving 1:1, so the
    mapping is identical.

    Small inputs: global ``row_number() over (order by url)`` on the slim
    projection. Above ``scale_threshold`` rows a single-partition window is
    not viable, so the scale path runs two-phase: ``repartitionByRange(url)``
    → per-partition rank + per-partition row-count offsets joined back (the
    offsets table is one row per partition, broadcast). Both paths produce
    the identical url→rank mapping, independent of where range boundaries
    fall, so results are partitioning-invariant.

    PRECONDITION (load-bearing, pinned by
    tests/test_index_build.py::test_doc_ids_deterministic_across_reeval):
    urls are UNIQUE. The small path's ids come from
    ``monotonically_increasing_id`` over a coalesced sorted partition —
    deterministic across re-evaluations only because the (single-partition,
    unique-key) sort admits exactly one row order; a duplicate url would
    make the sort order — and therefore the id assignment and the
    join-back fan-out — ambiguous. Corpus urls are primary keys by
    construction (corpus.py generator, TESTDATA.md) and the web-scale
    input contract (BASELINE.json input_hint) keys pages by url.
    """
    from pyspark.sql import Window

    slim = (key_source if key_source is not None else docs).select("url")
    n = n_docs if n_docs is not None else slim.count()
    if n <= scale_threshold:
        # one partition IS the plan here (input bounded by
        # scale_threshold): coalesce(1) + in-partition sort +
        # monotonically_increasing_id (sequential 0..n-1 inside the single
        # partition) — identical execution shape to a bare rank window
        # without WindowExec's single-partition funnel (a constant
        # partitionBy key would just fold away and warn)
        ids = (slim.coalesce(1).sortWithinPartitions("url")
               .withColumn("doc_id", F.monotonically_increasing_id().cast("long")))
        return docs.join(F.broadcast(ids), "url")

    parts = n_range_parts or docs.sparkSession.sparkContext.defaultParallelism * 2
    from dlkp_spark.cache import persist as _persist
    ranged = _persist(slim.repartitionByRange(parts, "url").withColumn(
        "_part", F.spark_partition_id()))
    # per-partition offsets: one count row per range partition — prefix-
    # summed DRIVER-side (O(#partitions) metadata, the documented serial
    # budget) instead of a no-partition cumulative window
    cnt_rows = (ranged.groupBy("_part").agg(F.count("*").alias("_cnt")).collect())
    acc = 0
    offs = []
    for r in sorted(cnt_rows, key=lambda r: r["_part"]):
        offs.append((int(r["_part"]), acc))
        acc += int(r["_cnt"])
    offsets = docs.sparkSession.createDataFrame(offs, "_part int, _off long")
    w_in = Window.partitionBy("_part").orderBy("url")
    ids = (ranged.withColumn("_rn", F.row_number().over(w_in).cast("long"))
           .join(F.broadcast(offsets), "_part")
           .withColumn("doc_id", F.col("_off") + F.col("_rn") - 1)
           .select("url", "doc_id"))
    if n <= DOC_ID_BROADCAST_ROWS:
        ids = F.broadcast(ids)
    return docs.join(ids, "url")

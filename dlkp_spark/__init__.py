"""dlkp_spark — a from-scratch PySpark-native inverted-index + BM25 engine.

Grafts the document-analysis semantics of ``midas-research/dlkp`` (BIO-tagged
keyphrase spans, decoded/deduped/scored as the reference does) into a
full-text search engine: SPIMI-style index build with delta+varbyte posting
compression and block-max metadata, and block-max WAND top-k BM25 querying
with a boosted ``keyphrase`` field.

Everything is expressed Spark-first: DataFrame/SQL plans optimized by
Catalyst, with Arrow-batched pandas UDFs (``mapInPandas``/``applyInPandas``)
only where built-in operators cannot express the semantics (tokenization,
posting compression, the WAND kernel). No per-row Python UDFs anywhere.

Worker-side import guard: every Python task starts with PySpark's
``setup_spark_files``, which ends in ``importlib.invalidate_caches()``. On
Python 3.11 that makes every ``zipimporter`` on ``sys.path`` re-read its
archive's directory — ``pyspark.zip`` once per subpackage importer, the py4j
zip, and the whole spark-core jar — about 0.15 s of every task on a 4-core
host, most of the in-stage time of a 1-query top-k. When this package is
imported inside a task (workers import it while unpickling its kernels), it
installs ``_guard_zip_rereads`` once per worker process, so an archive is
re-read only when its ``(st_mtime_ns, st_size)`` differs from its last read.
Path-based finders are still invalidated, so files and zips added later by
``addFile``/``addPyFile`` stay importable. The driver is left untouched.
"""

import os
import zipimport

from pyspark import TaskContext

from dlkp_spark.config import BM25Params, IndexConfig  # noqa: F401

__version__ = "0.1.0"


def _guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` skip re-reads of unchanged zips.

    Keyed per archive path, not per importer: one archive has one importer
    per package prefix, and they all share ``zipimport._zip_directory_cache``.
    The archive is stat'ed before it is read, so a change racing the read
    costs one extra re-read later, never a stale directory.
    """
    stdlib = zipimport.zipimporter.invalidate_caches
    read_as: dict[str, tuple[int, int] | None] = {}  # archive -> stat at last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and read_as.get(self.archive) == sig:
            self._files = files
            return
        stdlib(self)
        read_as[self.archive] = sig

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if TaskContext.get() is not None:
    _guard_zip_rereads()

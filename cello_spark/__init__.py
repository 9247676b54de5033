"""cello_spark — a from-scratch PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
CellO reference (gene-expression → Cell-Ontology classification),
re-expressed Spark-first.

Sub-packages
------------
sources    : ingest — OBO-ish ontology parser, document/fixture
             generators, bucketed sinks (Iceberg behind an import-try,
             parquet fallback).
functions  : column-level / vectorized functions — text analysis,
             scoring UDFs, similarity math.
operators  : relational & graph operators — transitive closure,
             most-specific, connected components, mention detection,
             dedup families, entity-linking decisions.
plans      : pipeline orchestration — stage manifest, checkpoint /
             resume, per-partition lineage metrics.
streaming  : incremental ingest via Structured Streaming (optional).

Everything here derives only from public knowledge: the Apache Spark /
PySpark API and the behavior (not code) of the reference repo.
"""

__version__ = "0.1.0"

import sys


def _lazy_zip_invalidation() -> None:
    """Make `zipimporter.invalidate_caches` re-read an archive's
    directory only when the file changed (mtime, size, inode).

    PySpark's worker calls `importlib.invalidate_caches()` before every
    task, and on CPython < 3.12 each zipimporter cached for a package
    dir of `pyspark.zip` (1,328 entries) then re-reads the whole zip
    directory: a profiled Python worker spent 31.7 s of 35.4 s in
    `zipimport._read_directory` over 40 trivial tasks. CPython 3.12
    made the call lazy (gh-103200). `cello_spark.worker_daemon` imports
    the package, so every Python worker it forks has the patch from its
    first task on."""
    if sys.version_info >= (3, 12):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_lazy", False):
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None:
            stamps[self.archive] = stamp

    invalidate_caches._lazy = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_lazy_zip_invalidation()


def __getattr__(name: str):
    # `get_spark` on first use (PEP 562): importing the package must not
    # import pyspark, or `python -m cello_spark.worker_daemon` would load
    # it from Spark's zip before it can put the installed copy first
    if name == "get_spark":
        from cello_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

"""postrack_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Vedadiyan/postrack (a Go Postgres
logical-replication / CDC client, reference at /root/reference/postrack.go),
rebuilt Spark-first rather than ported.

Layout:
  session     — SparkSession factory + table loading (the driver's parquet)
  cdc         — change-event envelope schema, synthetic change-stream
                generation, materialization (latest-per-key, apply-changes),
                pgoutput v1 decoder (reference: postrack.go:340-413)
  api         — name-for-name parity layer (Conn/Table/bootstrap,
                reference: postrack.go:17-338)
  operators   — relational + LLM-pipeline operators (dedup, similarity,
                text analysis, multimodal) as DataFrame compositions
  functions   — reusable column expressions (vector math, text metrics)
  sources     — batch/stream source helpers + the postgres_cdc DataSource
  streaming   — watermarked windows, stateful ops, foreachBatch sinks
  queries     — the named query registry backing __spark_entry__
"""

import sys

__version__ = "0.1.0"


def _skip_unchanged_zip_rereads() -> None:
    """In a Spark Python worker, make zipimport's cache invalidation
    re-read an archive's directory only when the archive changed.

    PySpark runs ``importlib.invalidate_caches()`` at the start of every
    task and every Python DataSource planner call. Workers import pyspark
    from ``pyspark.zip``, and before Python 3.13 each zipimporter's
    ``invalidate_caches`` re-reads the whole central directory (one
    importer per package imported from the zip), ~0.15-0.2 s per call.
    The wrapper keeps an importer's directory while the archive's
    (mtime_ns, size, inode) stays the same. Python >= 3.13 already
    invalidates lazily, and driver processes are left untouched;
    ``sys.modules`` is only read, so importing this package still loads
    no pyspark.
    """
    if sys.version_info >= (3, 13):
        return
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_postrack_stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_postrack_stamp", None):
            reread(self)
            self._postrack_stamp = stamp

    invalidate_caches._postrack_stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rereads()

# Lazy top-level exports of the reference-parity surface (postrack.go's
# package-level names): `from postrack_spark import Conn, Table, ...`
# works without importing pyspark until first use.
_API = {
    "Conn": "postrack_spark.api",
    "Table": "postrack_spark.api",
    "Executor": "postrack_spark.api",
    "create_publication_id": "postrack_spark.api",
    "as_row_sink": "postrack_spark.api",
    "CHANGE_SCHEMA": "postrack_spark.cdc.envelope",
    "INSERT": "postrack_spark.cdc.envelope",
    "UPDATE": "postrack_spark.cdc.envelope",
    "DELETE": "postrack_spark.cdc.envelope",
    "TRUNCATE": "postrack_spark.cdc.envelope",
}


def __getattr__(name: str):
    mod = _API.get(name)
    if mod is None:
        raise AttributeError(f"module 'postrack_spark' has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(mod), name)


def __dir__():
    return sorted(list(globals()) + list(_API))

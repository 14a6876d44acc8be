"""xxt_cdc_spark — a PySpark-native CDC/ETL + analytics engine.

A from-scratch rebuild of the capabilities of Xuxiaotuan/xxt-cdc
(a Scala/Pekko MySQL CDC service) on idiomatic PySpark:

- the canonical change-event envelope and type system (``model``)
- snapshot / catchup / streaming replication operators (``operators``)
- idempotent upsert sinks (``sinks``)
- Structured Streaming pipeline assembly (``streaming``)
- catalog discovery and table filtering (``catalog``, ``operators.table_filter``)
- observability (``obs``)
- large-scale data-pipeline operators the reference lacks: dedup,
  similarity search, text analysis, multimodal columns (``functions``)

Everything is DataFrame-first: Catalyst plans the physical execution,
and Python drops to Pandas UDFs only where built-ins cannot express
the semantics.
"""

__version__ = "0.1.0"

import os as _os
import sys as _sys


def _keep_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the file changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task. Before Python 3.13 that makes each zipimporter on the worker's
    path (16 in a PySpark 4.1 worker, most over ``pyspark.zip``) re-read its
    archive's whole directory: 76 ms of a 77 ms empty Python task on a
    4-core host. Every worker that runs package code imports this package
    while it unpickles its task, so the replacement holds for every later
    task of a reused worker. An archive is re-read when its
    ``(st_mtime_ns, st_size, st_ino)`` differs from the stamp taken at its
    last read, or when no read was stamped yet."""
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stamped", False):
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = _os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a write during the read changes the stamp
        original(self)
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            stamps[self.archive] = stamp
        else:
            stamps.pop(self.archive, None)

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Python 3.13 made the call lazy (0.01 ms); nothing to replace there
if _sys.version_info < (3, 13):
    _keep_unchanged_zip_directories()


def __getattr__(name):
    # lazy public API (keeps bare `import xxt_cdc_spark` free of the
    # pyspark import cost until something is actually used)
    api = {
        "CDCEngine": ("xxt_cdc_spark.engine", "CDCEngine"),
        "CDCStreamPipeline": ("xxt_cdc_spark.streaming.pipeline", "CDCStreamPipeline"),
        "JdbcUpsertWriter": ("xxt_cdc_spark.sinks.upsert", "JdbcUpsertWriter"),
        "apply_batch": ("xxt_cdc_spark.sinks.upsert", "apply_batch"),
        "apply_batch_multi": ("xxt_cdc_spark.sinks.upsert", "apply_batch_multi"),
        "apply_batch_fanout": ("xxt_cdc_spark.sinks.upsert", "apply_batch_fanout"),
        "EvolvingTableSink": ("xxt_cdc_spark.sinks.schema_evolution", "EvolvingTableSink"),
        "ParquetStateTable": ("xxt_cdc_spark.sinks.parquet_state", "ParquetStateTable"),
        "TableFilter": ("xxt_cdc_spark.operators.table_filter", "TableFilter"),
        "CDCConfig": ("xxt_cdc_spark.config", "CDCConfig"),
        "load_config": ("xxt_cdc_spark.config", "load_config"),
        "get_spark": ("xxt_cdc_spark.session", "get_spark"),
    }
    if name in api:
        import importlib

        module, attr = api[name]
        return getattr(importlib.import_module(module), attr)
    raise AttributeError(f"module 'xxt_cdc_spark' has no attribute {name!r}")

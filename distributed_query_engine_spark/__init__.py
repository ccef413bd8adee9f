"""A PySpark-native distributed analytics engine.

Re-expresses the query surface of ``dias-hbp-sp8/Distributed-Query-Engine``
(reference: ``/root/reference/DistributedQueryEngine.diff`` — a Hive/JDBC
federation patch over the RAW staged-compiler engine) as an idiomatic
Spark SQL / DataFrame library, plus large-scale training-data pipeline
operators (dedup, similarity search, multimodal columns, text analysis).

Design stance (see SURVEY.md §7): the reference spends its complexity on a
staged compiler, a rewrite framework, federation pushdown, and schema
inference — all of which are Spark built-ins (Catalyst, DSv2 pushdown,
DataFrameReader inference). This package therefore contains no parser, IR,
or optimizer: it is a thin, well-tested operator library declared through
the DataFrame API so Catalyst/Tungsten/AQE pick the physical strategy.
"""

__version__ = "0.1.0"

# Resolved on first use, so importing a submodule (the Python-worker
# daemon entry, worker_daemon) does not import pyspark.
_EXPORTS = {
    "get_spark": "session",
    "SourceCatalog": "catalog",
    "Tables": "catalog",
}


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    return getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)

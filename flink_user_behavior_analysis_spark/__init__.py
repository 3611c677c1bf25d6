"""PySpark-native analytics engine with the query capabilities of
JustxYHG/flink-user-behavior-analysis (see SURVEY.md), rebuilt
Spark-first: DataFrame/SQL plans optimized by Catalyst, Structured
Streaming for event-time streams, Pandas UDFs only where built-ins
cannot express the semantics.

The package root imports nothing eagerly: the Python worker start-up
module (``worker_daemon``) runs as ``python -m``, which imports this
``__init__`` first, and it must reorder the import path before
pyspark is imported. ``get_spark`` and ``ensure_utc`` resolve on
first access (PEP 562).
"""

__all__ = ["get_spark", "ensure_utc"]


def __getattr__(name: str):
    if name in __all__:
        from . import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

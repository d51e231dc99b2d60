"""Values that live as long as the Spark application that built them.

The engine memoizes per-application work here: parquet catalog entries,
asserted confs, fanned relations, landed tables, IVF indexes, eval hash
sets. Every entry belongs to the application that was current when it
was put. The first ``get``/``put`` that sees a different
``spark.sparkContext.applicationId`` drops all of them: PySpark runs one
SparkContext per process, so an older application has stopped, and its
DataFrames (and persisted blocks) died with it.

Keys are tuples chosen by the caller, led by a name for the caller's
family (``("tables.table", ...)``, ``("similarity.ivf", ...)``), so
several callers share the dict without colliding. Sessions made with
``spark.newSession()`` share their parent's application; a caller whose
value depends on the JVM session puts that session into its key.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

_app_id: str | None = None
_entries: dict[tuple, Any] = {}


def _scope(spark: SparkSession) -> dict[tuple, Any]:
    global _app_id, _entries
    app = spark.sparkContext.applicationId
    if app != _app_id:
        _app_id, _entries = app, {}
    return _entries


def get(spark: SparkSession, key: tuple) -> Any:
    """The value put under ``key`` in this application, or ``None``."""
    return _scope(spark).get(key)


def put(spark: SparkSession, key: tuple, value: Any) -> None:
    _scope(spark)[key] = value

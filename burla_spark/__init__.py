"""burla_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capabilities of Burla-Cloud/burla
(reference snapshot at /root/reference, v1.6.1) on top of Apache Spark:

* ``remote_parallel_map`` — the reference's single public operator
  (``client/src/burla/_remote_parallel_map.py:457``) re-built on
  ``mapInArrow`` (see :mod:`burla_spark.rpm`).
* A first-class relational operator surface (scan/filter/join/agg/
  window/sort/set-ops) — the queries the reference's documented examples
  run inside user UDFs (``README.md:123-153``), expressed declaratively
  so Catalyst optimizes them (see :mod:`burla_spark.plans`).
* LLM-data-pipeline operators: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding-cosine), similarity search, text analysis,
  multimodal column plumbing (see :mod:`burla_spark.operators`).
* Structured Streaming pipelines over the events table
  (see :mod:`burla_spark.streaming`).

Design: DataFrame-first, UDF-last. Every operator is written so the
logical plan survives Catalyst optimization (predicate pushdown, column
pruning, broadcast selection, AQE) — built for a 1000-executor cluster
even though tests run on local[32].
"""

from burla_spark.session import get_spark
from burla_spark.sources.tables import TABLE_NAMES, load_table, register_views
from burla_spark.rpm import remote_parallel_map

__version__ = "0.1.0"


def version() -> str:
    """Engine version string (reference ``burla version``,
    client __init__.py:162)."""
    return __version__


_CONF_PREFIX = "spark.burla."


def _active_spark(spark=None):
    from pyspark.sql import SparkSession

    s = spark or SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError("no active SparkSession — call get_spark() first")
    return s


def set_config(key: str, value: str, spark=None) -> str:
    """Set an engine config key (reference ``burla set_config``,
    client __init__.py:70). Keys live in the ``spark.burla.*`` conf
    namespace — session-scoped, visible to every engine component
    (journal dir, stream queue depth, heartbeat staleness, ...)."""
    _active_spark(spark).conf.set(_CONF_PREFIX + key.removeprefix(_CONF_PREFIX), value)
    return value


def get_config(key: str | None = None, spark=None):
    """Read one engine config key, or all ``spark.burla.*`` keys when
    called without arguments (reference ``burla get_config``)."""
    s = _active_spark(spark)
    if key is not None:
        return s.conf.get(_CONF_PREFIX + key.removeprefix(_CONF_PREFIX), None)
    return {k: v for k, v in s.conf.getAll.items() if k.startswith(_CONF_PREFIX)}


def get_cluster_dashboard_url(spark=None) -> str | None:
    """The engine's live dashboard (reference
    ``get_cluster_dashboard_url``, client __init__.py:107): here the
    Spark web UI — jobs, stages, storage, executors, SQL plans."""
    return _active_spark(spark).sparkContext.uiWebUrl


__all__ = [
    "get_spark",
    "load_table",
    "register_views",
    "TABLE_NAMES",
    "remote_parallel_map",
    "version",
    "set_config",
    "get_config",
    "get_cluster_dashboard_url",
]

"""Central query registry.

Every implemented operator registers here with a Spark builder
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB oracle
SQL string over the driver's pre-registered views (TESTDATA.md tables).
Non-SQL-expressible kernels (clip/MVT, iterative algos) register with
``oracle=None`` and get the driver's weaker rows-only check.

Column-name parity is part of the contract: the driver sorts columns by
name before value-hashing, so builders alias every computed column and the
oracle SQL uses the same aliases (driver contract in __spark_entry__.py).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkBuilder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    spark: SparkBuilder
    oracle: str | None  # DuckDB SQL, or None for rows-only checks
    doc: str = ""


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: register a Spark builder under ``name``."""

    def wrap(fn: SparkBuilder) -> SparkBuilder:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QueryDef(name=name, spark=fn, oracle=oracle, doc=doc or fn.__doc__ or "")
        return fn

    return wrap


def load_all() -> dict[str, QueryDef]:
    """Import every operator module (side effect: registration) and return
    the registry in registration order. A module whose import fails makes
    this raise: a silently skipped module would drop all its entries from
    ``queries()``, the oracle sweep and the parity tests.
    """
    import importlib

    modules = [
        "tank_spark.operators.tiles",
        "tank_spark.operators.heatmap",
        "tank_spark.operators.crud",
        "tank_spark.operators.ingest",
        "tank_spark.operators.relational",
        "tank_spark.operators.asof",
        "tank_spark.operators.advanced",
        "tank_spark.operators.functions_demo",
        "tank_spark.operators.stats",
        "tank_spark.operators.spatial_join",
        "tank_spark.operators.skipping",
        "tank_spark.llm.text",
        "tank_spark.llm.search",
        "tank_spark.llm.dedup",
        "tank_spark.llm.similarity",
        "tank_spark.llm.events",
        "tank_spark.llm.mixing",
        "tank_spark.llm.multimodal",
        "tank_spark.llm.media_inc",
        "tank_spark.llm.semdedup_inc",
        "tank_spark.llm.hyperplane",
        "tank_spark.llm.audio",
        "tank_spark.llm.video",
        "tank_spark.llm.bpe",
        "tank_spark.llm.lm",
        "tank_spark.llm.pq",
        "tank_spark.llm.classifier",
        "tank_spark.llm.sketches",
        "tank_spark.operators.mvt_tiles",
        "tank_spark.streaming.windows",
        "tank_spark.streaming.stateful",
    ]
    for m in modules:
        importlib.import_module(m)
    _disable_dataframe_debugging()
    return QUERIES


def _disable_dataframe_debugging() -> None:
    """Turn off PySpark's per-call DataFrame-debugging origin capture.
    When enabled (the default), every wrapped DataFrame/Column API call
    pays ~3 extra py4j round-trips (conf.get + PySparkCurrentOrigin
    set/clear) plus a Python stack walk, purely to enrich error messages
    with the user call site: ~3 ms per call and 0.3-1 s of driver time
    per query build. Pure driver-side bookkeeping: no query result, plan
    or execution change. PySpark caches the flag on the first wrapped
    call, so this must run before any DataFrame API use; load_all() is
    that point for bench, driver and tool sessions."""
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.conf.set(
                "spark.python.sql.dataFrameDebugging.enabled", "false")
        # the flag may already be cached True by an earlier wrapped
        # call (or there is no session yet): pin the cache directly so
        # the serving process is consistent either way
        from pyspark.errors import utils as _errutils

        _errutils._enable_debugging_cache = False
    except Exception:
        pass  # best-effort: older/newer pyspark without this knob

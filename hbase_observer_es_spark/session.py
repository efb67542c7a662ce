"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we'd set on a real cluster: AQE on (runtime join
strategy + skew handling), Arrow on (vectorized pandas-UDF exchange), UTC session
timezone (so timestamp semantics match the DuckDB oracle and are cluster-TZ-independent).
On a 1000-executor cluster master/shuffle-partitions change, and the package must
reach the executors' Python workers: locally ``spark.executorEnv.PYTHONPATH`` names
this checkout, on a cluster the package is installed on (or shipped to) every
executor. The query code is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Python workers import the package for executor-side functions (e.g. the
# applyInPandasWithState state function); they do not inherit the driver's
# sys.path, so a driver started outside the checkout needs this on theirs.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNTIME_CONF = {
    # AQE: runtime coalesce of shuffle partitions, broadcast-join demotion/promotion,
    # and skew-join splitting — the scale-out safety net for every join/agg here.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for pandas UDF / toPandas exchange (10-100x row-at-a-time).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # MIN/MAX/COUNT over parquet without filters answer from footer statistics —
    # a pure-metadata scan when a query qualifies (e.g. unfiltered global aggs).
    "spark.sql.parquet.aggregatePushDown": "true",
    # Deterministic timestamp interpretation, independent of machine TZ.
    "spark.sql.session.timeZone": "UTC",
}


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an existing session (e.g. the driver's).

    Memoized per session object: ``io.table`` calls this on EVERY table read,
    so in a long bench/sweep session the conf.set round trips (6 py4j calls
    each) repeat thousands of times for values that never change (r16
    measurement: ~1-2 ms per call, seconds over a full bench). Nothing else
    in this engine mutates these keys mid-session; a session wrapper seen for
    the first time still gets the full set."""
    if getattr(spark, "_hoes_runtime_conf_applied", False):
        return spark
    any_ok = False
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
            any_ok = True
        except Exception:  # pragma: no cover - conf may be static in some harnesses
            pass
    # r17 (ADVICE): only memoize when at least one set succeeded — a session
    # whose every conf.set throws (fully static conf) keeps retrying, so a
    # later unfreezing of the conf is still healed on the next table() call.
    if any_ok:
        try:
            spark._hoes_runtime_conf_applied = True
        except Exception:  # pragma: no cover - exotic session proxies
            pass
    return spark


def get_spark(app_name: str = "hbase-observer-es-spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Sized for local fixtures; on a cluster this scales with cores (or is left
        # to AQE's coalesce). Never hardcode per-query.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", os.pathsep.join(
            p for p in (_PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory with scale-oriented defaults.

The reference configures only ``spark.driver.memory=8g``
(ETL_customer_interaction.py:6, ETL_customer_behavior.py:8) because its
enrichment step collects to the driver. This engine never collects, so the
knobs that matter are AQE, Arrow, and shuffle sizing.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Runtime-settable confs, applied both at build time and to externally
# provided sessions (the correctness driver owns its own SparkSession).
_RUNTIME_CONF: dict[str, str] = {
    # AQE: runtime partition coalescing, skew-join splitting, dynamic
    # broadcast — essential at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas interchange (mapInPandas / pandas_udf /
    # toPandas) — batch-columnar transfer instead of pickled rows.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timezone: all date/timestamp semantics are UTC so
    # results are independent of the host TZ and match naive-timestamp
    # oracles (DuckDB).
    "spark.sql.session.timeZone": "UTC",
}

_BUILD_CONF: dict[str, str] = {
    # Static (non-runtime-mutable) settings.
    "spark.sql.shuffle.partitions": "32",
    # 128 MiB input splits: good parquet scan granularity at scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


# Sessions already tuned, keyed WEAKLY on the Python SparkSession object:
# every _t()/load_table call re-applied the 5 runtime confs (5 py4j round
# trips, ~2-5 ms) — ~1-2 s across a 235-query bench run (r17). A new
# wrapper object (fresh session, clone, restart) re-tunes; dead wrappers
# drop out of the set automatically. The time zone alone is re-pinned on
# every call (one py4j round trip): results depend on it, and a driver
# that owns the session may change it between query builds.
_TUNED: weakref.WeakSet = weakref.WeakSet()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (once per
    session object — see ``_TUNED``), and re-pin the UTC session time
    zone on every call.

    Used by ``__spark_entry__.queries()`` where the driver owns the
    session: only runtime-mutable confs are touched.
    """
    if spark in _TUNED:
        tz = "spark.sql.session.timeZone"
        spark.conf.set(tz, _RUNTIME_CONF[tz])
        return spark
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-mutable in this deployment; keep going
    _TUNED.add(spark)
    return spark


def get_session(
    app_name: str = "c360-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster manager is configured; on a real cluster the deploy mode's
    master wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)
    conf = dict(_BUILD_CONF)
    conf.update(_RUNTIME_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return tune_session(spark)

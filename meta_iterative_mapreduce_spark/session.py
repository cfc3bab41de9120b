"""SparkSession factory.

Tuned for the local[32] test harness but written for cluster scale:
AQE handles runtime partition coalescing and skew-join splitting, so
the same code holds when shuffle partitions are raised to thousands on
a real cluster (override via MIMR_SHUFFLE_PARTITIONS).
"""

from __future__ import annotations

import os
import weakref
from typing import Callable

from pyspark.sql import SparkSession

# Python data source names registered on each live session. A session
# built after a stop is a new object, so it registers again.
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def get_spark(
    app_name: str = "mimr-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(cpus or os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = int(
        shuffle_partitions or os.environ.get("MIMR_SHUFFLE_PARTITIONS", cpus)
    )
    # Robustness-matrix overrides (tools/robustness.py): session tz and
    # AQE are varied to prove query results don't depend on them.
    tz = os.environ.get("MIMR_TZ", "UTC")
    aqe = os.environ.get("MIMR_AQE", "true")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", aqe)
        .config("spark.sql.adaptive.skewJoin.enabled", aqe)
        .config("spark.sql.session.timeZone", tz)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("MIMR_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", f"-Duser.timezone={tz}")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def register_data_source(
    spark: SparkSession, name: str, make_source: Callable[[], type]
) -> None:
    """Register the Python data source class `make_source()` under
    format `name`, once per live session. Registering again would
    rebuild the class and replace the session's copy (Spark logs a
    warning each time); later calls on the same session do nothing."""
    names = _REGISTERED.setdefault(spark, set())
    if name not in names:
        spark.dataSource.register(make_source())
        names.add(name)

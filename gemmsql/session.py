"""SparkSession factory for the gemmsql engine.

Local-mode defaults follow the driver environment (local[32], single JVM)
but every knob is env-overridable so the same code runs on a real cluster:
on 1000 executors only ``shuffle_partitions`` and memory sizing change.

Python workers run under :mod:`gemmsql._pydaemon`, PySpark's daemon with
zip importers that re-read an archive only when it changes.  PySpark
calls ``importlib.invalidate_caches()`` at the start of every task, and
on CPython 3.11 each zip importer on the worker's path answers by
re-reading its archive's whole directory: that re-read was most of the
fixed cost of every pandas-UDF task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gemmsql",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - AQE on (runtime partition coalescing + skew-join splitting) — the
      scale path for skewed keys at 100 TB.
    - Arrow on — every pandas-UDF kernel transfers via Arrow batches.
    - UTC session timezone — parity with the DuckDB oracle (UTC-naive).
    - shuffle partitions ~ cores locally; on a cluster set it to
      2-3x total cores via ``GEMMSQL_SHUFFLE_PARTITIONS``.
    - Python workers under :mod:`gemmsql._pydaemon`
      (``spark.python.daemon.module``), whose zip importers skip the
      per-task directory re-read while an archive is unchanged.  Workers
      must import ``gemmsql``, which they already had to: module-level
      kernels such as ``xentropy._xent_kernel`` are pickled by
      reference.  ``extra_conf`` can override the key, as it can every
      default here.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("GEMMSQL_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("GEMMSQL_SHUFFLE_PARTITIONS", "32")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("GEMMSQL_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "gemmsql._pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

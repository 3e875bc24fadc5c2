"""SparkSession factory with scale-oriented defaults.

Single place where shuffle partitioning, AQE, and Arrow settings are
configured so tests, bench.py, and the driver contract all run the same
engine configuration.  On a real cluster the same builder is used via
``spark-submit --py-files``; only master/cores differ.  Run from a
checkout, Python workers start through the engine's own daemon
(``worker_daemon_conf``) and find the package from any working
directory.
"""

from __future__ import annotations

import os
import re
import zipfile

import pyspark
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def worker_daemon_conf(package_root: str, spark_home: str | None,
                       pyspark_version: str) -> dict[str, str]:
    """The confs that start Python workers through ``_worker_daemon``
    (pyspark imported from a directory, not ``pyspark.zip``), with the
    package on their path from any working directory.

    Empty, so Spark's default daemon, unless ``package_root`` (the
    directory holding ``go_shapefile_spark``) is a plain directory, not
    a ``--py-files`` zip, and ``spark_home``'s ``pyspark.zip`` is the
    release ``pyspark_version`` names."""
    if not os.path.isdir(package_root) or not spark_home:
        return {}
    try:
        with zipfile.ZipFile(os.path.join(spark_home, "python", "lib",
                                          "pyspark.zip")) as zf:
            text = zf.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return {}
    m = re.search(r"__version__\b[^=]*=\s*[\"']([^\"']+)", text)
    if m is None or m.group(1) != pyspark_version:
        return {}
    return {"spark.python.daemon.module": "go_shapefile_spark._worker_daemon",
            "spark.executorEnv.PYTHONPATH": package_root}


def get_spark(app_name: str = "go-shapefile-spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              max_partition_bytes: str | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # Rule of thumb: 1-2x cores for local; on a 1000-executor cluster
        # this would be set to ~2-3x total cores or left to AQE coalescing.
        shuffle_partitions = max(2 * cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes",
                max_partition_bytes or os.environ.get(
                    "SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for key, value in worker_daemon_conf(
            _PACKAGE_ROOT, _find_spark_home(), pyspark.__version__).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()

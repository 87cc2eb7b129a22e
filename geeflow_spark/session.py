"""SparkSession factory with scale-oriented defaults.

Single place where engine-relevant Spark configs are set, so tests, bench,
and spark-submit entry points agree. Designed for a multi-executor cluster;
the sandbox runs local[N].
"""

from __future__ import annotations

import os
import re
from contextlib import contextmanager

from pyspark.sql import SparkSession

_DAEMON = "geeflow_spark._daemon"
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _with_worker_daemon(master: str, conf: dict) -> dict:
    """Adds `_daemon` as the Python worker daemon of a local master.

    Workers start it with `python -m`, so the package's parent directory
    goes first on their PYTHONPATH; a package that is not a plain directory
    there (a zip) keeps the stock daemon, and so does a caller that sets
    `spark.python.daemon.module` itself.
    """
    conf = dict(conf)
    daemon_py = os.path.join(_ROOT, "geeflow_spark", "_daemon.py")
    if (re.fullmatch(r"local(\[.*\])?", master) and os.path.isfile(daemon_py)
            and conf.setdefault("spark.python.daemon.module",
                                _DAEMON) == _DAEMON):
        path = conf.get("spark.executorEnv.PYTHONPATH")
        conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
            filter(None, [_ROOT, path]))
    return conf


@contextmanager
def job_description(spark: SparkSession, description: str):
    """Describes the Spark jobs started in the block as `description`
    (`geeflow.<module>.<op>`) and restores the caller's description
    afterwards. Sets no job group: callers may set their own."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def get_spark(app_name: str = "geeflow-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Builds (or returns) the configured SparkSession.

    Defaults:
      - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
      - Arrow on for pandas UDF exchange, capped batch size so vectorized
        kernels stay within executor memory at any scale (the analog of the
        reference's adaptive request splitting, ee_export_utils.py:151-232)
      - broadcast threshold raised: region/polygon sets are small and must
        broadcast (BASELINE.json north_star)
      - local masters start Python workers through `_daemon`, which loads
        the installed PySpark instead of pyspark.zip (README, "Python
        workers"); `extra_conf` can set `spark.python.daemon.module`
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = master or os.environ.get("SPARK_MASTER",
                                      f"local[{cpus}]" if cpus else "local[*]")
    if shuffle_partitions is None:
        try:
            n = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            n = os.cpu_count() or 8
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _with_worker_daemon(master, extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

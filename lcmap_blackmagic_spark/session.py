"""SparkSession factory tuned for the engine.

Local test shape: one JVM, ``local[$SPARK_GRAFT_CPUS]`` (default: the
cores this process may run on). Cluster shape: same conf minus
master/driver-memory, which come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import ENGINE_CONF


def get_session(app_name: str = "lcmap-blackmagic-spark",
                shuffle_partitions: int | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # opt-in RocksDB streaming state store (100 TB sessionization /
    # dedup state exceeds the default in-heap HDFS-backed provider)
    provider = os.environ.get("SPARK_GRAFT_STATE_STORE")
    if provider:
        from .streaming.jobs import configure_state_store
        configure_state_store(spark, provider)
    return spark


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas-UDF closures (detect, predict, multimodal) reference
    module-level symbols, which cloudpickle serializes *by reference*
    — the worker must be able to ``import lcmap_blackmagic_spark``.
    That holds only by luck when the driver process happens to run
    from the repo root; shipping a zip via ``addPyFile`` makes it hold
    everywhere (including a cluster). Idempotent per session.
    """
    flag = "spark.lcmap_blackmagic_spark.pyfilesShipped"
    try:
        if spark.conf.get(flag, None):
            return
    except Exception:
        pass
    import tempfile
    import zipfile
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(),
                         "lcmap_blackmagic_spark_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set(flag, "true")


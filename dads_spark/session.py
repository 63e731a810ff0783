"""SparkSession factory with package shipping.

``get_spark()`` builds a local or cluster session with the tuned defaults
this engine assumes (AQE, Arrow, UTC) and ships ``dads_spark`` itself to the
Python workers via ``addPyFile`` — the programmatic equivalent of
``spark-submit --py-files dads_spark.zip`` — so UDFs unpickle on executors
that don't share the driver's working directory.

On a ``local[...]`` master whose pyspark is installed outside
``$SPARK_HOME``, the Python workers also get their own daemon,
``dads_spark.pydaemon``: the JVM puts ``$SPARK_HOME``'s pyspark.zip first
on every worker's path, and each task's ``importlib.invalidate_caches()``
re-reads every zip on it (100-270 ms a task), so the daemon drops those
entries and the workers import the driver's own pyspark.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

import pyspark
from pyspark.sql import SparkSession

from .pydaemon import under_spark_home

_PACKAGE_ROOT = os.path.dirname(os.path.abspath(__file__))


def package_zip(target_dir: str | None = None) -> str:
    """Zip the dads_spark package for --py-files / addPyFile shipping."""
    target_dir = target_dir or tempfile.gettempdir()
    zip_path = os.path.join(target_dir, "dads_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(_PACKAGE_ROOT):
            if "__pycache__" in dirpath:
                continue
            for fn in filenames:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.join("dads_spark", os.path.relpath(full, _PACKAGE_ROOT))
                zf.write(full, rel)
    return zip_path


def _worker_conf(master: str, extra_conf: dict) -> dict:
    """Daemon settings that make local workers import the driver's
    pyspark; empty unless that pyspark lies outside ``$SPARK_HOME``."""
    local = master == "local" or master.startswith("local[")
    home = os.environ.get("SPARK_HOME")
    if not (local and home) or under_spark_home(pyspark.__file__):
        return {}
    key = "spark.executorEnv.PYTHONPATH"
    paths = [os.path.dirname(_PACKAGE_ROOT), extra_conf.get(key)]
    return {
        "spark.python.daemon.module": "dads_spark.pydaemon",
        key: os.pathsep.join(p for p in paths if p),
    }


def get_spark(
    app_name: str = "dads_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32
    # one BLAS thread per Python worker: each task is already a parallel
    # unit; nested OpenBLAS/OMP threading (default = all cores PER worker)
    # oversubscribes the box catastrophically when many pandas-UDF workers
    # run concurrently, and is slower even for a single small-matrix task
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # local mode = driver-only JVM: the default 1g starves 32 concurrent
        # tasks of execution memory (this box has 125g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_worker_conf(master, extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added in this context, or read-only tmp
    return spark

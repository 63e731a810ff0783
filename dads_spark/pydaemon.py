"""Python worker daemon that runs the driver's installed pyspark.

The JVM puts ``$SPARK_HOME/python/lib/pyspark.zip``, py4j's zip and the
spark-core jar first on every worker's ``PYTHONPATH``. Each task then
calls ``importlib.invalidate_caches()``, which makes every cached
zipimporter re-read its archive's directory: 100-270 ms a task. Dropping
those entries before pyspark is imported makes the workers import the
pyspark outside ``$SPARK_HOME`` instead. ``get_spark`` selects this
module (``spark.python.daemon.module``) only when that pyspark exists.
"""

import os
import sys


def under_spark_home(path: str) -> bool:
    """Whether ``path`` lies under ``$SPARK_HOME`` (never when it is unset)."""
    home = os.environ.get("SPARK_HOME")
    return bool(home) and _real_dir(path).startswith(_real_dir(home))


def _real_dir(path: str) -> str:
    return os.path.join(os.path.realpath(path), "")


def main() -> None:
    sys.path[:] = [p for p in sys.path if not under_spark_home(p)]
    for p in [p for p in sys.path_importer_cache if under_spark_home(p)]:
        del sys.path_importer_cache[p]
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()

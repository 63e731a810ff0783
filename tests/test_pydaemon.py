"""``get_spark`` on a local master gives the Python workers the
``dads_spark.pydaemon`` daemon: they import the driver's pyspark, and no
``$SPARK_HOME`` path is left in their ``sys.path`` or importer cache.

The test session already owns the SparkContext, so the check runs in a
subprocess with its own session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HOME = os.environ.get("SPARK_HOME")
KEEP = "/nonexistent/extra-pythonpath"

PROBE = f"""
import json, sys
sys.path.insert(0, {ROOT!r})
import pyarrow as pa
from dads_spark.session import get_spark

spark = get_spark(
    master="local[2]",
    shuffle_partitions=2,
    extra_conf={{"spark.executorEnv.PYTHONPATH": {KEEP!r},
                 "spark.ui.showConsoleProgress": "false"}},
)


def probe(batches):
    import os, sys, zipimport
    import pyspark

    for _ in batches:
        pass
    zips = [k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)]
    yield pa.RecordBatch.from_pylist([{{"s": json.dumps({{
        "file": pyspark.__file__, "path": sys.path, "zips": zips,
        "pythonpath": os.environ.get("PYTHONPATH", ""),
    }})}}])


row = spark.range(4).coalesce(1).mapInArrow(probe, "s string").collect()[0]
spark.stop()
print("PROBE" + row.s)
"""


def _under(path: str, root: str) -> bool:
    return os.path.join(os.path.realpath(path), "").startswith(
        os.path.join(os.path.realpath(root), "")
    )


@pytest.mark.skipif(
    not HOME or _under(pyspark.__file__, HOME),
    reason="needs a pyspark installed outside $SPARK_HOME",
)
def test_local_workers_import_the_drivers_pyspark(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", PROBE],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("PROBE")]
    assert lines, out.stderr[-2000:]
    got = json.loads(lines[-1][len("PROBE"):])
    assert got["file"] == pyspark.__file__
    assert not any(_under(p, HOME) for p in got["zips"])
    assert not any(_under(p, HOME) for p in got["path"])
    assert ROOT in got["path"]
    assert KEEP in got["pythonpath"].split(os.pathsep)


def test_worker_conf_only_for_local_masters_outside_spark_home(monkeypatch, tmp_path):
    from dads_spark.session import _worker_conf

    key = "spark.executorEnv.PYTHONPATH"
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    assert _worker_conf("local[2]", {key: KEEP}) == {
        "spark.python.daemon.module": "dads_spark.pydaemon",
        key: os.pathsep.join([ROOT, KEEP]),
    }
    assert _worker_conf("local", {})[key] == ROOT
    assert _worker_conf("spark://host:7077", {}) == {}
    monkeypatch.setenv("SPARK_HOME", os.path.dirname(os.path.dirname(pyspark.__file__)))
    assert _worker_conf("local[2]", {}) == {}
    monkeypatch.delenv("SPARK_HOME")
    assert _worker_conf("local[2]", {}) == {}

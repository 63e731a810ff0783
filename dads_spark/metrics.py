"""Per-stage runtime statistics — the engine counterpart of the reference's
statistics protocol.

Reference semantics (cited for parity, not ported): DADS emits one duration
event per pipeline stage — ProjectionCreated, PCACreated, ...,
CalculationCompleted — plus utilization snapshots
(statistics/StatisticsEvents.java:95-331) and appends them to a log file
(statistics/rootActor/StatisticsLog.java:71-75). Spark already *measures*
all of this per task; what the engine needs is the per-PIPELINE-stage
rollup of those measurements as a queryable table.

Spark-native design: each pipeline stage runs under its own job group
(``sc.setJobGroup``); when the stage's action finishes, the collector pulls
every job of that group from the driver's ``AppStatusStore`` (the same
store that backs the UI/REST API — available with the UI disabled) and sums
stage-level executor run time, task counts, and input/output/shuffle bytes
into ONE metrics row per pipeline stage. Group names repeat across
collectors of one session (``dads_metrics::<stage>::<seq>``), so a row sums
only the group's jobs that started after its stage was entered.

``write()`` persists the table next to the checkpoint manifests, giving the
north rule's "per-partition lineage + metrics" pairing: the manifest
carries lineage + row counts, this table carries durations + bytes. It is
one small file written with pyarrow (temp file + ``os.replace``, as the
manifest is), so persisting the metrics starts no Spark job.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

#: one row per pipeline stage
METRICS_SCHEMA = (
    "stage string, wall_sec double, executor_run_ms long, n_jobs int, "
    "n_spark_stages int, n_stages_skipped int, n_tasks long, "
    "input_bytes long, output_bytes long, shuffle_read_bytes long, "
    "shuffle_write_bytes long, started_at double, error string"
)


class StageMetricsCollector:
    """Collects one metrics row per named pipeline stage.

    Usage::

        mc = StageMetricsCollector(spark)
        with mc.stage("tier_hour"):
            df.write.parquet(...)          # any actions
        mc.to_df().show()                  # or mc.write(ckpt_root)
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._schema = DataType.fromDDL(METRICS_SCHEMA)  # needs a live SparkContext
        self._arrow = to_arrow_schema(self._schema)
        self._rows: list[dict] = []
        self._seq = 0

    @contextmanager
    def stage(self, name: str):
        sc = self.spark.sparkContext
        group = f"dads_metrics::{name}::{self._seq}"
        self._seq += 1
        try:  # jobs an earlier collector ran under the same group name
            prior = set(sc.statusTracker().getJobIdsForGroup(group))
        except Exception as e:
            prior = e
        sc.setJobGroup(group, f"dads_spark stage {name}")
        t0 = time.perf_counter()
        started = time.time()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            try:
                sc._jsc.clearJobGroup()
            except Exception:
                pass
            row = {"stage": name, "wall_sec": wall, "started_at": started}
            row.update(self._group_stats(group, prior))
            self._rows.append(row)

    def _group_stats(self, group: str, prior: set[int] | Exception) -> dict:
        """Sum AppStatusStore stage metrics over the group's jobs not in
        ``prior``. When any part of the status store cannot be read, the
        row is flagged with ``error`` and its counters stay null — never
        zeros or a partial sum."""
        try:
            if isinstance(prior, Exception):
                raise prior
            return self._sum_group(group, prior)
        except Exception as e:  # e.g. a non-py4j backend, an evicted job
            return {"error": f"{type(e).__name__}: {e}"}

    def _sum_group(self, group: str, prior: set[int]) -> dict:
        sc = self.spark.sparkContext
        job_ids = [
            j for j in sc.statusTracker().getJobIdsForGroup(group) if j not in prior
        ]
        store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        empty_list = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        out = {
            "executor_run_ms": 0,
            "n_jobs": len(job_ids),
            "n_spark_stages": 0,
            "n_stages_skipped": 0,
            "n_tasks": 0,
            "input_bytes": 0,
            "output_bytes": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
        }
        seen: set[int] = set()
        for jid in job_ids:
            it = store.job(jid).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:  # stages shared between jobs count once
                    continue
                seen.add(sid)
                seq = store.stageData(sid, False, empty_list, False, no_quantiles)
                for i in range(seq.size()):
                    sd = seq.apply(i)
                    if str(sd.status()) == "SKIPPED":
                        out["n_stages_skipped"] += 1
                        continue
                    out["n_spark_stages"] += 1
                    out["n_tasks"] += sd.numCompleteTasks()
                    out["executor_run_ms"] += sd.executorRunTime()
                    out["input_bytes"] += sd.inputBytes()
                    out["output_bytes"] += sd.outputBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        return out

    def rows(self) -> list[dict]:
        return list(self._rows)

    def to_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [tuple(r.get(c) for c in self._schema.names) for r in self._rows], self._schema
        )

    def write(self, ckpt_root: str) -> str:
        """Persist the metrics table next to the checkpoint manifests, as
        ``<ckpt_root>/_metrics/part-0.parquet``.

        Merges with any existing table: stages recomputed this run replace
        their prior rows; rows for stages this (resumed) run skipped are
        kept — after a partial resume the table still describes the whole
        pipeline. A prior table without the ``error`` column reads it as
        null. A directory Spark wrote (several part files) is read whole
        and its files are removed after the swap, so no row is left twice;
        once ``part-0.parquet`` exists it alone is the table."""
        path = os.path.join(ckpt_root, "_metrics")
        own = os.path.join(path, "part-0.parquet")
        out = pa.Table.from_pylist(self._rows, schema=self._arrow)
        if os.path.exists(path):  # first run: nothing to merge
            prior = pq.read_table(
                own if os.path.exists(own) else path, schema=self._arrow
            )
            fresh = pa.array([r["stage"] for r in self._rows], pa.string())
            kept = prior.filter(pc.invert(pc.is_in(prior["stage"], value_set=fresh)))
            out = pa.concat_tables([kept, out])
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, ".part-0.parquet.tmp")
        pq.write_table(out, tmp)
        os.replace(tmp, own)
        for name in os.listdir(path):
            if name != "part-0.parquet":
                os.remove(os.path.join(path, name))
        return path

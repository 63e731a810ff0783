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
into ONE metrics row per pipeline stage. ``write()`` persists the table
next to the checkpoint manifests, giving the north rule's "per-partition
lineage + metrics" pairing: the manifest carries lineage + row counts, this
table carries durations + bytes.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

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
        self._rows: list[dict] = []
        self._seq = 0

    @contextmanager
    def stage(self, name: str):
        sc = self.spark.sparkContext
        group = f"dads_metrics::{name}::{self._seq}"
        self._seq += 1
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
            row.update(self._group_stats(group))
            self._rows.append(row)

    def _group_stats(self, group: str) -> dict:
        """Sum AppStatusStore stage metrics over every job in the group.
        When any part of the status store cannot be read, the row is
        flagged with ``error`` and its counters stay null — never zeros or
        a partial sum."""
        try:
            return self._sum_group(group)
        except Exception as e:  # e.g. a non-py4j backend, an evicted job
            return {"error": f"{type(e).__name__}: {e}"}

    def _sum_group(self, group: str) -> dict:
        sc = self.spark.sparkContext
        job_ids = sc.statusTracker().getJobIdsForGroup(group)
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
        cols = [c.split()[0] for c in METRICS_SCHEMA.split(", ")]
        return self.spark.createDataFrame(
            [tuple(r.get(c) for c in cols) for r in self._rows], METRICS_SCHEMA
        )

    def write(self, ckpt_root: str) -> str:
        """Persist the metrics table next to the checkpoint manifests.

        Merges with any existing table: stages recomputed this run replace
        their prior rows; rows for stages this (resumed) run skipped are
        kept — after a partial resume the table still describes the whole
        pipeline."""
        import os

        path = os.path.join(ckpt_root, "_metrics")
        new_df = self.to_df()
        out = new_df
        if os.path.exists(path):  # first run: nothing to merge
            prior = self.spark.read.parquet(path)
            fresh = {r["stage"] for r in self._rows}
            kept = prior.filter(~prior["stage"].isin(list(fresh)))
            # a table written before the ``error`` column reads it as null
            out = kept.unionByName(new_df, allowMissingColumns=True)
        # tiny; staged in pandas so the overwrite never reads the files it
        # is replacing
        pdf = out.select(*new_df.columns).toPandas()
        self.spark.createDataFrame(pdf, new_df.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        return path

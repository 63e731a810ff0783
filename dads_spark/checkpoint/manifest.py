"""Per-stage checkpoint manifest with lineage + row-count metrics.

north rule (BASELINE.json:6,14): every rollup stage checkpoints
per-partition lineage and row counts so a killed job resumes from the last
committed tier.

Design: a stage is written exactly once, as the next version of its table
in a :class:`~dads_spark.checkpoint.snapshots.SnapshotStore`; that
snapshot commit IS the checkpoint. The commit then writes a manifest
``<root>/_manifest/stage=<name>/part-0.parquet`` holding one row per write
task: (partition_id, row_count, stage, input_fingerprint, committed_at).
``partition_id`` is the task's part number (the ``NNNNN`` of the
``part-NNNNN-…`` files it wrote) and ``row_count`` the rows those files
hold, both from the snapshot entry's ``partition_rows``, which the commit
read from the parquet footers. The manifest is written with pyarrow — no
Spark pass over the data after the write, and the committed output that
:meth:`CheckpointManager.commit` returns reads with the logged schema.

``input_fingerprint`` is a stable hash of the stage's declared inputs
(paths + parameters), so resuming with *changed* inputs invalidates the
checkpoint instead of silently reusing it. A stage counts as committed
when its manifest carries exactly the current fingerprint AND the store's
latest version of the stage carries it too. Order of the two writes: the
snapshot-log swap first, the manifest second (temp file + ``os.replace``).
A crash between them leaves a published version without a manifest; the
rerun recomputes that stage and publishes the next version with the same
rows.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from .snapshots import SnapshotStore


def fingerprint(payload: dict) -> str:
    return hashlib.sha256(json.dumps(payload, sort_keys=True, default=str).encode()).hexdigest()[:16]


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str, store: SnapshotStore):
        self.spark = spark
        self.root = root
        self.store = store

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, "_manifest", f"stage={stage}")

    def is_committed(self, stage: str, input_fp: str) -> bool:
        try:
            fps = pq.read_table(
                self._manifest_path(stage), columns=["input_fingerprint"]
            )["input_fingerprint"].to_pylist()
        except (OSError, pa.ArrowInvalid):
            return False
        if set(fps) != {input_fp}:
            return False
        latest = self.store.entry(stage)
        return latest is not None and latest.get("fp") == input_fp

    def commit(self, stage: str, df: DataFrame, input_fp: str) -> DataFrame:
        """Publish ``df`` as the stage's next snapshot version, then write
        its manifest; returns the committed output."""
        version = self.store.commit(
            stage, df, note=f"stage {stage}", extra={"fp": input_fp}
        )
        entry = self.store.entry(stage, version)
        # an empty output still gets one (zero-count) row, so it resumes
        parts = sorted((int(p), n) for p, n in entry["partition_rows"].items())
        parts = parts or [(0, 0)]
        table = pa.table(
            {
                "partition_id": pa.array([p for p, _ in parts], pa.int32()),
                "row_count": pa.array([n for _, n in parts], pa.int64()),
                "stage": [stage] * len(parts),
                "input_fingerprint": [input_fp] * len(parts),
                "committed_at": [entry["committed_at"]] * len(parts),
            }
        )
        path = self._manifest_path(stage)
        os.makedirs(path, exist_ok=True)
        tmp = os.path.join(path, ".part-0.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(path, "part-0.parquet"))
        return self.store.read(stage, version)

    def load(self, stage: str) -> DataFrame:
        return self.store.read(stage)

    def metrics(self, stage: str) -> list[dict]:
        return pq.read_table(self._manifest_path(stage)).to_pylist()

"""Checkpoint manifest: lineage row counts + fingerprint-gated commits."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dads_spark.checkpoint import CheckpointManager, SnapshotStore, fingerprint
from dads_spark.fixtures.pages import pages_table


@pytest.fixture()
def raw(spark):
    return pages_table(spark, 2000).withColumn("tb", F.octet_length("text"))


def test_manifest_metrics(spark, raw, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    ckpt = CheckpointManager(spark, str(tmp_path / "ck"), store)
    fp = fingerprint({"x": 1})
    out = ckpt.commit("tier_hour", raw.limit(100), fp)
    assert out.count() == 100
    rows = ckpt.metrics("tier_hour")
    assert sum(r["row_count"] for r in rows) == 100
    assert all(r["input_fingerprint"] == fp for r in rows)
    assert ckpt.is_committed("tier_hour", fp)
    assert not ckpt.is_committed("tier_hour", fingerprint({"x": 2}))
    # an empty stage output is still a resumable commit
    empty = ckpt.commit("empty_stage", raw.limit(0), fp)
    assert empty.count() == 0
    assert sum(r["row_count"] for r in ckpt.metrics("empty_stage")) == 0
    assert ckpt.is_committed("empty_stage", fp)

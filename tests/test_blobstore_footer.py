"""A compressed-tier read takes the blob schema from a part file's
footer (compress/blobstore.py): building the frame starts no Spark job,
key types survive, and an empty store reads as a typed empty frame."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from dads_spark.compress import read_compressed_tier, write_compressed_tier

T0 = 1_700_000_000


def _jobs(spark, fn):
    """Spark jobs ``fn`` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"test_jobs::{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _tier(spark, key_type, n_hours=120):
    return spark.range(n_hours).select(
        (F.col("id") % 3).cast(key_type).alias("key"),
        F.timestamp_seconds(F.lit(T0) + F.col("id") * 3600).alias("bucket_ts"),
        (F.col("id") * 1.5).alias("value_sum"),
    )


@pytest.mark.parametrize("key_type", ["string", "long"])
def test_read_builds_without_a_job_and_keeps_key_type(spark, tmp_path, key_type):
    tier = _tier(spark, key_type)
    path = str(tmp_path / "blobs")
    write_compressed_tier(tier, ["key"], path, chunk_points=16)
    t0, t1 = (T0 + 10 * 3600) * 1_000_000, (T0 + 50 * 3600) * 1_000_000
    out = []
    assert _jobs(
        spark, lambda: out.append(read_compressed_tier(spark, path, ["key"], t0, t1))
    ) == 0
    assert out[0].schema["key"].dataType == tier.schema["key"].dataType
    want = tier.filter(
        (F.unix_micros("bucket_ts") >= t0) & (F.unix_micros("bucket_ts") < t1)
    )
    assert sorted(map(tuple, out[0].collect())) == sorted(map(tuple, want.collect()))


@pytest.mark.parametrize("key_type", ["string", "long"])
def test_empty_store_reads_as_typed_empty_frame(spark, tmp_path, key_type):
    path = str(tmp_path / "blobs")
    write_compressed_tier(_tier(spark, key_type).limit(0), ["key"], path)
    out = []
    assert _jobs(spark, lambda: out.append(read_compressed_tier(spark, path, ["key"]))) == 0
    assert out[0].schema.simpleString() == (
        f"struct<key:{'bigint' if key_type == 'long' else 'string'},"
        "bucket_ts:timestamp,value_sum:double>"
    )
    assert out[0].count() == 0

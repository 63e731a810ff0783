"""Compressed tier blob store: chunked Gorilla blobs with pruning stats.

``compressed_tier_roundtrip`` proves the codecs; this module makes them a
STORAGE FORMAT with a predicate-aware read path — the cold half of the
retention engine:

- WRITE: each key's tier series is cut into fixed-size chunks; every
  chunk becomes ONE parquet row (keys..., t_min_us, t_max_us, n_points,
  ts_blob, val_blob). The time bounds are plain long columns, so parquet
  footer min/max statistics cover them and a time-range read prunes
  whole blobs at the SCAN — row groups whose [t_min, t_max] misses the
  predicate are never read, let alone decoded;
- READ: filter the blob table on the range (pushed to the scan), decode
  ONLY surviving blobs (one vectorized kernel per Arrow batch), then
  apply the exact row-level bound to trim the partially-overlapping edge
  chunks.

Compression ~10x on hourly count series (delta-of-delta timestamps on a
regular grid are ~1 bit/point); decode cost is proportional to blobs
that SURVIVE pruning — a day's query against a year of blobs decodes
~1/365 of the store. Chunking bounds both the decode granularity and
the single-row blob size (no 2 GB array hazards).

Reference analog: none (DADS keeps raw doubles in memory); spec source
BASELINE.json:6,14 (Gorilla/delta-of-delta compressed tiers ARE the
retention store; a store needs a ranged read path, not just a codec).
"""

from __future__ import annotations

import glob
import json
import os
import zlib

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType, TimestampType

from ..groups import per_series
from .deltadelta import decode_timestamps, encode_timestamps
from .gorilla import decode_values, encode_values

__all__ = ["compressed_tier_blobs", "write_compressed_tier", "read_compressed_tier"]

_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def compressed_tier_blobs(
    tier_df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    chunk_points: int,
) -> DataFrame:
    """Encode each key's (ts, value) series into ``chunk_points``-sized
    Gorilla/delta-of-delta blob rows (keys..., t_min_us, t_max_us,
    n_points, ts_blob, val_blob, crc) — the row format
    :func:`read_compressed_tier` serves."""

    def enc(ts_us, vals):
        rows = []
        for lo in range(0, len(ts_us), chunk_points):
            t, v = ts_us[lo : lo + chunk_points], vals[lo : lo + chunk_points]
            tb, vb = encode_timestamps(t), encode_values(v)
            # integrity seal over both streams: cold blobs outlive
            # parquet-level checks once copied/re-tiered
            crc = zlib.crc32(tb) ^ (zlib.crc32(vb) << 1)
            rows.append((int(t[0]), int(t[-1]), len(t), tb, vb, crc))
        return list(zip(*rows))

    return per_series(
        tier_df,
        key_cols,
        ts_col,
        [value_col],
        enc,
        "t_min_us long, t_max_us long, n_points long, ts_blob binary, val_blob binary, crc long",
    )


def write_compressed_tier(
    tier_df: DataFrame,
    key_cols: list[str],
    path: str,
    ts_col: str = "bucket_ts",
    value_col: str = "value_sum",
    chunk_points: int = 1024,
) -> None:
    """:func:`compressed_tier_blobs` written as parquet sorted by
    (keys, t_min_us) so row-group stats are tight."""
    (
        compressed_tier_blobs(tier_df, key_cols, ts_col, value_col, chunk_points)
        .sortWithinPartitions(*key_cols, "t_min_us")
        .write.mode("overwrite")
        .parquet(path)
    )


def read_compressed_tier(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    t0_us: int | None = None,
    t1_us: int | None = None,
    ts_col: str = "bucket_ts",
    value_col: str = "value_sum",
) -> DataFrame:
    """Decode the blob store back to (keys..., ts, value) rows, restricted
    to [t0_us, t1_us) when given. The blob-level range filter is a plain
    column predicate — pushed to the parquet scan, pruning row groups
    before any decode — and edge chunks are trimmed row-level after.
    The blob schema comes from a part file's footer, so building the
    frame starts no Spark job."""
    schema = _footer_schema(path)
    blobs = (spark.read.schema(schema) if schema else spark.read).parquet(path)
    if t0_us is not None:
        blobs = blobs.filter(F.col("t_max_us") >= t0_us)
    if t1_us is not None:
        blobs = blobs.filter(F.col("t_min_us") < t1_us)

    fields = [blobs.schema[k] for k in key_cols]
    out_schema = StructType(
        fields
        + [StructField(ts_col, TimestampType()), StructField(value_col, DoubleType())]
    )

    def dec(it):
        for pdf in it:
            outs = []
            for _, r in pdf.iterrows():
                n = int(r["n_points"])
                tb, vb = bytes(r["ts_blob"]), bytes(r["val_blob"])
                want = zlib.crc32(tb) ^ (zlib.crc32(vb) << 1)
                if want != int(r["crc"]):
                    raise ValueError(
                        f"blob checksum mismatch (t_min_us={r['t_min_us']}): "
                        "stored blob bytes are corrupt"
                    )
                ts = decode_timestamps(tb, n)
                vs = decode_values(vb, n)
                outs.append(
                    pd.DataFrame(
                        {
                            **{k: np.repeat(r[k], n) for k in key_cols},
                            ts_col: pd.to_datetime(ts, unit="us"),
                            value_col: vs,
                        }
                    )
                )
            yield (
                pd.concat(outs)
                if outs
                else pd.DataFrame(
                    {f.name: pd.Series(dtype="object") for f in out_schema.fields}
                )
            )

    rows = blobs.mapInPandas(dec, out_schema)
    t = F.unix_micros(F.col(ts_col).cast("timestamp"))
    if t0_us is not None:
        rows = rows.filter(t >= t0_us)
    if t1_us is not None:
        rows = rows.filter(t < t1_us)
    return rows


def _footer_schema(path: str) -> StructType | None:
    """The Spark schema that the write stored in the first part file's
    footer (an empty write still leaves one part file); None when the
    path holds no such file, and the read then infers."""
    parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
    meta = (pq.read_schema(parts[0]).metadata or {}) if parts else {}
    row = meta.get(_ROW_METADATA)
    return None if row is None else StructType.fromJson(json.loads(row))

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

import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from .deltadelta import decode_timestamps, encode_timestamps
from .gorilla import decode_values, encode_values

__all__ = ["compressed_tier_blobs", "write_compressed_tier", "read_compressed_tier"]


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
    fields = [tier_df.schema[k] for k in key_cols]
    out_schema = StructType(
        fields
        + [
            StructField("t_min_us", LongType()),
            StructField("t_max_us", LongType()),
            StructField("n_points", LongType()),
            StructField("ts_blob", BinaryType()),
            StructField("val_blob", BinaryType()),
            StructField("crc", LongType()),
        ]
    )

    def enc(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        ts_us = pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
        vals = pdf[value_col].to_numpy(np.float64)
        rows = []
        for lo in range(0, len(ts_us), chunk_points):
            t, v = ts_us[lo : lo + chunk_points], vals[lo : lo + chunk_points]
            tb, vb = encode_timestamps(t), encode_values(v)
            rows.append(
                {
                    **{k: pdf[k].iloc[0] for k in key_cols},
                    "t_min_us": int(t[0]),
                    "t_max_us": int(t[-1]),
                    "n_points": len(t),
                    "ts_blob": tb,
                    "val_blob": vb,
                    # integrity seal over both streams: cold blobs outlive
                    # parquet-level checks once copied/re-tiered
                    "crc": zlib.crc32(tb) ^ (zlib.crc32(vb) << 1),
                }
            )
        return pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return tier_df.groupBy(*key_cols).applyInPandas(enc, out_schema)


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
    before any decode — and edge chunks are trimmed row-level after."""
    blobs = spark.read.parquet(path)
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

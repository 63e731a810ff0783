"""Distributed compression round-trip over a retention tier.

Proves the Gorilla value codec and the delta-of-delta timestamp codec inside
the engine's correctness gate: each (key,) group's series is encoded to the
two byte streams, decoded again, and the decoded points are returned as
rows.  The entry-point query compares the result against the *uncompressed*
DuckDB rollup oracle — hash equality shows the codecs are lossless end to
end under real Spark partitioning.

Scale shape: one kernel call per key behind ``mapInArrow``, through the
per-series runner ``dads_spark.groups.per_series`` (tier series are small
— one row per bucket), embarrassingly parallel, one shuffle to gather
each key's series.  At warehouse scale this is exactly how tier blobs are
produced for cold storage (see ``write_tier``): the codec runs where the
data sits.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..groups import per_series
from . import alp, chimp, gorilla, rle
from .deltadelta import decode_timestamps, encode_timestamps

#: pluggable value codecs: name -> (encode, decode)
VALUE_CODECS = {
    "gorilla": (gorilla.encode_values, gorilla.decode_values),
    "chimp": (chimp.encode_values, chimp.decode_values),
    "alp": (alp.encode_values, alp.decode_values),
    "rle": (rle.encode_values, rle.decode_values),
}


def compressed_tier_roundtrip(
    tier_df: DataFrame,
    key_cols: list[str],
    ts_col: str = "bucket_ts",
    value_col: str = "value_sum",
    codec: str = "gorilla",
) -> DataFrame:
    """Encode each key's (ts, value) series (delta-of-delta timestamps +
    the named XOR value ``codec`` — gorilla or chimp), decode, and emit
    the decoded points.  Lossless: output rows equal input rows exactly."""
    encode_values, decode_values = VALUE_CODECS[codec]

    def rt(ts_us, vals):
        ts_dec = decode_timestamps(encode_timestamps(ts_us), len(ts_us))
        return ts_dec, decode_values(encode_values(vals), len(vals))

    fields = f"{ts_col} timestamp, {value_col} double"
    return per_series(tier_df, key_cols, ts_col, [value_col], rt, fields)


def simple8b_tier_roundtrip(
    tier_df: DataFrame,
    key_cols: list[str],
    ts_col: str = "bucket_ts",
    count_col: str = "doc_count",
) -> DataFrame:
    """Integer-codec round-trip: each key's bucket timestamps (as deltas,
    first value raw — epoch micros fit 60 bits until the year ~38000)
    AND its integer counts go through simple-8b, decode, and come back
    as rows. The word-aligned integer path beside the bit-granular
    delta-of-delta; lossless by the same gate discipline."""
    from . import simple8b as s8

    def rt(ts_us, counts):
        deltas = np.diff(ts_us, prepend=0).astype(np.uint64)
        counts = counts.astype(np.int64).astype(np.uint64)
        ts_dec = np.cumsum(s8.decode_ints(s8.encode_ints(deltas), len(deltas)).astype(np.int64))
        return ts_dec, s8.decode_ints(s8.encode_ints(counts), len(counts)).astype(np.int64)

    fields = f"{ts_col} timestamp, {count_col} long"
    return per_series(tier_df, key_cols, ts_col, [count_col], rt, fields)

"""Continuous aggregates at hour/day/week retention tiers.

Spark-first design notes (100 TB scale):
- every tier is a plain ``groupBy`` + exact-decomposable aggregates
  (count/sum/min/max), so Catalyst performs map-side partial aggregation and
  the shuffle carries one row per (key, bucket) — the reduction happens
  before the wire, not after;
- higher tiers cascade from the tier below (day from hour, week from day):
  at 10^12 docs the raw table is touched ONCE, the hour tier is ~5 orders of
  magnitude smaller, so day/week are nearly free;
- hot keys (a domain with 40% of rows) are handled by ``salted_rollup``:
  a two-phase aggregation over (key, bucket, salt) then (key, bucket) —
  exact for decomposable aggregates, bounds any single reducer's input to
  1/salt_buckets of the hot key;
- reads that filter on the bucket column prune partitions when tiers are
  written ``partitionBy(bucket_date)`` (see write_tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: tier name -> bucket width in microseconds
TIERS = {"hour": 3_600_000_000, "day": 86_400_000_000, "week": 604_800_000_000}
#: epoch offset so week buckets start on Monday (1970-01-05)
_OFFSET_US = {"hour": 0, "day": 0, "week": 345_600_000_000}
#: cascade order
TIER_ORDER = ["hour", "day", "week"]


def bucket_expr(ts_col: str, tier: str):
    """UTC tier-bucket truncation via integer epoch arithmetic.

    Equivalent to ``date_trunc(tier, ts)`` under a UTC session, but stays in
    long arithmetic inside whole-stage codegen: ``date_trunc`` routes every
    row through the JVM's java.time timezone machinery, which serializes
    under many threads (measured flat 3.2 s at local[8] AND local[32] on a
    25.6M-row agg, vs 0.6-0.9 s and scaling for the integer form).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    unit, off = TIERS[tier], _OFFSET_US[tier]
    bucket_us = F.floor((us - F.lit(off)) / F.lit(unit)) * F.lit(unit) + F.lit(off)
    return F.timestamp_micros(bucket_us.cast("long")).alias("bucket_ts")


def _raw_aggs(value_col: str | None) -> list:
    """The tier aggregates over raw rows: count, sum, min, max of the value
    (of 0.0 when ``value_col`` is None)."""
    val = F.col(value_col) if value_col else F.lit(0.0)
    return [
        F.count(F.lit(1)).alias("doc_count"),
        F.sum(val).alias("value_sum"),
        F.min(val).alias("value_min"),
        F.max(val).alias("value_max"),
    ]


def _merge_aggs() -> list:
    """The tier aggregates over partial tiers, exact for the decomposable
    set: sum of counts, sum of sums, min of mins, max of maxs."""
    return [
        F.sum("doc_count").alias("doc_count"),
        F.sum("value_sum").alias("value_sum"),
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
    ]


def rollup_from_raw(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str | None,
    tier: str = "hour",
) -> DataFrame:
    """Bucket raw rows into a tier: (keys..., bucket_ts, doc_count,
    value_sum/min/max). ``value_col=None`` aggregates octet counts only."""
    return df.groupBy(*key_cols, bucket_expr(ts_col, tier)).agg(*_raw_aggs(value_col))


def cascade(tier_df: DataFrame, key_cols: list[str], to_tier: str) -> DataFrame:
    """Roll a finer tier up to a coarser one (exact: sums of sums, min of
    mins, max of maxs)."""
    return tier_df.groupBy(*key_cols, bucket_expr("bucket_ts", to_tier)).agg(*_merge_aggs())


def salted_rollup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str | None,
    tier: str = "hour",
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for skewed keys.

    Phase 1 groups by (keys, bucket, salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 combines the per-salt partials. Both
    phases are exact for count/sum/min/max. Output equals
    :func:`rollup_from_raw` row for row.
    """
    # salt = f(keys, map partition): deterministic under recomputation (no
    # monotonically_increasing_id), and constant per (key, input partition)
    # so map-side partial aggregation still collapses each partition's rows
    # before the shuffle — the hot key then spreads over however many input
    # partitions carry it, capped at salt_buckets reducers
    salted = df.withColumn(
        "_salt",
        F.pmod(
            F.hash(*[F.col(c) for c in key_cols], F.spark_partition_id()),
            F.lit(salt_buckets),
        ),
    )
    phase1 = salted.groupBy(*key_cols, bucket_expr(ts_col, tier), "_salt").agg(
        *_raw_aggs(value_col)
    )
    return phase1.groupBy(*key_cols, "bucket_ts").agg(*_merge_aggs())


def merge_tier(existing: DataFrame, delta: DataFrame, key_cols: list[str]) -> DataFrame:
    """Combine two partial tiers into one, exactly (the MERGE half of
    continuous-aggregate refresh): decomposable aggregates recombine as
    sum-of-sums / sum-of-counts / min-of-mins / max-of-maxs per
    (keys, bucket). Rows for buckets present in only one side pass through
    unchanged."""
    return existing.unionByName(delta).groupBy(*key_cols, "bucket_ts").agg(*_merge_aggs())


def incremental_refresh(
    existing_tier: DataFrame,
    new_raw: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str | None,
    tier: str = "hour",
) -> DataFrame:
    """Continuous-aggregate incremental refresh: fold NEW raw rows into an
    existing tier WITHOUT rescanning old data.

    The delta tier is aggregated from ``new_raw`` alone, then merged
    bucket-wise (:func:`merge_tier`). Exact for the decomposable aggregate
    set — ``incremental_refresh(tier(old), new) == tier(old ∪ new)`` row
    for row (oracle-proven by the ``tier_incremental_refresh`` gate
    query). At 100 TB this is the only affordable refresh: a day's crawl
    touches a day's buckets, and the merge shuffles one row per
    (key, touched bucket), never the history.
    """
    delta = rollup_from_raw(new_raw, key_cols, ts_col, value_col, tier)
    return merge_tier(existing_tier, delta, key_cols)


def write_tier(tier_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist a tier partitioned by bucket date so later reads filtering on
    time prune files (the parquet/Iceberg hidden-partition analogue)."""
    (
        tier_df.withColumn("bucket_date", F.to_date("bucket_ts"))
        .repartition("bucket_date")
        .write.mode(mode)
        .partitionBy("bucket_date")
        .parquet(path)
    )

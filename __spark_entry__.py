"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names from SURVEY.md §2 (plus the training-data
pipeline operators) to callables ``(spark, sf_dir) -> DataFrame``;
``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL for every
SQL-expressible query. Non-SQL-expressible entries (the S2G anomaly
pipeline, DRAG discords, and the LSH/IVF candidate-generation ops, whose
seeded hash/centroid families are not ANSI SQL) have no oracle entry and
get the driver's rows-only check — each carries behavioral pytest coverage
instead (recall vs exact, pigeonhole no-miss, full-probe == exact), and the
``simhash_md5`` / ``minhash_md5`` twins pin the sketch semantics themselves
under the oracle hash.

Determinism conventions so Spark and DuckDB hash-match:
- every aggregate/computed column is aliased identically on both sides;
- float aggregates are ROUNDed (2dp for money sums, 4-6dp for ratios) —
  both engines sum in different orders, rounding absorbs the last-ulp drift;
- timestamps are formatted to strings ('yyyy-MM-dd HH:mm:ss'), never
  compared as native epoch values;
- rankings order by QUANTIZED scores with an id tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from dads_spark.ops import (
    ann_lsh,
    knn_bruteforce,
    language_id,
    minhash_lsh_pairs,
    simhash64,
)
from dads_spark.rollup import bucket_expr, cascade, gap_fill_linear, rollup_from_raw
from dads_spark.s2g import ROLLUP as S2G_ROLLUP_PARAMS
from dads_spark.s2g.pipeline import score_series_grouped

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

_shipped_sessions: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship dads_spark to Python workers for sessions the harness created
    itself (without ``dads_spark.session.get_spark``): pandas-UDF closures
    unpickle ``dads_spark`` modules on the workers, which otherwise relies
    on the driver's cwd being the repo root."""
    key = id(spark)
    if key in _shipped_sessions:
        return
    _shipped_sessions.add(key)
    try:
        from dads_spark.session import package_zip

        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        pass  # already added, or read-only tmp — worker imports fall back to cwd


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fmt_bucket(col: str = "bucket_ts"):
    return F.date_format(F.col(col), _TS_FMT).alias(col)


# ---------------------------------------------------------------------------
# time-series rollup tier queries (north rule core)
# ---------------------------------------------------------------------------

def q_rollup_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", bucket_expr("ts", "hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.round(F.min("value"), 2).alias("value_min"),
        F.round(F.max("value"), 2).alias("value_max"),
    ).select("event_type", _fmt_bucket(), "n_events", "value_sum", "value_min", "value_max")


def q_rollup_day_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # day tier CASCADED from the hour tier; the oracle aggregates the raw
    # table directly — equality proves the cascade algebra is exact
    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    day = cascade(hour, ["event_type"], "day")
    return day.select(
        "event_type",
        _fmt_bucket(),
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )


def q_rollup_week_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    week = cascade(cascade(hour, ["event_type"], "day"), ["event_type"], "week")
    return week.select(
        "event_type",
        _fmt_bucket(),
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
    )


def q_rollup_hour_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (the hot-key skew path). The oracle is
    the PLAIN hour rollup SQL — hash equality proves the salted plan is
    exact, not approximate."""
    from dads_spark.rollup import salted_rollup

    ev = _t(spark, sf_dir, "events")
    tier = salted_rollup(ev, ["event_type"], "ts", "value", "hour", salt_buckets=8)
    return tier.select(
        "event_type",
        _fmt_bucket(),
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )


def q_gapfill_hour_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", bucket_expr("ts", "hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    filled = gap_fill_linear(hourly, ["event_type"], "bucket_ts", ["v"], 3600)
    return filled.select(
        "event_type", _fmt_bucket(), F.round("v", 4).alias("v"), "gap_filled"
    )


def _stage_key(sf_dir: str) -> str:
    """Cache key for a staged copy: sf_dir + the events file's fingerprint,
    so a regenerated testdata dir can never serve a stale staged copy."""
    import hashlib as _hl
    import os as _os

    try:
        st = _os.stat(f"{sf_dir}/events.parquet")
        raw = f"{sf_dir}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        raw = sf_dir
    return _hl.sha1(raw.encode()).hexdigest()[:10]


def _stage_dir(name: str, sf_dir: str) -> str:
    """Owned staging root (file-stream sources need a DIRECTORY, and several
    lanes replay derived copies of the events table). One deterministic
    location, reused across runs of the same data — never rewritten inside
    a timed lane when `prestage_sources` ran first — instead of ad-hoc
    /tmp litter."""
    import os as _os

    root = _os.environ.get("DADS_STAGE_DIR", "/root/repo/.stage_cache")
    _os.makedirs(root, exist_ok=True)
    return f"{root}/{name}_{_stage_key(sf_dir)}"


def _staged_copy(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Stage the events table once per (sf_dir, format) and read it back
    through that source — proves the non-parquet readers feed the same
    rollup the oracle checks."""
    import os as _os

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    path = _stage_dir(f"src_{fmt}", sf_dir)
    if not _os.path.exists(f"{path}/_SUCCESS"):
        ev.write.mode("overwrite").format(fmt).option("header", True).save(path)
    reader = spark.read.format(fmt)
    if fmt in ("csv", "json"):  # text formats need the schema declared
        reader = reader.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        if fmt == "csv":
            reader = reader.option("header", True)
    return reader.load(path)


def _events_stream_src(spark: SparkSession, sf_dir: str) -> str:
    """Shared staged parquet DIRECTORY copy of the full events table for
    file-stream sources (a bare single-file path is rejected by Spark's
    FileStreamSource: 'basePath must be a directory'). Staged at most once
    per data fingerprint; the streaming rollup AND the stream-stream join
    lanes both read it, so no lane pays a staging write when the copy
    exists (bench pre-stages it outside the timers)."""
    import os as _os

    src = _stage_dir("events_stream", sf_dir)
    if not _os.path.exists(f"{src}/_SUCCESS"):
        _t(spark, sf_dir, "events").write.mode("overwrite").parquet(src)
    return src


def _stage_dedup_src(spark: SparkSession, sf_dir: str) -> str:
    """Double-delivered backlog for the streaming-dedup lane (every row
    written twice; the stream must drop exactly the second copies)."""
    import os as _os

    src = _stage_dir("dedup_src", sf_dir)
    if not _os.path.exists(f"{src}/_marker2"):
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        ev.write.mode("overwrite").parquet(src)
        ev.write.mode("append").parquet(src)  # every row delivered twice
        open(f"{src}/_marker2", "w").write("staged\n")
    return src


def _stage_sessionize_src(spark: SparkSession, sf_dir: str) -> str:
    """Events + a far-future sentinel row (advances the watermark so every
    real session closes) for the stateful sessionization lane."""
    import os as _os

    src = _stage_dir("sess_src", sf_dir)
    marker = f"{src}/_SENTINEL_DONE"  # staging is two writes; marker makes it atomic
    if not _os.path.exists(marker):
        ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
        ev.write.mode("overwrite").parquet(src)
        sentinel = ev.limit(1).select(
            F.lit(1 << 40).alias("event_id"),
            F.lit(1_000_000_000).alias("user_id"),
            (F.col("ts").cast("timestamp") + F.expr("INTERVAL 3650 DAYS")).alias("ts"),
            F.lit(0.0).alias("value"),
        )
        sentinel.write.mode("append").parquet(src)
        open(marker, "w").close()
    return src


def _stage_scd2_src(spark: SparkSession, sf_dir: str) -> str:
    """Events (entity state stream) + a far-future sentinel row so the
    event-time timeout flushes every real entity's open interval."""
    import os as _os

    src = _stage_dir("scd2_src", sf_dir)
    marker = f"{src}/_SENTINEL_DONE"
    if not _os.path.exists(marker):
        ev = _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "event_type"
        )
        ev.write.mode("overwrite").parquet(src)
        sentinel = ev.limit(1).select(
            F.lit(1 << 40).alias("event_id"),
            F.lit(1_000_000_000).alias("user_id"),
            (F.col("ts").cast("timestamp") + F.expr("INTERVAL 3650 DAYS")).alias("ts"),
            F.lit("sentinel").alias("event_type"),
        )
        sentinel.write.mode("append").parquet(src)
        open(marker, "w").close()
    return src


def q_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance (streaming/stateful.py streaming_scd2):
    per-entity open-interval state, closed intervals emitted on state
    change, finals flushed by event-time timeout — the incremental twin
    of scd2_user_state. The oracle is the BATCH SCD2 SQL: hash equality
    proves the state machine assembles the identical temporal history."""
    import hashlib as _hl

    from dads_spark.streaming import run_scd2_stream

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    src = _stage_scd2_src(spark, sf_dir)
    qname = f"q_scd2_{_hl.sha1(sf_dir.encode()).hexdigest()[:8]}"
    out = run_scd2_stream(spark, src, ev.schema, query_name=qname)
    return out.filter(F.col("user_id") < 1_000_000_000).select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


def warm_streaming(spark: SparkSession) -> None:
    """One-time init of the streaming stateful-join machinery (state-store
    providers, stateful-operator codegen): a 40-row stream-stream join over
    a staged micro table. Measured ~5 s of a cold stream-join lane is this
    init, paid once per JVM — bench pays it here, outside the lane timers,
    the same way it doesn't time session startup."""
    import os as _os

    from dads_spark.streaming import sized_state_partitions

    root = _os.environ.get("DADS_STAGE_DIR", "/root/repo/.stage_cache")
    _os.makedirs(root, exist_ok=True)
    src = f"{root}/warm_stream"
    if not _os.path.exists(f"{src}/_SUCCESS"):
        spark.range(40).select(
            F.col("id"),
            F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 60).alias("ts"),
        ).coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    def side(alias_id, alias_ts):
        return (
            spark.readStream.schema(schema).format("parquet").load(src)
            .withWatermark("ts", "10 minutes")
            .select(F.col("id").alias(alias_id), F.col("ts").alias(alias_ts))
        )

    joined = side("a_id", "a_ts").join(
        side("b_id", "b_ts"),
        F.expr("a_id = b_id AND b_ts >= a_ts - INTERVAL 5 MINUTES AND b_ts <= a_ts"),
    )
    with sized_state_partitions(spark, 2):
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("warm_stream_q")
            .start()
        )
        q.processAllAvailable()
        q.stop()


def prestage_sources(spark: SparkSession, sf_dir: str) -> None:
    """Force every staged derived copy into the cache so timed lanes only
    read, and warm the streaming machinery. Called by bench.py before the
    clock starts."""
    _events_stream_src(spark, sf_dir)
    _stage_sessionize_src(spark, sf_dir)
    _stage_dedup_src(spark, sf_dir)
    _stage_backfill_src(spark, sf_dir)
    for fmt in ("csv", "orc", "json"):
        _staged_copy(spark, sf_dir, fmt)
    _stage_compact_hour(spark, sf_dir)
    warm_streaming(spark)


def q_multi_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """csv + ORC + json-lines source coverage in ONE gated entry (folded
    from three near-identical r1 queries per VERDICT #2 so the time-boxed
    driver gate covers every registered query): each format's staged copy
    of the events table feeds the same hour rollup, tagged by ``fmt`` —
    hash equality proves all three readers produce identical tiers.
    csv/json read through explicit schemas (header on for csv)."""
    parts = []
    for fmt in ("csv", "orc", "json"):
        ev = _staged_copy(spark, sf_dir, fmt)
        parts.append(
            ev.groupBy("event_type", bucket_expr("ts", "hour"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("value_sum"),
            )
            .select(
                F.lit(fmt).alias("fmt"),
                "event_type",
                _fmt_bucket(),
                "n_events",
                "value_sum",
            )
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))  # parquet reads as NTZ; session is UTC
    new_sess = F.when(
        us - F.lag(us).over(w) > 1_800_000_000, 1  # 30-minute gap, microseconds
    ).otherwise(0)
    sess = ev.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max(us) - F.min(us)).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's built-in ``session_window`` (gap-merging state machine inside
    the engine) checked against the manual lag/cumsum sessionization SQL —
    hash equality proves the native operator implements the same 30-minute
    gap rule. Boundary note: session_window starts a new session at gap ==
    exactly 30 min while the manual rule keeps it (strict >); verified no
    exact-boundary gap exists at any SF (microsecond timestamps), so the
    outputs coincide on these tables."""
    ev = _t(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    return (
        ev.groupBy("user_id", F.session_window(ts, "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("sw.start")).alias("session_start_us"),
            "n_events",
            "value_sum",
        )
    )


def q_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "rk", "event_id", F.round("value", 2).alias("value"))
    )


def q_dayofweek_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    dn = F.date_format("ts", "EEEE")
    days = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
    aggs = [
        F.count(F.when(dn == d, 1)).alias(f"n_{d.lower()}") for d in days
    ]
    return ev.groupBy("event_type").agg(*aggs)


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# relational coverage (scan/filter/join/agg/window/sort/limit)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    joined = li.join(
        F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", _TS_FMT).alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    nk = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nk), supplier.s_nationkey == nk.n_nationkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))  # local supplier
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


def q_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    active = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    inactive = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )
    return (
        active.join(inactive, "c_mktsegment", "full_outer")
        .fillna(0, ["n_active", "n_inactive"])
    )


def q_window_running_order_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 50)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2
        ).alias("running_total"),
    )


def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scan + conjunctive filter + single agg (classic pushdown showcase)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.02, 0.06))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


def q_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUBE grouping-sets aggregate (subtotals + grand total rows)
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_setop_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # set operators: big spenders INTERSECT recent-order customers,
    # EXCEPT automobile-segment customers
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    big = (
        orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("s"))
        .filter(F.col("s") > 200000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    recent = (
        orders.filter(F.col("o_orderdate") >= "2000-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    auto = cust.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    return big.intersect(recent).exceptAll(auto).select("c_custkey")


def q_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of (most recent prior event) via a running window — for each
    # purchase, the timestamp of the user's latest preceding click
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = W.partitionBy("user_id").orderBy(us, "event_id").rowsBetween(
        W.unboundedPreceding, -1
    )
    last_click = F.max(F.when(F.col("event_type") == "click", us)).over(w)
    return (
        ev.withColumn("last_click_us", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            us.alias("purchase_us"),
            "last_click_us",
            (us - F.col("last_click_us")).alias("gap_us"),
        )
    )


def q_date_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # string + date function coverage over part/orders
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 8)).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", F.lower("p_type")).alias("brand_type"),
        F.when(F.col("p_name").like("%gold%"), 1).otherwise(0).alias("has_gold"),
        (F.col("p_size") % 7).alias("size_mod7"),
    )


def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-sided dimension join (nation joined twice under different roles) +
    # year bucketing — the classic shipping-volume-between-nations shape
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1997-12-31")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
    )
    # exact integer-cent arithmetic: price/discount are 2dp decimals, so
    # price_cents * (100 - disc_cents) is an exact long — float summation
    # order can't produce a last-cent flip between engines (observed at
    # sf0.01 with naive round(sum(double), 2) on 1.4M-unit groups)
    rev_e4 = F.round(F.col("l_extendedprice") * 100).cast("long") * (
        100 - F.round(F.col("l_discount") * 100).cast("long")
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        # no round(): the e4-unit sum is an exact integer, and int/10000.0 is
        # the same IEEE double in every engine (round() would reintroduce
        # engine-specific HALF_UP-vs-HALF_EVEN behavior at half-cent sums)
        (F.sum(rev_e4) / 10000.0).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conditional-aggregate share over a broadcast fact-dimension join
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-03-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0))
            / F.sum(rev),
            4,
        ).alias("promo_share"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q18_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # large-volume orders: aggregate subquery feeding a join (TPC-H Q18 shape)
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", _TS_FMT).alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    # disjunctive multi-attribute predicate blocks over a fact-dim join
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    blk = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#7")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(5, 25)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 35)
        )
    )
    return j.filter(blk).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q22_idle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scalar aggregate subquery + anti join (TPC-H Q22 shape): customers with
    # above-average balance who never ordered
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return idle.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_custs"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PromQL-style counter increase per hour with reset detection
    from dads_spark.rollup import counter_rate

    ev = _t(spark, sf_dir, "events")
    return counter_rate(
        ev, ["event_type"], "ts", "value", "hour", order_cols=["event_id"]
    ).select("event_type", _fmt_bucket(), "increase", "n_resets")


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trapezoidal time-weighted hourly average (irregular sampling)
    from dads_spark.rollup import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    return time_weighted_avg(ev, ["event_type"], "ts", "value", "hour").select(
        "event_type", _fmt_bucket(), "twa", "n_points"
    )


def q_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hour-of-day seasonal-profile outliers (3-sigma residuals)
    from dads_spark.rollup import seasonal_outliers

    ev = _t(spark, sf_dir, "events")
    return seasonal_outliers(ev, ["event_type"], "ts", "value", 3.0)


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # median/MAD robust outliers; exact medians interpolate identically in
    # Spark and DuckDB, so set membership is bit-deterministic
    from dads_spark.rollup import mad_outliers

    ev = _t(spark, sf_dir, "events")
    return mad_outliers(ev, ["event_type"], "ts", "value", 5.0)


def q_paa_sax(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PAA frames + SAX alphabet-4 symbols per series
    from dads_spark.rollup import paa_sax

    ev = _t(spark, sf_dir, "events")
    # quantize=100: events.value is an exact-2dp metric, so frame/series
    # means run on exact integer sums (bit-deterministic across engines)
    return paa_sax(
        ev, ["event_type"], "ts", "value", 16, order_cols=["event_id"], quantize=100
    )


def q_stage_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the statistics-protocol counterpart as a queryable table: run the
    # hour->day cascade under the collector, one metrics row per pipeline
    # stage (durations/tasks/bytes from the AppStatusStore). Rows-only:
    # timings are runtime-dependent by nature; schema + one-row-per-stage
    # are the stable contract (also asserted in tests/test_metrics.py).
    from dads_spark.metrics import StageMetricsCollector
    from dads_spark.rollup import cascade, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    mc = StageMetricsCollector(spark)
    with mc.stage("tier_hour"):
        hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour").cache()
        hour.count()
    with mc.stage("tier_day"):
        cascade(hour, ["event_type"], "day").count()
    hour.unpersist()
    return mc.to_df().select("stage", "n_jobs", "n_tasks", "input_bytes")


def q_quantile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # mergeable centroid quantile sketch (partial per partition -> per-key
    # merge). Rows-only: the sketch is approximate by design; rank-error
    # <= 2% and partitioning-invariance are pinned in test_sketch.py.
    from dads_spark.ops import quantile_digest

    ev = _t(spark, sf_dir, "events")
    return quantile_digest(ev, ["event_type"], "value", [0.1, 0.5, 0.9, 0.99])


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark over a backlog holding every
    event TWICE; the oracle is the hourly count over the single-copy batch
    table — hash equality proves the stream dropped exactly the re-delivered
    rows (the at-least-once ingestion dedup shape)."""
    import hashlib as _hl

    from dads_spark.streaming import run_dedup_stream

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    src = _stage_dedup_src(spark, sf_dir)
    qname = "q_stream_dedup_" + _hl.sha1(sf_dir.encode()).hexdigest()[:8]
    deduped = run_dedup_stream(spark, src, ev.schema, "event_id", "ts", query_name=qname)
    return deduped.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    ).select("event_type", _fmt_bucket(), "n_events", "n_users")


def q_holt_residual_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Holt linear forecast residual outliers over hourly event series.
    # Rows-only: the level/trend recursion is not ANSI SQL; semantics are
    # pinned by exact-on-linear + planted-spike tests (test_forecast.py).
    from dads_spark.rollup import holt_residuals_grouped, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    hourly = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour").select(
        "event_type", "bucket_ts", F.col("value_sum").alias("v")
    )
    return holt_residuals_grouped(hourly, ["event_type"], "bucket_ts", "v", n_sigma=4.0)


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUSUM mean-shift changepoints per hourly series (rows-only; planted
    # shift / stationary-quiet behavior pinned in test_forecast.py)
    from dads_spark.rollup import cusum_grouped, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    hourly = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour").select(
        "event_type", "bucket_ts", F.col("value_sum").alias("v")
    )
    return cusum_grouped(hourly, ["event_type"], "bucket_ts", "v", k=0.75, h=6.0)


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc distinctive terms (tf desc, doc_freq asc) — integer-ranked
    from dads_spark.ops import top_terms

    docs = _t(spark, sf_dir, "documents")
    return top_terms(docs, "doc_id", "text", 3)


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 5 docs per language by smallest md5(doc_id): reproducible anywhere
    from dads_spark.ops import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, ["lang"], "doc_id", 5).select(
        "lang", "doc_id", "n_chars"
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic 25% test split by md5 nibble; counts per (lang, split)
    from dads_spark.ops import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", test_nibbles=4)
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # plant deterministic PII per doc, then mask it with the codegen
    # regexp cascade; the oracle applies the byte-identical cascade in
    # DuckDB (common Java-regex/RE2 subset), pinning the masked text via
    # md5 and the per-class counts on the same cascade stages
    from dads_spark.ops import pii_counts, redact_pii

    docs = _t(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref 123456789"),
        ).alias("text"),
    )
    red = redact_pii(planted).select(
        "doc_id", F.md5("text").alias("redacted_md5")
    )
    return red.join(pii_counts(planted), "doc_id").select(
        "doc_id", "redacted_md5", "n_email", "n_ip", "n_num"
    )


def q_rolling_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # trailing-24h p90 of the hourly sum per series (monitoring staple);
    # exact sort-based percentile over an event-time RANGE frame
    from dads_spark.rollup import rolling_quantile, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    hourly = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour").select(
        "event_type", "bucket_ts", F.col("value_sum").alias("v")
    )
    return rolling_quantile(
        hourly, ["event_type"], "bucket_ts", "v", q=0.9, window_buckets=24
    ).select("event_type", _fmt_bucket(), "rolling_q", "n_in_window")


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup pairs (distinct-token Jaccard >= 0.95) -> transitive closure
    # via iterative min-label propagation -> (doc, cluster rep). The oracle
    # recomputes the closure with a recursive CTE; unrounded IEEE division
    # on both sides keeps the pair set bit-identical.
    from dads_spark.ops import connected_components, ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.95)
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_rep")
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style duplicate-bigram quality signals, all-JVM n-gram build
    from dads_spark.ops import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "text", "doc_id", n=2)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-size 25% per-language sample by smallest md5(doc_id); 0.25 is
    # binary-exact so ceil(n*f) agrees bit-for-bit across engines
    from dads_spark.ops import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, ["lang"], "doc_id", 0.25).select(
        "lang", "doc_id", "n_chars"
    )


def q_series_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lagged cross-correlation between the error and purchase series
    from dads_spark.rollup import series_cross_correlation

    ev = _t(spark, sf_dir, "events")
    return series_cross_correlation(
        ev, "event_type", "ts", "value", "error", "purchase", max_lag=3
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weekly cohort retention matrix over event users
    from dads_spark.rollup import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts", "week")


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view -> click -> purchase): per user the
    earliest view, the earliest click strictly after it, the earliest
    purchase strictly after that; output one row per step with the user
    count that reached it. Pure relational (3 conditional min-aggregations
    chained by co-partitioned joins on user_id; at warehouse scale these
    are one shuffle each on the same key, AQE-coalesced)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    u1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t1"))
    )
    u2 = (
        ev.filter(F.col("event_type") == "click")
        .join(u1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id").agg(F.min("ts").alias("t2"))
    )
    u3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(u2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id").agg(F.min("ts").alias("t3"))
    )
    rows = [
        u1.agg(F.lit(1).alias("step"), F.lit("view").alias("event_type"),
               F.count(F.lit(1)).alias("users")),
        u2.agg(F.lit(2).alias("step"), F.lit("click").alias("event_type"),
               F.count(F.lit(1)).alias("users")),
        u3.agg(F.lit(3).alias("step"), F.lit("purchase").alias("event_type"),
               F.count(F.lit(1)).alias("users")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def q_matrix_profile_discord(spark: SparkSession, sf_dir: str) -> DataFrame:
    # STOMP matrix-profile discords over the hourly event series — the exact
    # nearest-neighbor counterpart to the S2G/DRAG graph scoring. Rows-only:
    # the O(n^2) z-normalized NN profile is not ANSI SQL; kernel parity vs
    # brute force is pinned in tests/test_matrixprofile.py.
    from dads_spark.rollup import discords_grouped, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    hourly = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour").select(
        "event_type", "bucket_ts", F.col("value_sum").alias("v")
    )
    return discords_grouped(hourly, ["event_type"], "bucket_ts", "v", m=24, k=3)


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q2 shape: correlated scalar-max subquery over a part-supplier
    # relation inside a region. The testdata ships no partsupp table, so the
    # part-supplier relation is derived as DISTINCT (l_partkey, l_suppkey)
    # and "min supplycost" becomes "max s_acctbal" among the part's
    # EUROPE suppliers — same correlated-extremum plan shape.
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & (F.col("p_size") == 15)
    )
    nk = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    eu = (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), ps.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nk), supp.s_nationkey == nk.n_nationkey)
    )
    best = F.max("s_acctbal").over(W.partitionBy("p_partkey"))
    return (
        eu.withColumn("_best", best)
        .filter(F.col("s_acctbal") == F.col("_best"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 shape: EXISTS correlated subquery -> left-semi join. The
    # testdata has no commit/receipt dates; the exists-predicate is
    # "some lineitem of the order was returned" (l_returnflag = 'R').
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q8: national market share = revenue from NATION_5 suppliers /
    # all revenue, per order year, for PROMO parts sold to AMERICA customers
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cnat = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    snat = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), cust.c_nationkey == cnat.n_nationkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snat), supp.s_nationkey == F.col("s_nkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q9 shape: profit per (supplier nation, order year). No partsupp
    # table -> supply cost proxied as 0.8 * p_retailprice * l_quantity.
    # The profit terms cancel, so a double sum can land ON a .xx5 rounding
    # boundary and drift across engines (observed: one group off by 0.01).
    # All inputs are exact 2dp/integral, so the whole sum runs in exact
    # integer 1e-4 units (long arithmetic inside codegen — a first-cut
    # decimal(38) formulation was ~4x slower via per-row BigDecimal), and
    # the final single division by 10^4 is IEEE-exact in both engines.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    rp_c = F.round(F.col("p_retailprice") * 100).cast("long")
    qty_i = F.col("l_quantity").cast("long")
    profit = ep_c * (F.lit(100) - disc_c) - F.lit(8) * rp_c * qty_i
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
    )
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg((F.sum(profit) / F.lit(10000.0)).alias("sum_profit"))


def q11_important_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q11 shape: group aggregate filtered by a scalar subquery of the
    # global aggregate (HAVING value > fraction * total). Value = lineitem
    # revenue of parts shipped by NATION_3 suppliers (no partsupp table).
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_li = li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey).join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    )
    per_part = nat_li.groupBy("l_partkey").agg(F.round(F.sum(rev), 2).alias("value"))
    total = per_part.agg(F.sum("value").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.col("_total") * 0.005)
        .select(F.col("l_partkey").alias("p_partkey"), "value")
    )


def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q12 shape: CASE-conditional counts after a fact join. No
    # l_shipmode column -> classify by l_linestatus instead.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
    ).otherwise(0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q13: customer order-count distribution via left outer join +
    # double aggregation (customers with zero orders must appear at c_count 0)
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q15: per-supplier revenue view + scalar-max subquery equality.
    # Revenue is rounded to 2dp in BOTH engines before the max comparison so
    # float summation order cannot flip the argmax.
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    best = rev.agg(F.max("total_revenue").alias("_best"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_best"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q16 shape: distinct-supplier counts per part attribute group,
    # excluding a NOT-IN supplier sublist (anti join). Part-supplier relation
    # from lineitem (no partsupp table); excluded suppliers = negative balance.
    ps = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 9, 14, 19, 23)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    return (
        ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17: correlated per-part average-quantity subquery. l_quantity
    # is integral, so sum and count are exact doubles and avg is
    # bit-identical across engines — the 0.2*avg comparison cannot drift.
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    avg_qty = F.avg("l_quantity").over(W.partitionBy("p_partkey"))
    return (
        j.withColumn("_avg", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q20 shape: nested semi-joins — suppliers in NATION_7 who shipped
    # 'red %' parts with 1996 volume above a threshold
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("red %"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q21 shape: EXISTS + NOT-EXISTS double correlation. Adapted to the
    # available columns: suppliers in NATION_2 whose lineitem was returned
    # ('R') in a finalized multi-supplier order where NO other supplier's
    # item was returned. The per-order distinct-supplier counts express the
    # two correlated subqueries; the DuckDB oracle keeps the genuine
    # EXISTS/NOT EXISTS formulation, so hash equality proves the rewrite.
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_supp_r"),
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_supp_r") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    return (
        l1.join(F.broadcast(supp), l1.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def q_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    # statistical aggregate coverage: correlation, covariance, stddev, variance
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar_pop_qp"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_samp_qp"),
        F.round(F.stddev_samp("l_discount"), 6).alias("stddev_disc"),
        F.round(F.var_pop("l_tax"), 6).alias("varpop_tax"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_percentiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact interpolated percentiles (sort-based) per group
    ev = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75))")
    return ev.groupBy("event_type").agg(
        F.round(pct[0], 4).alias("p25"),
        F.round(pct[1], 4).alias("p50"),
        F.round(pct[2], 4).alias("p75"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


def q_range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # range join: for each purchase, clicks by the same user in the strictly
    # preceding hour (equi key + band predicate -> sort-merge join + filter)
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        us.alias("p_us"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), us.alias("c_us")
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_us") >= F.col("p_us") - 3_600_000_000)
        & (F.col("c_us") < F.col("p_us")),
        "left",
    )
    return joined.groupBy("purchase_id", "p_user").agg(
        F.count("c_us").alias("n_clicks_1h"),
        F.max("c_us").alias("last_click_us"),
    )


def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON path extraction from the string props column
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type", (k % 10).alias("k_mod10")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("k_sum"),
    )


def q_pivot_lang_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pivot: per-source language mix as wide counts
    docs = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    piv = docs.groupBy("source").pivot("lang", langs).count().fillna(0, langs)
    return piv.select(
        "source", *[F.col(l).alias(f"n_{l}") for l in langs]
    )


def q_unpivot_tier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unpivot (wide -> long) of the hour-tier metric columns
    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    wide = hour.select(
        "event_type",
        _fmt_bucket(),
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )
    return wide.unpivot(
        ["event_type", "bucket_ts"],
        ["value_sum", "value_min", "value_max"],
        "metric",
        "v",
    )


def q_histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fixed-width histogram buckets of the value distribution per type
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.floor(F.col("value") / 5.0).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


def q_gorilla_roundtrip_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour tier -> delta-of-delta + Gorilla encode -> decode -> points.
    The oracle is the UNCOMPRESSED rollup: hash equality proves the codecs
    are lossless under distributed execution."""
    from dads_spark.compress import compressed_tier_roundtrip

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    rt = compressed_tier_roundtrip(hour, ["event_type"])
    return rt.select(
        "event_type", _fmt_bucket(), F.round("value_sum", 2).alias("value_sum")
    )


def q_streaming_rollup_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming hour rollup over a bounded backlog; the oracle is
    the BATCH rollup SQL — hash equality proves streaming/batch equivalence
    (readStream -> watermark -> windowed agg -> memory sink)."""
    from dads_spark.streaming import run_stream_once

    ev = _t(spark, sf_dir, "events")
    src = _events_stream_src(spark, sf_dir)
    res = run_stream_once(
        spark, src, ev.schema, ["event_type"], "ts", "value",
        query_name="q_stream_rollup",
    )
    return res.select(
        "event_type",
        _fmt_bucket(),
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )


def _stage_backfill_src(spark: SparkSession, sf_dir: str) -> str:
    """Events table staged as a FOUR-file parquet directory so the backfill
    stream (maxFilesPerTrigger=1) exercises multiple micro-batch merges."""
    import os as _os

    src = _stage_dir("backfill_src", sf_dir)
    if not _os.path.exists(f"{src}/_SUCCESS"):
        _t(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(src)
    return src


def q_streaming_tier_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained ON-DISK hour tier (streaming/backfill.py):
    foreachBatch folds each micro-batch's delta into the stored tier via
    merge_tier + dynamic partition overwrite, with a batch-id ledger for
    idempotent replay. The oracle is the BATCH hour rollup SQL — hash
    equality proves the incrementally-maintained store equals a from-
    scratch rollup after 4 merges. Kill/resume is pinned by
    tests/test_backfill.py."""
    import shutil as _sh

    from dads_spark.streaming import run_tier_backfill_stream

    ev = _t(spark, sf_dir, "events")
    src = _stage_backfill_src(spark, sf_dir)
    base = _stage_dir("tier_backfill_run", sf_dir)
    _sh.rmtree(base, ignore_errors=True)  # a fresh maintenance run per call
    run_tier_backfill_stream(
        spark, src, ev.schema, ["event_type"], "ts", "value",
        f"{base}/tier", f"{base}/ckpt", max_files_per_trigger=1,
    )
    tier = spark.read.parquet(f"{base}/tier").drop("bucket_date")
    return tier.select(
        "event_type",
        _fmt_bucket(),
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy sequence packing (ops/packing.py): documents
    concatenated per language shard in doc_id order, cut into 2048-token
    context windows; each doc gets (bin_id, bin_offset, spans_boundary).
    All integer arithmetic over a single JVM window pass — bit-exact on
    any engine, repartition-invariant."""
    from dads_spark.ops import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split(F.col("text"), " ")).alias("n_toks")
    )
    return pack_sequences(docs, ["lang"], "doc_id", "n_toks", ctx_len=2048)


def q_tv_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per (event_type, day) vs the type's first-week
    baseline (rollup/drift.py): total-variation distance over 10
    equal-width baseline-fitted bins, reported as the EXACT integer
    numerator sum |n_i*M - m_i*N| plus both totals — no logarithms, no
    float hash surface (the paa_sax cross-engine rounding lesson)."""
    from dads_spark.rollup import tv_drift

    ev = _t(spark, sf_dir, "events")
    out = tv_drift(ev, ["event_type"], "ts", "value",
                   baseline_days=7, period="day", bins=10)
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("ws"),
        "tv_numer",
        "n_period",
        "n_baseline",
    )


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D earth mover's distance per (event_type, day) vs the first-
    week baseline (rollup/drift.py wasserstein_drift): the cumulative-
    histogram identity makes W1 an exact integer numerator
    sum |CN_i*M - CM_i*N| over tv_drift's audited grid — TV says how
    much mass moved, W1 says how far."""
    from dads_spark.rollup import wasserstein_drift

    ev = _t(spark, sf_dir, "events")
    out = wasserstein_drift(ev, ["event_type"], "ts", "value",
                            baseline_days=7, period="day", bins=10)
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("ws"),
        "w1_numer",
        "n_period",
        "n_baseline",
    )


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per (event_type, day) vs the type's
    first-week baseline over the SAME binned grid as tv_drift — the
    industry drift scorecard metric. Per-bin ln terms quantized to
    integer nano-units before the exact integer sum (the pmi discipline),
    so the gate hashes integers only."""
    from dads_spark.rollup import psi_drift

    ev = _t(spark, sf_dir, "events")
    out = psi_drift(ev, ["event_type"], "ts", "value",
                    baseline_days=7, period="day", bins=10)
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("ws"),
        "psi_q9",
        "n_period",
        "n_baseline",
    )


def q_cm_freq_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency-sketch tier cascade (rollup/freqsketch.py):
    hour sketches of per-type user activity merged cell-wise into day
    sketches (no raw re-read), then point estimates for a 20-user probe
    set vs exact truth. The oracle builds the DAY sketch directly from
    raw in SQL — hash equality therefore also verifies the cascade
    identity (cell-wise adds commute). ge_ok pins the count-min >=-truth
    guarantee as data."""
    from dads_spark.rollup import cm_build_tier, cm_cascade, cm_estimate

    d, w = 4, 256
    ev = _t(spark, sf_dir, "events")
    hour = cm_build_tier(ev, ["event_type"], "ts", "user_id", "hour", d=d, w=w)
    day = cm_cascade(hour, ["event_type"], "day")
    probes = (
        ev.select("event_type")
        .distinct()
        .crossJoin(spark.range(20).select(F.col("id").alias("user_id")))
    )
    est = cm_estimate(day, probes, ["event_type"], "user_id", d=d, w=w)
    exact = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("event_type", bucket_expr("ts", "day"), "user_id")
        .agg(F.count(F.lit(1)).alias("exact"))
    )
    return (
        est.join(exact, ["event_type", "bucket_ts", "user_id"], "left")
        .withColumn("exact", F.coalesce("exact", F.lit(0)).cast("long"))
        .select(
            "event_type",
            F.unix_timestamp("bucket_ts").alias("ws"),
            "user_id",
            "est",
            "exact",
            (F.col("est") >= F.col("exact")).alias("ge_ok"),
        )
    )


def q_compressed_read_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranged read over the Gorilla blob store (compress/blobstore.py):
    the hour tier is written as chunked compressed blobs with
    [t_min, t_max] pruning columns, then a mid-range window is read back
    (blob-level pruning at the scan, row-level trim after decode) and
    aggregated. Oracle = the same range aggregated from RAW events —
    hash equality proves the compressed store serves exact ranged reads."""
    import shutil as _sh

    from dads_spark.compress import read_compressed_tier, write_compressed_tier
    from dads_spark.rollup import rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    lo, hi = (
        ev.agg(
            F.min(F.unix_timestamp(F.col("ts").cast("timestamp"))),
            F.max(F.unix_timestamp(F.col("ts").cast("timestamp"))),
        ).first()
    )
    t0 = ((int(lo) // 3600) * 3600 + 24 * 3600) * 1_000_000
    t1 = ((int(hi) // 3600) * 3600 - 36 * 3600) * 1_000_000
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    path = _stage_dir("gorilla_store_run", sf_dir)
    _sh.rmtree(path, ignore_errors=True)
    # chunk small so the range exercises real blob pruning at every sf
    write_compressed_tier(hour, ["event_type"], path, chunk_points=64)
    rows = read_compressed_tier(
        spark, path, ["event_type"], t0_us=t0, t1_us=t1
    )
    return rows.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(F.sum("value_sum"), 2).alias("value_sum"),
    )


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate profile drift (ops/profile.py profile_drift): the 80%
    events subset vs the full table — per-column null/distinct/length
    deltas and changed-extrema flags, all integer/bool, hash-exact."""
    from dads_spark.ops import profile_drift

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 5 != 0)
    return profile_drift(old, ev, ["event_id", "event_type", "user_id", "props"])


def q_tier_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-tier range router (rollup/router.py): per-type totals over a
    ~3.7-week range served from week+day+hour tiers stitched without
    overlap or gap. The oracle aggregates RAW events over the same range
    — hash equality proves the coarse-tier serving plan is exact. Which
    tiers served (provenance counts) is pinned by tests/test_router.py."""
    from dads_spark.rollup import cascade, rollup_from_raw, route_range

    ev = _t(spark, sf_dir, "events")
    lo, hi = (
        ev.agg(
            F.min(F.unix_timestamp(F.col("ts").cast("timestamp"))),
            F.max(F.unix_timestamp(F.col("ts").cast("timestamp"))),
        ).first()
    )
    t0 = (int(lo) // 3600) * 3600 + 5 * 3600
    t1 = (int(hi) // 3600) * 3600 - 3 * 3600
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    day = cascade(hour, ["event_type"], "day")
    week = cascade(day, ["event_type"], "week")
    out = route_range(
        {"hour": hour, "day": day, "week": week}, ["event_type"], t0, t1
    )
    return out.select(
        "event_type",
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
    )


def q_serving_path_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING-PATH flagship: the full read path of the tier store in one
    plan — per-type totals over a multi-week range stitched from the
    week/day parquet tiers (rollup/router.py range_segments) with the
    hour-tier FRINGE decoded from the Gorilla/delta-of-delta compressed
    blob store (compress/blobstore.py), value AND count channels. Every
    component is individually green (tier_route, compressed_read_range,
    gorilla_roundtrip_hour); this entry pins their COMPOSITION: coarse
    tiers + compressed-fringe decode must reproduce the raw aggregate
    bit-for-bit. The oracle aggregates RAW events over the same range."""
    import shutil as _sh

    from dads_spark.compress import read_compressed_tier, write_compressed_tier
    from dads_spark.rollup import cascade, rollup_from_raw
    from dads_spark.rollup.router import range_segments

    ev = _t(spark, sf_dir, "events")
    lo, hi = (
        ev.agg(
            F.min(F.unix_timestamp(F.col("ts").cast("timestamp"))),
            F.max(F.unix_timestamp(F.col("ts").cast("timestamp"))),
        ).first()
    )
    t0 = (int(lo) // 3600) * 3600 + 5 * 3600
    t1 = (int(hi) // 3600) * 3600 - 3 * 3600
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    day = cascade(hour, ["event_type"], "day")
    week = cascade(day, ["event_type"], "week")

    # hour tier -> compressed store, two channels: Gorilla XOR is exact
    # on doubles, and integer counts are exactly representable, so the
    # decoded fringe is bit-identical to the parquet hour tier
    base = _stage_dir("serving_store", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    write_compressed_tier(hour, ["event_type"], f"{base}/vals", chunk_points=64)
    write_compressed_tier(
        hour.withColumn("dc", F.col("doc_count").cast("double")),
        ["event_type"],
        f"{base}/counts",
        value_col="dc",
        chunk_points=64,
    )

    parts = []
    for tier_name, slo, shi in range_segments(t0, t1):
        if tier_name == "hour":
            v = read_compressed_tier(
                spark, f"{base}/vals", ["event_type"],
                t0_us=slo * 1_000_000, t1_us=shi * 1_000_000,
            )
            c = read_compressed_tier(
                spark, f"{base}/counts", ["event_type"],
                t0_us=slo * 1_000_000, t1_us=shi * 1_000_000, value_col="dc",
            )
            parts.append(
                v.join(c, ["event_type", "bucket_ts"]).select(
                    "event_type",
                    F.col("dc").cast("long").alias("doc_count"),
                    "value_sum",
                )
            )
        else:
            df = day if tier_name == "day" else week
            b = F.unix_timestamp(F.col("bucket_ts").cast("timestamp"))
            parts.append(
                df.filter((b >= slo) & (b < shi)).select(
                    "event_type", "doc_count", "value_sum"
                )
            )
    unioned = parts[0]
    for p in parts[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy("event_type").agg(
        F.sum("doc_count").cast("long").alias("n_events"),
        F.round(F.sum("value_sum"), 2).alias("value_sum"),
    )


def _stage_warc_src(sf_dir: str) -> str:
    """Deterministic WARC archive built from the documents table: one
    response record per doc (+ a request record every 7th doc that the
    parser must skip). Staged once per data fingerprint."""
    import os as _os

    import pyarrow.parquet as _pq

    from dads_spark.io import build_warc_record

    d = _stage_dir("warc_src", sf_dir)
    marker = f"{d}/_STAGED"
    if not _os.path.exists(marker):
        _os.makedirs(d, exist_ok=True)
        t = _pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "source", "text"]
        ).to_pandas()
        t = t.sort_values("doc_id")
        buf = bytearray()
        for _, r in t.iterrows():
            doc_id = int(r["doc_id"])
            url = f"https://{r['source']}.example.com/p/{doc_id}"
            ts = 1_704_067_200 + doc_id  # 2024-01-01T00:00:00Z + id sec
            import datetime as _dt

            iso = _dt.datetime.fromtimestamp(ts, _dt.timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            if doc_id % 7 == 0:
                buf += build_warc_record(url, iso, b"GET", rec_type="request")
            buf += build_warc_record(url, iso, r["text"].encode())
        with open(f"{d}/part0.warc", "wb") as fh:
            fh.write(bytes(buf))
        with open(marker, "w") as fh:
            fh.write("ok")
    return d


def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source connector roundtrip (io/warc.py): a deterministic
    archive synthesized from documents (response + decoy request
    records) is parsed back; the oracle reconstructs the expected rows
    directly from documents — the reader must exactly invert the writer,
    byte counts included (ingestion-boundary form of the byte-identical
    text invariant)."""
    from dads_spark.io import read_warc

    src = _stage_warc_src(sf_dir)
    out = read_warc(spark, f"{src}/*.warc")
    return out.select(
        "url",
        F.unix_timestamp(F.col("warc_ts").cast("timestamp")).alias("ws"),
        "n_bytes",
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-tier HTML -> text extraction (ops/htmltext.py): documents
    text wrapped in a deterministic page shell (script/style decoys,
    headings, entities) in BOTH engines, then extracted independently —
    hash equality pins the extractor's cross-engine semantics, the
    ingestion-side half of the byte-identical-text invariant."""
    from dads_spark.ops import html_to_text

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><script>var x=1;</script><style>p{margin:0}"
                  "</style></head><body><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit("</p><br><div>footer &amp; end</div></body></html>"),
        ).alias("html"),
    )
    return html_to_text(pages, "html", "text_extracted").select(
        "doc_id", "text_extracted"
    )


def q_e2e_web_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WEB-side end-to-end flagship, composing the ingestion suite in
    one plan: WARC archive -> record parse (io/warc.py) -> host
    extraction -> domain-suffix blocklist (md5(source)<'4' sites banned)
    -> exact text dedup (lowest-id representative per identical body) ->
    per-site hourly rollup over warc_ts. Every stage is individually
    oracle-gated elsewhere; this entry pins their COMPOSITION (the oracle
    rebuilds the whole funnel relationally from documents)."""
    from dads_spark.io import read_warc
    from dads_spark.ops import blocklist_annotate, dedup_exact

    src = _stage_warc_src(sf_dir)
    pages = read_warc(spark, f"{src}/*.warc")
    with_host = pages.withColumn(
        "host", F.lower(F.try_parse_url(F.col("url"), F.lit("HOST")))
    )
    rules = (
        _t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .filter(F.substring(F.md5("source"), 1, 1) < "4")
        .select(F.concat(F.col("source"), F.lit(".example.com")).alias("rule"))
    )
    kept = (
        blocklist_annotate(with_host, rules)
        .filter(~F.col("blocked"))
        .withColumn("body", F.col("html").cast("string"))
    )
    deduped = dedup_exact(kept, text_col="body", id_col="url")
    return (
        deduped.groupBy("host", bucket_expr("warc_ts", "hour"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select("host", F.unix_timestamp("bucket_ts").alias("ws"), "n_docs")
    )


def q_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt policy matching (ops/robots.py): synthesized per-source
    hosts/paths against a star-group policy (disallow /private and /tmp,
    allow /private/ok, policy present only for md5(source)<'8' hosts).
    The Spark side runs the generic longest-match array-HOF matcher; the
    oracle expresses the SAME policy as direct CASE logic — agreement
    pins the matcher's semantics, not a shared implementation."""
    from dads_spark.ops import robots_annotate

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit("/private/"))
            .when(F.col("doc_id") % 4 == 1, F.lit("/private/ok/"))
            .when(F.col("doc_id") % 4 == 2, F.lit("/pub/"))
            .otherwise(F.lit("/tmp/")),
            F.col("doc_id").cast("string"),
        ).alias("path"),
    )
    rules = (
        docs.select("source")
        .distinct()
        .filter(F.substring(F.md5("source"), 1, 1) < "8")
        .select(F.concat(F.col("source"), F.lit(".example.com")).alias("host"))
        .select(
            "host",
            F.explode(
                F.array(
                    F.struct(F.lit("disallow").alias("rtype"), F.lit("/private").alias("prefix")),
                    F.struct(F.lit("allow").alias("rtype"), F.lit("/private/ok").alias("prefix")),
                    F.struct(F.lit("disallow").alias("rtype"), F.lit("/tmp").alias("prefix")),
                )
            ).alias("_r"),
        )
        .select("host", F.col("_r.rtype").alias("rtype"), F.col("_r.prefix").alias("prefix"))
    )
    return robots_annotate(pages, rules).select(
        "doc_id", "host", "path", "crawl_allowed"
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked per-source contribution cap (ops/sampling.py
    cap_per_group): at most 12 docs per source, keeping the LONGEST
    (n_chars as the quality proxy; md5 tiebreak) — the anti-gigasite
    curation cap, distinct from the uniform deterministic_sample."""
    from dads_spark.ops import cap_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return cap_per_group(docs, ["source"], "doc_id", 12, "n_chars")


def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer seasonal-vs-naive forecast baselines per series
    (rollup/analytics.py seasonal_naive_error): sum-of-absolute-errors of
    y_{t-24} and y_{t-1} predictors over hourly counts — the forecast-
    family triage metric, with zero float surface."""
    from dads_spark.rollup import seasonal_naive_error

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).alias("y")
    )
    return seasonal_naive_error(hourly, ["event_type"], "bucket_ts", "y", season=24)


def q_tier_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned tier store (checkpoint/snapshots.py): v0 = hour tier of
    an 80% events subset, v1 = the full tier; both read back AS-OF their
    snapshot and aggregated. Hash equality vs SQL computing the same two
    rollup summaries from raw proves time-travel reads serve exactly the
    committed data. Vacuum/pin semantics are pinned by
    tests/test_snapshots.py."""
    import shutil as _sh

    from dads_spark.checkpoint import SnapshotStore
    from dads_spark.rollup import rollup_from_raw

    base = _stage_dir("snapshot_store_run", sf_dir)
    _sh.rmtree(base, ignore_errors=True)  # fresh store per call
    store = SnapshotStore(spark, base)
    ev = _t(spark, sf_dir, "events")
    v0 = store.commit(
        "hour",
        rollup_from_raw(
            ev.filter(F.col("event_id") % 5 != 0), ["event_type"], "ts", None, "hour"
        ),
        note="partial ingest",
    )
    v1 = store.commit(
        "hour", rollup_from_raw(ev, ["event_type"], "ts", None, "hour"),
        note="full ingest",
    )
    parts = []
    for v in (v0, v1):
        parts.append(
            store.read("hour", v)
            .groupBy()
            .agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("doc_count").cast("long").alias("events_total"),
            )
        )
    return parts[0].unionByName(parts[1])


def q_snapshot_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-store maintenance verbs (checkpoint/snapshots.py): v0 =
    hour tier of an 80% subset, v1 = keyed UPSERT of the full tier's rows
    (touched buckets replaced, new buckets appended), v2 = DELETE of the
    'click' series (the per-key erasure path). All three versions read
    back AS-OF and aggregated; the oracle computes each state directly
    from raw — copy-on-write versioning must reproduce exact history."""
    import shutil as _sh

    from dads_spark.checkpoint import SnapshotStore
    from dads_spark.rollup import rollup_from_raw

    base = _stage_dir("snapshot_ud_run", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    store = SnapshotStore(spark, base)
    ev = _t(spark, sf_dir, "events")
    keys = ["event_type", "bucket_ts"]
    v0 = store.commit(
        "hour",
        rollup_from_raw(
            ev.filter(F.col("event_id") % 5 != 0), ["event_type"], "ts", None, "hour"
        ),
    )
    full = rollup_from_raw(ev, ["event_type"], "ts", None, "hour")
    v1 = store.upsert("hour", full, keys)
    v2 = store.delete_where("hour", F.col("event_type") == "click")
    parts = []
    for v in (v0, v1, v2):
        parts.append(
            store.read("hour", v)
            .groupBy()
            .agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("doc_count").cast("long").alias("events_total"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend as exact integer fractions
    (rollup/trend.py:ols_trend_exact): every moment is an integer sum, so
    slope/intercept hash bit-for-bit with no float surface — the
    variance-weighted complement of theil_sen_trend."""
    from dads_spark.rollup import bucket_expr, ols_trend_exact

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).alias("y")
    )
    return ols_trend_exact(hourly, ["event_type"], "bucket_ts", "y")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass ANALYZE-style profile (ops/profile.py) of four events
    columns: nulls, exact distincts, string-cast min/max, total string
    length — all integers/strings, hash-exact cross-engine."""
    from dads_spark.ops import profile_table

    ev = _t(spark, sf_dir, "events")
    return profile_table(ev, ["event_id", "event_type", "user_id", "props"])


def _profile_drift_oracle_sql() -> str:
    parts = []
    for c in ("event_id", "event_type", "user_id", "props"):
        s = f"CAST({c} AS VARCHAR)"
        parts.append(f"""
            SELECT '{c}' AS "column",
              (SELECT CAST(count(*) AS BIGINT) FROM old_t) AS n_rows_old,
              (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows_new,
              CAST((SELECT count(*) FROM events WHERE {c} IS NULL)
                 - (SELECT count(*) FROM old_t WHERE {c} IS NULL) AS BIGINT)
                  AS null_delta,
              CAST((SELECT count(DISTINCT {c}) FROM events)
                 - (SELECT count(DISTINCT {c}) FROM old_t) AS BIGINT)
                  AS distinct_delta,
              CAST((SELECT sum(coalesce(length({s}), 0)) FROM events)
                 - (SELECT sum(coalesce(length({s}), 0)) FROM old_t) AS BIGINT)
                  AS len_delta,
              ((SELECT min({s}) FROM events)
                   IS DISTINCT FROM (SELECT min({s}) FROM old_t)
               OR (SELECT max({s}) FROM events)
                   IS DISTINCT FROM (SELECT max({s}) FROM old_t))
                  AS range_changed
        """)
    return (
        "WITH old_t AS (SELECT * FROM events WHERE event_id % 5 != 0)\n"
        + "\nUNION ALL\n".join(parts)
    )


def _zorder_oracle_sql() -> str:
    from dads_spark.rollup.zorder import zvalue_sql

    z = zvalue_sql("hx", "uy")
    return f"""
        SELECT event_id, hx, uy, {z} AS zval
        FROM (
            SELECT event_id,
                   (epoch_us(ts) // 3600000000) % 65536 AS hx,
                   user_id % 65536 AS uy
            FROM events)
    """


def _stage_pelt_oracle(sf_dir: str) -> None:
    import numpy as _np2

    from dads_spark.oracles import hourly_counts, pelt_oracle
    from dads_spark.rollup.changepoint import auto_penalty

    ets, rk, idx, ns = [], [], [], []
    for et, (b, v) in hourly_counts(sf_dir).items():
        cps = pelt_oracle(v, auto_penalty(v))
        for r, c in enumerate(cps, 1):
            ets.append(et)
            rk.append(r)
            idx.append(c)
            ns.append(len(v))
    _write_dump(
        "pelt_oracle",
        {
            "event_type": ets,
            "cp_rank": _np2.array(rk, dtype=_np2.int64),
            "cp_idx": _np2.array(idx, dtype=_np2.int64),
            "n": _np2.array(ns, dtype=_np2.int64),
        },
    )


def q_pelt_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact penalized mean-shift segmentation (rollup/changepoint.py,
    PELT) of the hourly count series, driver-hash-gated against the
    UNPRUNED O(n^2) textbook DP in dads_spark/oracles.py (staged parquet).
    All-integer output (cp_rank, cp_idx, n); penalty is the shared
    prefix-sum BIC scalar, so agreement is bitwise, not approximate."""
    from dads_spark.rollup import pelt_grouped

    out = pelt_grouped(
        _hourly_counts_df(spark, sf_dir), ["event_type"], "bucket_ts", "v"
    )
    _stage_pelt_oracle(sf_dir)
    return out.select("event_type", "cp_rank", "cp_idx", "n")


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-suffix blocklist annotation (ops/urltools.py): hosts with
    0-2 subdomain labels synthesized from documents columns, rules derived
    per source (bare-domain rules for md5(source)<'8', a deeper
    'assets.<source>.co.uk' rule otherwise) — exercises exact-host match,
    one-label and multi-label subdomain matches, and non-matches. The
    corpus is never shuffled: distinct hosts -> suffix-explode ->
    broadcast rule equi-join -> matched set broadcast back."""
    from dads_spark.ops import blocklist_annotate

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(
        "doc_id",
        F.lower(
            F.concat(
                F.when(F.col("doc_id") % 4 == 0, F.lit("cdn.assets."))
                .when(F.col("doc_id") % 4 == 1, F.lit("m."))
                .otherwise(F.lit("")),
                "source",
                F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk")).otherwise(
                    F.lit(".example.com")
                ),
            )
        ).alias("host"),
    )
    rules = (
        docs.select("source")
        .distinct()
        .select(
            F.when(
                F.substring(F.md5("source"), 1, 1) < "8",
                F.concat(F.col("source"), F.lit(".example.com")),
            )
            .otherwise(F.concat(F.lit("assets."), F.col("source"), F.lit(".co.uk")))
            .alias("rule")
        )
    )
    return blocklist_annotate(hosts, rules).select(
        "doc_id", "host", "blocked", "matched_rule"
    )


def q_mixture_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing (ops/sampling.py balance_sample):
    largest subsample whose language mix is exactly en:de:fr:es:zh =
    8:3:3:3:2 — integer water-level m = min(n_g div w_g), each group
    contributes m*w_g smallest-md5 docs. All-integer quota arithmetic, so
    the row SET is engine-exact (no float share boundaries)."""
    from dads_spark.ops import balance_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = balance_sample(
        docs, "lang", {"en": 8, "de": 3, "fr": 3, "es": 3, "zh": 2}, "doc_id"
    )
    return out.select("doc_id", "lang")


def q_zorder_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/z-order interleave (rollup/zorder.py) of (hour bucket,
    user bucket) over events — the clustering key the 2-D tier-file
    layout sorts by. Pure JVM bit arithmetic, reproduced term-for-term in
    the DuckDB oracle via zvalue_sql; the layout property itself (per-file
    bounding boxes shrink in both dims) is pinned by tests/test_zorder.py."""
    from dads_spark.rollup import zvalue

    ev = _t(spark, sf_dir, "events")
    x = F.expr("(unix_micros(cast(ts as timestamp)) div 3600000000) % 65536")
    y = F.expr("user_id % 65536")
    return ev.select(
        "event_id",
        x.alias("hx"),
        y.alias("uy"),
        zvalue(x, y).alias("zval"),
    )


def q_streaming_topk_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping-window trending: incremental 1h/15m overlapping
    counts per event_type (watermarked multi-assign window state), top-3
    per window ranked batch-side on the completed sink — the streaming
    counts / serving rank split. Oracle = the equivalent batch hopping
    expansion + rank in DuckDB; hash equality proves streaming/batch
    equivalence of the whole trending pipeline."""
    from dads_spark.streaming import run_hopping_topk_once

    ev = _t(spark, sf_dir, "events")
    src = _events_stream_src(spark, sf_dir)
    res = run_hopping_topk_once(
        spark, src, ev.schema, ["event_type"], "ts", k=3,
        query_name="q_stream_topk",
    )
    return res.select(
        "event_type",
        F.unix_timestamp("window_start").alias("ws"),
        F.col("n").cast("long").alias("n"),
        F.col("rnk").cast("long").alias("rnk"),
    )


# ---------------------------------------------------------------------------
# documents: dedup + text analysis
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("rep_id"), F.count(F.lit(1)).alias("dup_count")
    ).select("rep_id", "dup_count")


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
    )


#: BPE-ish pre-tokenizer pattern: letter runs, digit runs, punctuation runs
#: (no lookaheads — identical semantics under Java regex and RE2)
_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


def q_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regex pre-tokenization (the BPE-style split LLM pipelines apply before
    # merges): counts per doc + distinct token types
    docs = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0)
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_bpe_types"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    ttr = F.size(F.array_distinct(toks)) / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round((n_chars - (n_tokens - 1)) / n_tokens, 4).alias("mean_token_len"),
        F.round(alpha / n_chars, 4).alias("alpha_ratio"),
        F.round(ttr, 4).alias("type_token_ratio"),
        F.round(ttr * (alpha / n_chars), 4).alias("quality_score"),
    )


def q_text_quality_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    # extended quality features (brief: length/PUNCT/STOPWORD ratios):
    # punctuation share, uppercase share, english-stopword token share —
    # all codegen expressions, no Python
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    punct = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", ""))
    upper = F.length(F.regexp_replace(F.col("text"), "[^A-Z]", ""))
    sw = F.array(*[F.lit(w) for w in
                   ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it")])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        F.round(punct / n_chars, 4).alias("punct_ratio"),
        F.round(upper / n_chars, 4).alias("upper_ratio"),
        F.round(n_stop / n_tokens, 4).alias("stopword_ratio"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring(F.sha2(F.col("text").cast("binary"), 256), 1, 16).alias("fingerprint"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = docs.select(
        F.col("doc_id").alias("tid"),
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    sizes = toks.groupBy("tid").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.token") == F.col("b.token")) & (F.col("a.tid") < F.col("b.tid")),
        )
        .groupBy(F.col("a.tid").alias("id_a"), F.col("b.tid").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("tid").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("tid").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 4),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("id_a", "id_b", "jaccard")
    )


def q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.count(F.when(F.col("lang") == "en", 1)) / F.count(F.lit(1)), 4).alias(
            "en_share"
        ),
        F.countDistinct("lang").alias("n_langs"),
    )


# -- rows-only (no SQL oracle): LSH / simhash / language ID / s2g ------------

_ORACLE_MAX_DOCS = 2000  # staged dedup oracles are O(n^2): gate scales only


def _docs_for_oracle(sf_dir: str):
    """(ids, texts) if the documents table is gate-sized, else None — the
    driver gates at sf0.01 (500 docs); bench runs at sf0.1 (5000 docs) where
    the all-pairs staging would pollute lane timings and nothing reads the
    dump (bench times queries, the gate compares oracles)."""
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    if t.num_rows > _ORACLE_MAX_DOCS:
        return None
    pdf = t.to_pandas()
    return pdf["doc_id"].tolist(), [
        x if isinstance(x, str) else "" for x in pdf["text"]
    ]


def _stage_minhash_oracle(sf_dir: str) -> None:
    import numpy as _np2

    from dads_spark.oracles import minhash_pairs_oracle

    got = _docs_for_oracle(sf_dir)
    if got is None:
        return
    pairs = minhash_pairs_oracle(*got, num_hashes=64, threshold=0.8)
    _write_dump(
        "minhash_oracle",
        {
            "id_a": _np2.array([p[0] for p in pairs], dtype=_np2.int64),
            "id_b": _np2.array([p[1] for p in pairs], dtype=_np2.int64),
            "est_jaccard": _np2.array([p[2] for p in pairs], dtype=_np2.float64),
        },
    )


def _stage_simhash_oracle(sf_dir: str) -> None:
    import numpy as _np2

    from dads_spark.oracles import simhash_pairs_oracle

    got = _docs_for_oracle(sf_dir)
    if got is None:
        return
    pairs = simhash_pairs_oracle(*got, max_hamming=3)
    _write_dump(
        "simhash_pairs_oracle",
        {
            "id_a": _np2.array([p[0] for p in pairs], dtype=_np2.int64),
            "id_b": _np2.array([p[1] for p in pairs], dtype=_np2.int64),
            "hamming": _np2.array([p[2] for p in pairs], dtype=_np2.int64),
        },
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs. Driver-hash-gated (r3) against
    the DIRECT all-pairs definition (dads_spark/oracles.py, scalar FNV +
    exact integer permutations) — lossless-banding pigeonhole makes the
    two formulations identical, so the hash pins the whole
    shingle->signature->band->bucket->verify pipeline."""
    docs = _t(spark, sf_dir, "documents")
    _stage_minhash_oracle(sf_dir)
    return minhash_lsh_pairs(docs, threshold=0.8).select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc 64-bit SimHash values, driver-hash-gated (r3) against the
    # scalar per-bit-vote oracle — exact integers by construction
    docs = _t(spark, sf_dir, "documents")
    got = _docs_for_oracle(sf_dir)
    if got is not None:
        import numpy as _np2

        from dads_spark.oracles import simhash_oracle

        cache: dict = {}
        _write_dump(
            "simhash_oracle",
            {
                "doc_id": _np2.array([int(i) for i in got[0]], dtype=_np2.int64),
                "simhash": _np2.array(
                    [simhash_oracle(t, cache) for t in got[1]], dtype=_np2.int64
                ),
            },
        )
    return simhash64(docs)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rabin-Karp rolling hash + winnowing. Driver-hash-gated (r3) against a
    # staged all-scalar Horner-rolling-hash recomputation (different
    # construction, identical values by mod-2^64 ring arithmetic) — the
    # exact fingerprint sets are pinned, not just the row count.
    from dads_spark.ops import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    _stage_winnow_oracle(sf_dir)
    return winnow_fingerprints(docs)


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Manku-style pigeonhole banding over the 64-bit simhash. Driver-hash-
    # gated (r3) against the direct all-pairs popcount definition (the
    # 4x16-bit banding is lossless at max_hamming=3) — integer output, so
    # the pin is exact by construction.
    from dads_spark.ops import simhash_near_pairs

    docs = _t(spark, sf_dir, "documents")
    _stage_simhash_oracle(sf_dir)
    return simhash_near_pairs(docs, max_hamming=3)


def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational SimHash with an md5 token hash — fully oracle-checkable:
    tokens x 64 bit positions exploded to rows, per-bit majority vote,
    word reassembled as (hi, lo) 32-bit halves. Both engines evaluate the
    same bit arithmetic on the same md5 hex, so the 64-bit fingerprint
    hash-matches exactly (the production ``simhash`` op uses the faster
    vectorized FNV kernel; this query pins the semantics cross-engine)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    tb = toks.select(
        "doc_id",
        F.md5("token").alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
    )
    bit = F.expr(
        "((instr('0123456789abcdef', substr(h, CAST(b / 4 AS INT) + 1, 1)) - 1)"
        " >> CAST(b % 4 AS INT)) & 1"
    )
    votes = tb.select("doc_id", "b", bit.alias("bit")).groupBy("doc_id", "b").agg(
        F.sum(F.col("bit") * 2 - 1).alias("vote")
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.expr(
                "CASE WHEN vote > 0 AND b >= 32"
                " THEN shiftleft(CAST(1 AS BIGINT), CAST(b - 32 AS INT)) ELSE 0 END"
            )
        ).alias("simhash_hi"),
        F.sum(
            F.expr(
                "CASE WHEN vote > 0 AND b < 32"
                " THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT)) ELSE 0 END"
            )
        ).alias("simhash_lo"),
    )


import numpy as _np
import pandas as pd  # module-level: pandas_udf type hints must resolve here

# shared literal constants for the relational MinHash oracle pair: the SAME
# numbers are inlined into the Spark expressions and the DuckDB SQL
_MH_P = (1 << 31) - 1
_MH_K = 16
_mh_rng = _np.random.default_rng(7)
_MH_A = [int(v) for v in _mh_rng.integers(1, _MH_P, _MH_K)]
_MH_B = [int(v) for v in _mh_rng.integers(0, _MH_P, _MH_K)]
# 28-bit token hash from the first 7 md5 nibbles (keeps a*x+b under 2^59)
_MH_X = " + ".join(
    f"(({{fn}}('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {1 << (4 * i)})"
    for i in range(7)
)


def q_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational MinHash signatures with md5 token hashing — the oracle
    twin evaluates the identical (a*x + b) mod p permutation family in
    DuckDB, pinning MinHash semantics cross-engine. Output: one row per
    (doc, permutation): (doc_id, k, mh). The production ``minhash_lsh`` op
    keeps the vectorized FNV kernel + banded LSH."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    x = F.expr(f"CAST({_MH_X.format(fn='instr')} AS BIGINT)")
    a_arr = "array(" + ", ".join(str(v) + "L" for v in _MH_A) + ")"
    b_arr = "array(" + ", ".join(str(v) + "L" for v in _MH_B) + ")"
    tk = toks.select(
        "doc_id", F.md5("token").alias("h")
    ).withColumn("x", x).select(
        "doc_id", "x", F.explode(F.sequence(F.lit(0), F.lit(_MH_K - 1))).alias("k")
    )
    perm = F.expr(
        f"(element_at({a_arr}, k + 1) * x + element_at({b_arr}, k + 1)) % {_MH_P}"
    )
    return tk.groupBy("doc_id", "k").agg(F.min(perm).alias("mh"))


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "pred_lang", F.round("confidence", 4).alias("confidence"))


# ---------------------------------------------------------------------------
# embeddings: similarity search
# ---------------------------------------------------------------------------

_KNN_QUERIES = [0, 1, 2, 3, 4]


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-label embedding centroid: posexplode -> (label, dim) mean — the
    # vector-aggregation shape every training pipeline needs; at scale this
    # is one shuffle of (label, dim) partial sums, never whole vectors
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v")
    )
    return dims.groupBy("label", "dim").agg(
        F.round(F.avg("v"), 5).alias("centroid_v"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


def q_lag_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lead/lag window coverage: per-user event-to-event value delta
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 100)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta_prev"),
        F.round(F.lead("value").over(w) - F.col("value"), 4).alias("delta_next"),
    )


def q_rollup_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GROUP BY ROLLUP (hierarchical subtotals), complementing cube_pricing
    orders = _t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return knn_bruteforce(emb, _KNN_QUERIES, k=10)


def q_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # embedding-cosine near-duplicate pairs: norms precomputed per vector
    # BEFORE the pair join (n rows, not n^2), dot product via zip_with +
    # aggregate (JVM-side, no Python)
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select(
        F.col("vec_id").alias("vid"),
        v.alias("v"),
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("norm"),
    )
    a = e.select(
        F.col("vid").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = e.select(
        F.col("vid").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        pairs.withColumn(
            "cosine", F.round(dot / (F.col("na") * F.col("nb")), 6)
        )
        .filter(F.col("cosine") >= 0.35)
        .select("id_a", "id_b", "cosine")
    )


def _stage_ann_ivf_oracle(sf_dir: str) -> None:
    import numpy as _np2
    import pyarrow.parquet as _pq

    from dads_spark.oracles import ann_ivf_oracle

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    if t.num_rows > _ORACLE_MAX_DOCS:  # gate scales only (see _docs_for_oracle)
        return
    pdf = t.to_pandas()
    rows = ann_ivf_oracle(
        pdf["vec_id"].to_numpy(),
        _np2.array(list(pdf["embedding"]), dtype=_np2.float64),
        _KNN_QUERIES,
        k=10,
        n_cells=16,
        n_probe=6,
    )
    _write_dump(
        "ann_ivf_oracle",
        {
            "query_id": _np2.array([r[0] for r in rows], dtype=_np2.int64),
            "neighbor_id": _np2.array([r[1] for r in rows], dtype=_np2.int64),
            "rank": _np2.array([r[2] for r in rows], dtype=_np2.int64),
            "cosine": _np2.array([r[3] for r in rows], dtype=_np2.float64),
        },
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF coarse-quantizer ANN. Driver-hash-gated (r3) against a single-
    # threaded local mirror of the full pipeline (stratum-sampled seeded
    # k-means, probe mask, cosine, HALF_UP-6dp ranking) — pins the
    # distributed path: Arrow batching, tie-safe per-batch pruning, window
    # ranking. Approximation quality is pinned by full-probe==exact tests.
    # At warehouse scale the cell id becomes a bucket column so a probe
    # reads n_probe/n_cells of the data via partition pruning.
    from dads_spark.ops import ann_ivf

    emb = _t(spark, sf_dir, "embeddings")
    _stage_ann_ivf_oracle(sf_dir)
    return ann_ivf(emb, _KNN_QUERIES, k=10, n_cells=16, n_probe=6)


def _stage_ann_pq_oracle(sf_dir: str, books) -> None:
    import numpy as _np2
    import pyarrow.parquet as _pq

    from dads_spark.oracles import pq_topk_oracle

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    if t.num_rows > _ORACLE_MAX_DOCS:  # gate scales only
        return
    pdf = t.to_pandas()
    ids = pdf["vec_id"].to_numpy()
    vecs = _np2.array(list(pdf["embedding"]), dtype=_np2.float64)
    sel = _np2.isin(ids, _KNN_QUERIES)
    rows = pq_topk_oracle(ids, vecs, books, ids[sel], vecs[sel], k=10)
    _write_dump(
        "ann_pq_oracle",
        {
            "query_id": _np2.array([r[0] for r in rows], dtype=_np2.int64),
            "neighbor_id": _np2.array([r[1] for r in rows], dtype=_np2.int64),
            "rank": _np2.array([r[2] for r in rows], dtype=_np2.int64),
            "score_q6": _np2.array([r[3] for r in rows], dtype=_np2.int64),
        },
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (ops/quantize.py): the corpus is encoded to
    8-byte PQ codes (one mapInArrow, materialize-once), queries scan the
    CODES table via ADC lookup tables with per-batch partial top-k.
    Driver-hash-gated against the scalar textbook encode+ADC loops in
    oracles.py (pq_topk_oracle) — same codebooks, bitwise accumulation
    orders, integer 6dp-quantized scores."""
    import numpy as _np2

    from dads_spark.ops.quantize import ann_pq_adc, pq_encode, train_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb)
    qrows = (
        emb.filter(F.col("vec_id").isin(_KNN_QUERIES))
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = _np2.array([r["vec_id"] for r in qrows], dtype=_np2.int64)
    q_mat = _np2.array([r["embedding"] for r in qrows], dtype=_np2.float64)
    codes = pq_encode(emb, books)
    out = ann_pq_adc(codes, books, q_ids, q_mat, k=10)
    _stage_ann_pq_oracle(sf_dir, books)
    # score_q6 now comes straight from the operator (the ranking key
    # itself) — no second quantization layer (round-4 ADVICE fix)
    return out.select("query_id", "neighbor_id", "rank", "score_q6")


def _stage_ann_ivf_pq_oracle(sf_dir: str, cent, books, n_probe: int) -> None:
    import numpy as _np2
    import pyarrow.parquet as _pq

    from dads_spark.oracles import pq_ivf_oracle

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    if t.num_rows > _ORACLE_MAX_DOCS:
        return
    pdf = t.to_pandas()
    rows = pq_ivf_oracle(
        pdf["vec_id"].to_numpy(),
        _np2.array(list(pdf["embedding"]), dtype=_np2.float64),
        cent,
        books,
        _KNN_QUERIES,
        k=10,
        n_probe=n_probe,
    )
    _write_dump(
        "ann_ivf_pq_oracle",
        {
            "query_id": _np2.array([r[0] for r in rows], dtype=_np2.int64),
            "neighbor_id": _np2.array([r[1] for r in rows], dtype=_np2.int64),
            "rank": _np2.array([r[2] for r in rows], dtype=_np2.int64),
            "score_q6": _np2.array([r[3] for r in rows], dtype=_np2.int64),
        },
    )


def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (ops/quantize.py ann_ivf_pq): coarse cells
    prune (n_probe/n_cells of the corpus per query), residual PQ codes
    compress (8 bytes/vector), ADC scores in m lookups. Driver-hash-gated
    against the single-threaded whole-table mirror (pq_ivf_oracle) with
    the same trained centroids/codebooks — bitwise accumulation orders,
    integer 6dp-quantized scores."""
    from dads_spark.ops.quantize import ann_ivf_pq, train_ivf_pq

    emb = _t(spark, sf_dir, "embeddings")
    cent, books = train_ivf_pq(emb)
    out = ann_ivf_pq(emb, _KNN_QUERIES, k=10, n_probe=6, model=(cent, books))
    _stage_ann_ivf_pq_oracle(sf_dir, cent, books, n_probe=6)
    # score_q6 comes straight from the operator's ranking key (r4 fix)
    return out.select("query_id", "neighbor_id", "rank", "score_q6")


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded spherical k-means cluster assignment over the embeddings
    table — the data-curation clustering pass (topic bucketing / diversity
    quotas). Driver-hash-gated against the local mirror; the trainer is the
    IVF coarse quantizer's, the assignment one mapInArrow scan."""
    from dads_spark.ops import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    if t.num_rows <= _ORACLE_MAX_DOCS:
        import numpy as _np2

        from dads_spark.oracles import kmeans_assign_oracle

        pdf = t.to_pandas()
        rows = kmeans_assign_oracle(
            pdf["vec_id"].to_numpy(),
            _np2.array(list(pdf["embedding"]), dtype=_np2.float64),
            n_clusters=8,
        )
        _write_dump(
            "kmeans_oracle",
            {
                "vec_id": _np2.array([r[0] for r in rows], dtype=_np2.int64),
                "cluster": _np2.array([r[1] for r in rows], dtype=_np2.int64),
                "sim_q6": _np2.array([r[2] for r in rows], dtype=_np2.int64),
            },
        )
    return kmeans_assign(emb, n_clusters=8)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket count must track corpus size: ~2^planes buckets per band; the
    # test corpora are small, so few planes + more bands keeps recall high.
    # Driver-hash-gated (r3) against the local mirror in dads_spark/oracles.
    emb = _t(spark, sf_dir, "embeddings")
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    if t.num_rows <= _ORACLE_MAX_DOCS:
        import numpy as _np2

        from dads_spark.oracles import ann_lsh_oracle

        pdf = t.to_pandas()
        rows = ann_lsh_oracle(
            pdf["vec_id"].to_numpy(),
            _np2.array(list(pdf["embedding"]), dtype=_np2.float64),
            _KNN_QUERIES,
            k=10,
            n_planes=6,
            n_bands=8,
        )
        _write_dump(
            "ann_lsh_oracle",
            {
                "query_id": _np2.array([r[0] for r in rows], dtype=_np2.int64),
                "neighbor_id": _np2.array([r[1] for r in rows], dtype=_np2.int64),
                "rank": _np2.array([r[2] for r in rows], dtype=_np2.int64),
                "cosine": _np2.array([r[3] for r in rows], dtype=_np2.float64),
            },
        )
    return ann_lsh(emb, _KNN_QUERIES, k=10, n_planes=6, n_bands=8)


_BM25_TERMS = ["the", "data", "with"]
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query-term set, fully relational
    (explode -> tf/df/dl aggregates -> joined closed-form score): the
    retrieval-scoring shape every text pipeline needs, one shuffle per
    aggregate, no Python. idf = ln((N-df+0.5)/(df+0.5)+1) (the
    non-negative Robertson/Sparck-Jones variant), k1=1.2, b=0.75."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).alias("n_docs")
    )
    tf = (
        toks.filter(F.col("term").isin(_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "s",
            idf
            * (F.col("tf") * (_BM25_K1 + 1))
            / (
                F.col("tf")
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.round(F.sum("s"), 4).alias("bm25"), F.count(F.lit(1)).alias("n_terms_hit")
    )
    return (
        ranked.orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.col("bm25").desc(), "doc_id")),
        )
        .select("rank", "doc_id", "bm25", "n_terms_hit")
    )


def _stage_dsir_quanta(sf_dir: str, n_buckets: int = 256, alpha: float = 0.5) -> str:
    """Independent Spark-free recomputation of the DSIR bucket quanta:
    pyarrow + hashlib + math.log only. Re-derives the target/raw bucket
    counters from documents.parquet and quantizes the Laplace-smoothed
    log-ratio to integer micro-nats — the one float step of the lane.
    Both the lane and this oracle evaluate ln() in CPython's libm on
    identical rational doubles, so the quanta (and therefore the exact
    integer doc weights) can never diverge at a rounding boundary the
    way two engines' ln() implementations can. DuckDB keeps the whole
    relational half (tokenize, bucket, count, join, sum, top-n)."""
    import hashlib as _hashlib
    import math as _math

    import pyarrow.parquet as _pq

    tbl = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["lang", "text"])
    ct = [0] * n_buckets
    cr = [0] * n_buckets
    bucket_of: dict[str, int] = {}
    for lang, text in zip(tbl["lang"].to_pylist(), tbl["text"].to_pylist()):
        t = 1 if lang == "en" else 0
        for w in text.split(" "):
            b = bucket_of.get(w)
            if b is None:
                b = int(_hashlib.md5(w.encode()).hexdigest()[:13], 16) % n_buckets
                bucket_of[w] = b
            ct[b] += t
            cr[b] += 1
    tt, tr = sum(ct), sum(cr)
    bs, lrs = [], []
    for b in range(n_buckets):
        if cr[b] == 0:
            continue  # unpopulated buckets never join
        x = _math.log((ct[b] + alpha) / (tt + alpha * n_buckets)) - _math.log(
            (cr[b] + alpha) / (tr + alpha * n_buckets)
        )
        bs.append(b)
        lrs.append(int(_math.floor(x * 1e6 + 0.5)))
    return _write_dump("dsir_quanta_oracle", {"b": bs, "lr": lrs})


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (ops/sampling.py dsir_importance):
    hashed-unigram log-ratio weights of the lang='en' target slice vs
    the raw corpus, exact integer micro-nat sums, top-150 selection.
    The classifier-free way to skew a crawl toward an in-domain slice.
    Stages the independently-recomputed bucket-quanta dump for the
    oracle (see _stage_dsir_quanta)."""
    from dads_spark.ops import dsir_importance

    _stage_dsir_quanta(sf_dir)
    docs = _t(spark, sf_dir, "documents")
    return dsir_importance(
        docs, F.col("lang") == "en", n_buckets=256, alpha=0.5, top_n=150
    )


def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window multi-burn-rate SLO alerting (rollup/slo.py
    slo_burn_rates, the SRE-workbook page/ticket rule pair): events
    shard to 8 services, error budget 2%, burn rates at 5m/30m/1h/6h
    over 5-minute grains; page fires when 1h AND 5m both burn >14.4,
    ticket when 6h AND 30m both burn >6. One fact-table pass + one
    service-keyed window exchange shared by all four RANGE frames."""
    from dads_spark.rollup import slo_burn_rates

    ev = _t(spark, sf_dir, "events")
    return slo_burn_rates(
        ev.withColumn("service", F.col("user_id") % 8),
        "service",
        "ts",
        F.col("event_type") == "error",
        budget=0.02,
    )


def q_late_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalidation-based continuous-aggregate refresh (rollup/refresh.py
    invalidate_and_refresh): a stale hour tier built without a
    deterministic 1/8 md5 slice of events ("late" arrivals) is refreshed
    by recomputing ONLY the (event_type, hour) buckets the late rows
    touch — broadcast semi-join pruned rescan + broadcast anti-join
    splice. The oracle is the PLAIN full-rebuild hour rollup with the
    invalidation flag derived relationally: hash equality proves
    incremental maintenance == rebuild, bucket for bucket, bit for bit
    (all-integer metrics over user_id)."""
    from dads_spark.rollup import invalidate_and_refresh, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    is_late = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 13), 16, 10
        ).cast("long")
        % 8
        == 0
    )
    stale = rollup_from_raw(ev.filter(~is_late), ["event_type"], "ts", "user_id")
    out = invalidate_and_refresh(
        stale, ev, ev.filter(is_late), ["event_type"], "ts", "user_id"
    )
    return out.select(
        "event_type",
        _fmt_bucket(),
        "doc_count",
        "value_sum",
        "value_min",
        "value_max",
        "refreshed",
    )


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental dedup (ops/bloom.py bloom_dedup): the
    prior snapshot is docs with doc_id % 3 != 0, today's crawl is every
    doc; a 4096-bit / 3-probe filter over the prior texts is broadcast
    and probed map-side. Small m deliberately leaves measurable fill so
    the false_positive status is exercised, and the audit arm classifies
    each row exactly. All-integer double hashing from disjoint md5
    slices — the oracle rebuilds the filter relationally as the distinct
    set-bit position table."""
    from dads_spark.ops import bloom_dedup

    docs = _t(spark, sf_dir, "documents")
    return bloom_dedup(
        docs,
        docs.filter(F.col("doc_id") % 3 != 0),
        key_col="text",
        id_col="doc_id",
        m_bits=4096,
        k=3,
    )


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS over the same deterministic synthetic crawl graph
    the pagerank lane extracts (ops/linkgraph.py hits): 3 unnormalized
    power-iteration rounds from hub=1, so scores are EXACT BIGINTs
    (per-round normalization only rescales — rankings identical) and the
    oracle is 3 unrolled integer join/aggregate rounds in SQL. The .org
    hosts have no out-edges, pinning the hub-0 boundary."""
    from dads_spark.ops import domain_edges, extract_links, hits

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">l</a> <a href=\'http://h'),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>m</a></p>"),
        ).alias("html"),
    )
    links = extract_links(pages, "html", "doc_id", keep=("src_domain",))
    edges = domain_edges(links, "src_domain", "link_url")
    return hits(edges, iterations=3)


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation (ops/linkgraph.py anchor_terms): top-5
    anchor terms per TARGET domain — the off-page relevance signal.
    Deterministic synthetic crawl html: each doc links to two derived
    domains with anchor text drawn from the doc's own words, so term
    counts are corpus-dependent, not constant. One codegen corpus pass
    (regex pair-extract + explodes), one (domain, term) count shuffle,
    rank windows over the counted table only."""
    from dads_spark.ops import anchor_terms

    docs = _t(spark, sf_dir, "documents")
    w = lambda i: F.split_part(F.col("text"), F.lit(" "), F.lit(i))  # noqa: E731
    pages = docs.select(
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">'),
            w(1),
            F.lit(" "),
            w(2),
            F.lit("</a><i>x</i><a href='http://h"),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>"),
            w(3),
            F.lit("</a></p>"),
        ).alias("html")
    )
    return anchor_terms(pages, "html", top_k=5)


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval via reciprocal-rank fusion (ops/
    similarity.py rrf_fuse): arm 1 is the BM25 top-50 for the fixed
    query terms, arm 2 the embedding-cosine top-50 vs vec 0's embedding
    (JVM zip_with/aggregate fold, rank on the sign-floor q6 cosine so
    ordering is engine-independent). Fusion is exact integer nano-unit
    arithmetic over the two skinny ranked lists — the corpora never
    enter the fusion. The standard no-calibration way to combine the
    two retrieval stacks this engine already certifies separately."""
    from dads_spark.ops import rrf_fuse

    lexical = q_bm25_rank(spark, sf_dir).select("doc_id", "rank")

    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    e = emb.select(F.col("vec_id").alias("doc_id"), v.alias("v"))
    q = e.filter(F.col("doc_id") == 0).select(F.col("v").alias("qv"))
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    cos = dot / (F.sqrt(sq("v")) * F.sqrt(sq("qv")))
    q6 = (
        F.when(cos >= 0, F.floor(cos * 1e6 + F.lit(0.5)))
        .otherwise(-F.floor(-cos * 1e6 + F.lit(0.5)))
        .cast("long")
    )
    dense = (
        e.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("doc_id", q6.alias("_q6"))
        .orderBy(F.col("_q6").desc(), "doc_id")
        .limit(50)
        .withColumn(
            "rank", F.row_number().over(W.orderBy(F.col("_q6").desc(), "doc_id"))
        )
        .select("doc_id", "rank")
    )
    return rrf_fuse([lexical, dense], "doc_id", "rank", k=60, top_n=20)


def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing, gate-visible: payloads are
    synthesized deterministically from the documents table (text bytes with
    a magic prefix by doc_id so every mime branch fires), then the JVM
    metadata sniffer AND the pandas frame-sampling stage both run; the
    oracle recomputes byte lengths, mime branches, and the sampled-frame
    count arithmetic in SQL. Codec decode itself stays stubbed (no media
    libs in env) — this pins everything around it."""
    from dads_spark.ops import attach_media_metadata, sample_frames

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    jpeg = F.lit(bytes.fromhex("FFD8FFE0"))
    png = F.lit(bytes.fromhex("89504E47"))
    payload = (
        F.when(F.col("doc_id") % 3 == 0, F.concat(jpeg, F.col("text").cast("binary")))
        .when(F.col("doc_id") % 3 == 1, F.concat(png, F.col("text").cast("binary")))
        .otherwise(F.col("text").cast("binary"))
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    meta = attach_media_metadata(media).select("media_id", "n_bytes", "sniffed_mime")
    frames = (
        sample_frames(media, every_n=10, fake=True)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n_sampled_frames"))
    )
    return meta.join(frames, "media_id").select(
        F.col("media_id").alias("doc_id"), "n_bytes", "sniffed_mime", "n_sampled_frames"
    )


def q_window_frames_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ranking-function + RANGE-frame coverage: dense_rank / percent_rank /
    # ntile over order value, plus a RANGE BETWEEN frame keyed on the
    # order date (peers with equal dates aggregate together)
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 30)
    w = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wd = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        .rangeBetween(W.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.sum("o_totalprice").over(wd), 2).alias("range_running_total"),
    )


def q_array_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ordered array aggregation: per customer, the sorted list of order
    # keys + its size (collect_list is unordered in Spark, so both engines
    # sort the assembled array — the deterministic formulation). The array
    # is emitted as a ','-joined string: the driver's canonicalizer sorts
    # result columns with pandas, which cannot hash list cells (the r2
    # lesson — the only red row in CORRECTNESS_r02), so the ordered-agg
    # semantics are pinned through a hashable column.
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    return orders.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_list("o_orderkey")), ",").alias(
            "order_keys"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates (HyperLogLog++ distinct count, quantile
    sketch) side by side with their exact counterparts. Rows-only in the
    driver gate (sketch values are engine-specific by construction); the
    accuracy contract |approx-exact|/exact <= 5*rsd is pytest-asserted
    (tests/test_entry_compare.py::test_approx_aggregates_error_bounds)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 4).alias("approx_p50"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("exact_p50"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined aggregate surface: a grouped-agg pandas UDAF (Arrow
    batch -> scalar per group) computing exp(mean(log1p(|value|))) per
    event type; the oracle evaluates the same closed form in SQL — hash
    equality pins the UDAF path end to end."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log1p(np.abs(v.to_numpy())).mean()))

    # grouped-agg pandas UDFs can't mix with JVM aggregates in one agg();
    # the row count comes from a broadcast-joined plain aggregation
    ev = _t(spark, sf_dir, "events")
    gm = ev.groupBy("event_type").agg(F.round(geomean("value"), 6).alias("geomean_1p"))
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return gm.join(F.broadcast(counts), "event_type")


# ---------------------------------------------------------------------------
# retention / downsample / smoothing (north-rule named features)
# ---------------------------------------------------------------------------

def q_tier_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate incremental refresh: the events table is split
    80/20 by event_id; the hour tier built from the 80% is refreshed with
    the 20% delta WITHOUT rescanning it. The oracle is the FULL-table hour
    rollup SQL — hash equality proves incremental == from-scratch."""
    from dads_spark.rollup import incremental_refresh

    ev = _t(spark, sf_dir, "events")
    old = ev.filter(F.col("event_id") % 5 != 0)
    new = ev.filter(F.col("event_id") % 5 == 0)
    existing = rollup_from_raw(old, ["event_type"], "ts", "value", "hour")
    refreshed = incremental_refresh(existing, new, ["event_type"], "ts", "value", "hour")
    return refreshed.select(
        "event_type",
        _fmt_bucket(),
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )


def q_gapfill_hour_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LOCF gap-fill twin of gapfill_hour_linear (last observation carried
    # forward), oracle via last_value IGNORE NULLS
    from dads_spark.rollup import gap_fill_locf

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", bucket_expr("ts", "hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    filled = gap_fill_locf(hourly, ["event_type"], "bucket_ts", ["v"], 3600)
    return filled.select(
        "event_type", _fmt_bucket(), F.round("v", 4).alias("v"), "gap_filled"
    )


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful Structured-Streaming sessionization
    (``applyInPandasWithState``, event-time timeout) over a bounded backlog
    of the events table; a far-future sentinel row advances the watermark
    so every real session closes and is emitted. The oracle is the BATCH
    sessionize SQL — hash equality proves the incremental state machine
    computes the same sessions as the window-sum formulation."""
    import hashlib as _hl

    from dads_spark.streaming import run_sessionize_stream

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    src = _stage_sessionize_src(spark, sf_dir)
    qname = f"q_sess_{_hl.sha1(sf_dir.encode()).hexdigest()[:8]}"
    out = run_sessionize_stream(spark, src, ev.schema, query_name=qname)
    return out.filter(F.col("user_id") < 1_000_000_000).select(
        "user_id",
        "session_id",
        "n_events",
        "duration_us",
        F.round("value_sum", 2).alias("value_sum"),
    )


def q_streaming_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming online anomaly (streaming/stateful.py
    streaming_zscore): each event scored against all PRIOR events of its
    type via the all-integer rearrangement (n*x - s)^2 > k^2(n*q - s^2)
    of the z-score test — Welford state without the division, three
    longs per key, zero float surface. The oracle is the batch running-
    window-sum formulation; hash equality proves the incremental state
    machine is bit-identical to the batch recurrence (the second
    applyInPandasWithState operator beside sessionize/SCD2)."""
    import hashlib as _hl

    from dads_spark.streaming import run_zscore_stream

    src = _events_stream_src(spark, sf_dir)
    schema = _t(spark, sf_dir, "events").schema
    qname = f"q_zs_{_hl.sha1(sf_dir.encode()).hexdigest()[:8]}"
    return run_zscore_stream(spark, src, schema, query_name=qname)


def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming CUSUM drift alarms (streaming/stateful.py
    streaming_cusum): baseline sigma enters only as r = isqrt(B*Q - S^2)
    — exact integer — and the reset-free recurrence is evaluated through
    the prefix identity s_t = P_t - min(0, min_j P_j), so the incremental
    state machine is bit-identical to a plain SQL window (cumsum +
    running min). Fourth applyInPandasWithState operator beside
    sessionize/SCD2/z-score."""
    import hashlib as _hl

    from dads_spark.streaming import run_cusum_stream

    src = _events_stream_src(spark, sf_dir)
    schema = _t(spark, sf_dir, "events").schema
    qname = f"q_cu_{_hl.sha1(sf_dir.encode()).hexdigest()[:8]}"
    return run_cusum_stream(spark, src, schema, query_name=qname)


def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream INNER join: the purchases stream joined to
    the clicks stream on user + event-time range (click strictly within the
    hour before the purchase). Both sides carry watermarks so Spark bounds
    the join state; inner matches emit eagerly, so a bounded backlog yields
    exactly the batch join — the oracle is the equivalent batch range-join
    SQL."""
    import hashlib as _hl

    # reuse the SAME staged events copy as the streaming rollup lane — the
    # purchases/clicks split is a filter on the stream, not a reason to
    # rewrite the source (the r2 lane spent its wall on an in-lane staging
    # write + /tmp litter)
    src = _events_stream_src(spark, sf_dir)
    schema = _t(spark, sf_dir, "events").schema
    purchases = (
        spark.readStream.schema(schema).format("parquet").load(src)
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
    )
    clicks = (
        spark.readStream.schema(schema).format("parquet").load(src)
        .select("event_id", "user_id", "ts", "event_type")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"
        ),
    )
    qname = f"q_ssj_{_hl.sha1(sf_dir.encode()).hexdigest()[:8]}"
    # a stream-stream join keeps FOUR state stores, each paying one task
    # per state partition per micro-batch — size state partitions to the
    # bounded backlog (32 -> 15.7 s wall, 8 -> 4.4 s, identical rows), and
    # skip the trailing no-data cleanup batch (inner joins emit eagerly;
    # ~3.5 s of pure state-store passes, zero output rows)
    from dads_spark.streaming import sized_state_partitions

    with sized_state_partitions(spark, 8, no_data_batches=False):
        q = (
            joined.select("purchase_id", "click_id")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.sql(f"SELECT purchase_id, click_id FROM {qname}")


def q_streaming_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT-OUTER join: purchases with no
    click in the preceding hour emit a null row once the watermark
    proves no match can arrive. Inner matches emit eagerly (pinned
    equal to the batch range join); null emission is gated by state
    cleanup, so the trailing no-data micro-batch is REQUIRED here
    (contrast the inner lane, which skips it) and the batch oracle
    mirrors the cutoff exactly: unmatched purchases with
    p_ts < min(max p_ts, max c_ts) - 2h (the final global watermark —
    the min across both sides' watermark operators)."""
    import hashlib as _hl

    src = _events_stream_src(spark, sf_dir)
    schema = _t(spark, sf_dir, "events").schema

    def _side(et: str, prefix: str):
        return (
            spark.readStream.schema(schema).format("parquet").load(src)
            .select("event_id", "user_id", "ts", "event_type")
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_type") == et)
            .withWatermark("ts", "2 hours")
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
        )

    joined = _side("purchase", "p").join(
        _side("click", "c"),
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR"
            " AND c_ts < p_ts"
        ),
        "leftOuter",
    )
    qname = f"q_slj_{_hl.sha1(sf_dir.encode()).hexdigest()[:8]}"
    from dads_spark.streaming import sized_state_partitions

    with sized_state_partitions(spark, 8, no_data_batches=True):
        q = (
            joined.select("p_id", "c_id")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.sql(f"SELECT p_id, c_id FROM {qname}")


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static ENRICHMENT join — the canonical dimension-lookup
    shape: the events stream broadcast-joined to the static nation dim
    (user_id % 25 as the foreign key), rolled up per region in
    complete mode. Completes the streaming join matrix (stream-stream
    inner + left-outer, stream-static). The static side never holds
    state — Spark re-plans it per micro-batch as an ordinary broadcast
    hash join; the oracle is the identical batch SQL (exact longs)."""
    import hashlib as _hl

    src = _events_stream_src(spark, sf_dir)
    schema = _t(spark, sf_dir, "events").schema
    dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("nk"),
        F.col("n_regionkey").cast("long").alias("region"),
    )
    stream = (
        spark.readStream.schema(schema).format("parquet").load(src)
        .select(
            (F.col("user_id") % 25).cast("long").alias("nk"),
            F.col("user_id").cast("long").alias("uid"),
        )
        .join(F.broadcast(dim), "nk")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("uid").alias("uid_sum"),
        )
    )
    qname = f"q_senr_{_hl.sha1(sf_dir.encode()).hexdigest()[:8]}"
    from dads_spark.streaming import sized_state_partitions

    with sized_state_partitions(spark, 8, no_data_batches=False):
        q = (
            stream.writeStream.outputMode("complete")
            .format("memory")
            .queryName(qname)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    return spark.sql(
        f"SELECT region, n_events, uid_sum FROM {qname}"
    )


def q_retention_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tier retention enforcement against the hour tier's watermark
    (hour kept 7 days, day 30 days, week forever); output = one summary row
    per tier. The oracle applies the same horizon arithmetic in SQL — hash
    equality proves the enforcement predicate (inclusive bound, shared
    watermark, epoch math) is exact."""
    from dads_spark.rollup import enforce_policy

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    day = cascade(hour, ["event_type"], "day")
    week = cascade(day, ["event_type"], "week")
    kept = enforce_policy(
        {"hour": hour, "day": day, "week": week},
        {"hour": 7 * 86_400, "day": 30 * 86_400, "week": None},
    )
    parts = []
    for tier in ("hour", "day", "week"):
        parts.append(
            kept[tier].agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("doc_count").alias("doc_total"),
                F.date_format(F.min("bucket_ts"), _TS_FMT).alias("min_bucket"),
                F.date_format(F.max("bucket_ts"), _TS_FMT).alias("max_bucket"),
            ).select(F.lit(tier).alias("tier"), "*")
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LTTB shape-preserving downsample of each type's hourly series to 100
    # points. Driver-hash-gated (r3) against the scalar textbook walk in
    # dads_spark/oracles.py staged to parquet: the kept values are exact
    # input counts, so the hash pins which points the walk selects.
    from dads_spark.rollup import lttb_downsample

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    _stage_lttb_oracle(sf_dir)
    return lttb_downsample(hourly, ["event_type"], "bucket_ts", "v", 100).select(
        "event_type", _fmt_bucket(), "v"
    )


def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EWMA smoothing + absolute residuals per hourly series. Driver-hash-
    # gated (r3) against a staged local recomputation on the bit-identical
    # count series; micro-unit quantization (not F.round) on both sides so
    # no cross-engine rounding rule is involved. Kernel-level independence
    # (explicit weighted-sum formula) is pinned in test_downsample_retention.
    from dads_spark.rollup import ewma_smooth

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    sm = ewma_smooth(hourly, ["event_type"], "bucket_ts", "v", alpha=0.3)
    _stage_ewma_oracle(sf_dir)
    return _q6_cols(
        sm.select("event_type", _fmt_bucket(), "v", "ewma", "abs_resid"),
        ["event_type", "bucket_ts", "v"],
        {"ewma": "ewma_q6", "abs_resid": "resid_q6"},
    )


# ---------------------------------------------------------------------------
# S2G anomaly pipeline over rolled-up event series (flagship, non-SQL)
# ---------------------------------------------------------------------------

def _stage_drag_oracle(sf_dir: str, m: int = 24) -> str:
    import numpy as _np2

    from dads_spark.oracles import drag_oracle, hourly_counts_gapfilled, q6

    ets, ss, es, pq_ = [], [], [], []
    for et, x in hourly_counts_gapfilled(sf_dir).items():
        for s, e, peak in drag_oracle(x, m):
            ets.append(et)
            ss.append(s)
            es.append(e)
            pq_.append(int(q6(_np2.array([peak]))[0]))
    import pyarrow as _pa

    return _write_dump(
        "drag_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "range_start": _pa.array(ss, type=_pa.int64()),
            "range_end": _pa.array(es, type=_pa.int64()),
            "peak_q6": _pa.array(pq_, type=_pa.int64()),
        },
    )


def q_drag_discords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRAG-style discord ranges (z-normalized Euclidean, candidate+refine,
    range merging) over per-type gap-filled hourly series. Driver-hash-gated
    (r3) against a brute-force z-normalization oracle that shares no
    arithmetic with the production MASS/FFT profiles — the detected ranges
    AND peak NN distances are pinned, closing the north star's 'matching
    detected discord ranges' clause with a hard signal."""
    from dads_spark.s2g.discord import discord_series_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", bucket_expr("ts", "hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    filled = gap_fill_linear(hourly, ["event_type"], "bucket_ts", ["v"], 3600)
    out = discord_series_grouped(
        filled, ["event_type"], "bucket_ts", "v", m=24, decision_quantum=1e-6
    )
    _stage_drag_oracle(sf_dir)
    return _q6_cols(
        out, ["event_type", "range_start", "range_end"], {"peak_nn_dist": "peak_q6"}
    )


def q_s2g_hourly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", bucket_expr("ts", "hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    filled = gap_fill_linear(hourly, ["event_type"], "bucket_ts", ["v"], 3600)
    return score_series_grouped(
        filled, ["event_type"], "bucket_ts", "v", S2G_ROLLUP_PARAMS
    )


def _dump_path(name: str) -> str:
    """Fixed path for a staged-oracle parquet dump (rewritten on every call
    of the owning query so it can never serve a stale sf)."""
    import os as _os

    root = _os.environ.get("DADS_STAGE_DIR", "/root/repo/.stage_cache")
    _os.makedirs(root, exist_ok=True)
    return f"{root}/{name}.parquet"


def _s2g_dump_path() -> str:
    return _dump_path("s2g_oracle_scores")


def _stage_s2g_oracle_dump(sf_dir: str) -> str:
    """Independent driver-side recomputation of the flagship's per-window
    scores — pyarrow + pandas + NumPy only, NO Spark anywhere: hourly doc
    counts per event_type, dense-grid np.interp gap-fill, then the
    bit-parity S2G kernel per series (the same formulas SURVEY §2.1 cites
    into the reference, tested byte-for-byte in test_s2g_oracle.py).
    Scores are quantized to integer micro-units with the same NumPy
    expression the Spark twin applies, so the driver's value hash pins the
    flagship's NUMBERS, not just its row count. Written to a fixed path the
    oracle SQL reads with read_parquet; rewritten on every call so it can
    never serve a stale sf."""
    import numpy as _np2
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from dads_spark.s2g import ROLLUP
    from dads_spark.s2g.oracle import s2g_oracle
    from dads_spark.s2g.pipeline import min_series_length

    path = _s2g_dump_path()
    raw = _pq.read_table(
        f"{sf_dir}/events.parquet", columns=["ts", "event_type"]
    ).to_pandas()
    sec = raw["ts"].astype("datetime64[ns]").astype("int64").to_numpy() // 10**9
    counts = (
        pd.DataFrame({"event_type": raw["event_type"], "b": (sec // 3600) * 3600})
        .groupby(["event_type", "b"])
        .size()
    )
    out_t, out_w, out_q = [], [], []
    for et in sorted(counts.index.get_level_values(0).unique()):
        s = counts.loc[et]
        ts = s.index.to_numpy(dtype=_np2.int64)
        dense = _np2.arange(ts[0], ts[-1] + 1, 3600)
        x = _np2.interp(dense, ts, s.to_numpy(dtype=_np2.float64))
        if len(x) < min_series_length(ROLLUP):
            continue
        sc = s2g_oracle(x, ROLLUP, n_slices=1).scores
        if len(sc) == 0 or not _np2.isfinite(sc).all():
            continue
        out_t.append(_np2.repeat(et, len(sc)))
        out_w.append(_np2.arange(len(sc), dtype=_np2.int64))
        out_q.append(_np2.floor(sc * 1e6 + 0.5).astype(_np2.int64))
    dump = _pa.table(
        {
            "event_type": _np2.concatenate(out_t) if out_t else _np2.array([], dtype=object),
            "window_idx": _np2.concatenate(out_w) if out_w else _np2.array([], dtype=_np2.int64),
            "q6": _np2.concatenate(out_q) if out_q else _np2.array([], dtype=_np2.int64),
        }
    )
    _pq.write_table(dump, path)
    return path


def q_s2g_score_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship S2G pipeline's per-window scores, hash-gated: every
    (event_type, window_idx) score in integer micro-units. The Spark side
    is the DISTRIBUTED pipeline (rollup -> gap-fill -> grouped S2G); the
    oracle side is a Spark-free pyarrow/NumPy recomputation staged to
    parquet by this very function (see ``_stage_s2g_oracle_dump``) — the
    driver's value hash therefore pins the flagship's numeric output
    end-to-end, upgrading ``s2g_hourly_scores`` from rows-only. Both sides
    quantize with the identical NumPy floor(x*1e6+0.5) expression on
    bit-identical doubles, so no cross-engine rounding rule is involved."""
    import numpy as _np2

    scores = q_s2g_hourly_scores(spark, sf_dir)

    def quant(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "event_type": pdf["event_type"],
                    "window_idx": pdf["window_idx"],
                    "q6": _np2.floor(pdf["score"].to_numpy() * 1e6 + 0.5).astype(
                        _np2.int64
                    ),
                }
            )

    _stage_s2g_oracle_dump(sf_dir)
    return scores.mapInPandas(quant, "event_type string, window_idx long, q6 long")


# ---------------------------------------------------------------------------
# staged independent-oracle dumps for the sequential-recurrence operators
# (LTTB / EWMA / Holt / CUSUM / matrix profile / winnowing) — the same
# technique as _stage_s2g_oracle_dump: the query entry recomputes its
# expected output with the Spark-free textbook kernels in
# dads_spark/oracles.py and stages it to parquet for the oracle SQL to
# read, upgrading each lane from rows-only to driver-hash-green. All six
# twins run on hourly COUNT series (or integer fingerprints), so the
# distributed and local assemblies are bit-identical under any
# partitioning and a local sf gate pass is a driver gate guarantee.
# ---------------------------------------------------------------------------

def _write_dump(name: str, cols: dict) -> str:
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    path = _dump_path(name)
    _pq.write_table(_pa.table(cols), path)
    return path


def _stage_lttb_oracle(sf_dir: str, n_out: int = 100) -> str:
    import numpy as _np2

    from dads_spark.oracles import fmt_bucket_sec, hourly_counts, lttb_oracle_indices

    ets, bs, vs = [], [], []
    for et, (b, v) in hourly_counts(sf_dir).items():
        # the Spark kernel sees t as datetime64[ns] -> int64 nanoseconds ->
        # float64; replicate the exact conversion chain (sec*1e9 overflows
        # float64's integer range, so the int64->float64 rounding must match)
        t = (b * 10**9).astype(_np2.float64)
        idx = lttb_oracle_indices(t, v, n_out)
        ets.extend([et] * len(idx))
        bs.extend(fmt_bucket_sec(b[idx]))
        vs.extend(v[idx].tolist())
    return _write_dump(
        "lttb_oracle",
        {"event_type": ets, "bucket_ts": bs, "v": _np2.array(vs, dtype=_np2.float64)},
    )


def _stage_ewma_oracle(sf_dir: str, alpha: float = 0.3) -> str:
    import numpy as _np2

    from dads_spark.oracles import ewma_oracle, fmt_bucket_sec, hourly_counts, q6

    ets, bs, vs, eq, rq = [], [], [], [], []
    for et, (b, v) in hourly_counts(sf_dir).items():
        ew = ewma_oracle(v, alpha)
        resid = _np2.abs(v - ew)
        ets.extend([et] * len(b))
        bs.extend(fmt_bucket_sec(b))
        vs.extend(v.tolist())
        eq.extend(q6(ew).tolist())
        rq.extend(q6(resid).tolist())
    return _write_dump(
        "ewma_oracle",
        {
            "event_type": ets,
            "bucket_ts": bs,
            "v": _np2.array(vs, dtype=_np2.float64),
            "ewma_q6": _np2.array(eq, dtype=_np2.int64),
            "resid_q6": _np2.array(rq, dtype=_np2.int64),
        },
    )


def _stage_holt_oracle(
    sf_dir: str, alpha: float = 0.3, beta: float = 0.1, n_sigma: float = 4.0,
    phi: float = 1.0, dump: str = "holt_oracle",
) -> str:
    import numpy as _np2

    from dads_spark.oracles import holt_outliers_oracle, hourly_counts, q6

    ets, idxs, vals, fq, rq = [], [], [], [], []
    for et, (_, v) in hourly_counts(sf_dir).items():
        idx, val, fc, resid = holt_outliers_oracle(
            v, alpha, beta, n_sigma, phi
        )
        ets.extend([et] * len(idx))
        idxs.extend(idx.tolist())
        vals.extend(val.tolist())
        fq.extend(q6(fc).tolist())
        rq.extend(q6(resid).tolist())
    import pyarrow as _pa

    return _write_dump(
        dump,
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "idx": _np2.array(idxs, dtype=_np2.int64),
            "value": _np2.array(vals, dtype=_np2.float64),
            "fc_q6": _np2.array(fq, dtype=_np2.int64),
            "resid_q6": _np2.array(rq, dtype=_np2.int64),
        },
    )


def _stage_cusum_oracle(sf_dir: str, k: float = 0.5, h: float = 4.0) -> str:
    # k/h chosen so the synthetic count series actually alarm at every test
    # sf (15 alarms at sf0.001, 34 at sf0.01) — a zero-row pin is hollow
    import pyarrow as _pa

    from dads_spark.oracles import cusum_oracle, hourly_counts

    ets, idxs, dirs = [], [], []
    for et, (_, v) in hourly_counts(sf_dir).items():
        for i, d in cusum_oracle(v, k, h):
            ets.append(et)
            idxs.append(i)
            dirs.append(d)
    return _write_dump(
        "cusum_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "idx": _pa.array(idxs, type=_pa.int64()),
            "direction": _pa.array(dirs, type=_pa.string()),
        },
    )


def _stage_mp_oracle(sf_dir: str, m: int = 24, k: int = 3) -> str:
    import numpy as _np2

    from dads_spark.oracles import (
        brute_matrix_profile,
        hourly_counts,
        q6,
        top_discords_oracle,
    )

    ets, rks, idxs, mq = [], [], [], []
    for et, (_, v) in hourly_counts(sf_dir).items():
        mp = brute_matrix_profile(v, m)
        picks = top_discords_oracle(mp, m, k) if len(mp) else []
        for r, i in enumerate(picks, start=1):
            ets.append(et)
            rks.append(r)
            idxs.append(i)
            mq.append(int(q6(_np2.array([mp[i]]))[0]))
    import pyarrow as _pa

    return _write_dump(
        "mp_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "rank": _np2.array(rks, dtype=_np2.int64),
            "idx": _np2.array(idxs, dtype=_np2.int64),
            "mp_q6": _np2.array(mq, dtype=_np2.int64),
        },
    )


def _stage_winnow_oracle(sf_dir: str, max_doc_id: int = 200) -> str:
    import numpy as _np2
    import pyarrow.parquet as _pq

    from dads_spark.oracles import winnow_oracle

    docs = _pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    docs = docs[docs["doc_id"] < max_doc_id]
    ids, fps = [], []
    for did, text in zip(docs["doc_id"], docs["text"]):
        for fp in winnow_oracle(text if isinstance(text, str) else ""):
            ids.append(int(did))
            fps.append(fp)
    return _write_dump(
        "winnow_oracle",
        {
            "doc_id": _np2.array(ids, dtype=_np2.int64),
            "fingerprint": _np2.array(fps, dtype=_np2.int64),
        },
    )


def _q6_cols(df: DataFrame, keep: list[str], quant: dict[str, str]) -> DataFrame:
    """Quantize the named double columns to integer micro-units with the
    same NumPy expression the staged oracles use (floor(x*1e6+0.5)), inside
    one mapInPandas — both sides quantize bit-identical doubles, so no
    cross-engine rounding rule is involved."""
    import numpy as _np2

    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    schema = ", ".join(
        [f"{c} {fields[c]}" for c in keep] + [f"{o} long" for o in quant.values()]
    )

    def f(it):
        for pdf in it:
            out = pdf[keep].copy()
            for src, dst in quant.items():
                out[dst] = _np2.floor(
                    pdf[src].to_numpy(dtype=_np2.float64) * 1e6 + 0.5
                ).astype(_np2.int64)
            yield out

    return df.mapInPandas(f, schema)


def _resample_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular per-second value series per event_type: raw event
    timestamps floored to seconds, two-a-second collisions summed (IEEE
    addition is commutative, so a 2-element sum is partition-order-proof)."""
    ev = _t(spark, sf_dir, "events")
    # parquet ts is TIMESTAMP_NTZ: route through LTZ (session tz is UTC, so
    # the instant is unchanged) because Spark forbids NTZ -> BIGINT directly
    sec = F.col("ts").cast("timestamp_ltz").cast("long")
    return ev.groupBy("event_type", sec.alias("sec")).agg(
        F.sum("value").alias("value")
    )


def q_resample_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-step grid resampling (linear): project each type's
    irregular per-second series onto the epoch-aligned hourly grid. Fully
    relational (sequence/explode grid + two window passes over ONE sort +
    codegen interpolation — no Python stage), so the oracle is the same
    formulation in ANSI SQL and the arithmetic trees match exactly."""
    from dads_spark.rollup import resample_grid

    out = resample_grid(
        _resample_input(spark, sf_dir), ["event_type"], "sec", "value", 3600
    )
    return out.select(
        "event_type",
        _fmt_bucket(),
        F.round("v", 6).alias("v"),
        F.col("exact").cast("int").alias("exact"),
    )


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LOCF variant on a deliberately misaligned 90-minute grid
    from dads_spark.rollup import resample_grid

    out = resample_grid(
        _resample_input(spark, sf_dir), ["event_type"], "sec", "value", 5400,
        method="locf",
    )
    return out.select(
        "event_type",
        _fmt_bucket(),
        F.round("v", 6).alias("v"),
        F.col("exact").cast("int").alias("exact"),
    )


_PATTERN_DAILY = None  # computed lazily: one 24h sine period


def _daily_pattern():
    global _PATTERN_DAILY
    if _PATTERN_DAILY is None:
        import numpy as _np2

        _PATTERN_DAILY = _np2.sin(
            2 * _np2.pi * _np2.arange(24, dtype=_np2.float64) / 24
        ).tolist()
    return _PATTERN_DAILY


def _stage_pattern_oracle(sf_dir: str, k: int = 5) -> str:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import hourly_counts, pattern_topk_oracle

    pat = _np2.asarray(_daily_pattern())
    ets, rks, wi, dq = [], [], [], []
    for et, (_, v) in hourly_counts(sf_dir).items():
        for r, (i, q6v) in enumerate(pattern_topk_oracle(v, pat, k), start=1):
            ets.append(et)
            rks.append(r)
            wi.append(i)
            dq.append(q6v)
    return _write_dump(
        "pattern_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "rank": _pa.array(rks, type=_pa.int64()),
            "window_idx": _pa.array(wi, type=_pa.int64()),
            "dist_q6": _pa.array(dq, type=_pa.int64()),
        },
    )


def q_pattern_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsequence pattern search: the 5 windows of each type's hourly
    count series that best match one 24h sine period, z-normalized (the
    'find days shaped like this' query). Driver-hash-gated against the
    direct z-normalization oracle — no FFT arithmetic shared; the tie-free
    q6 ranking makes the two implementations' top-k lists identical."""
    from dads_spark.rollup import pattern_topk

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    _stage_pattern_oracle(sf_dir)
    return pattern_topk(
        hourly, ["event_type"], "bucket_ts", "v", _daily_pattern(), k=5
    )


def q_holt_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt residual outliers over hourly COUNT series, driver-hash-gated
    against the scalar textbook recurrence in dads_spark/oracles.py (staged
    to parquet; counts make both sides' inputs bit-identical under any
    partitioning). Pins the value_sum twin ``holt_residual_outliers``'s
    kernel semantics numerically, not just by row count."""
    from dads_spark.rollup import holt_residuals_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    out = holt_residuals_grouped(hourly, ["event_type"], "bucket_ts", "v", n_sigma=4.0)
    _stage_holt_oracle(sf_dir)
    return _q6_cols(
        out,
        ["event_type", "idx", "value"],
        {"forecast": "fc_q6", "residual": "resid_q6"},
    )


def q_cusum_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoints over hourly COUNT series, driver-hash-gated
    against the scalar oracle (exact integer/string output — the alarm
    decisions themselves are pinned)."""
    from dads_spark.rollup import cusum_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    _stage_cusum_oracle(sf_dir)
    return cusum_grouped(hourly, ["event_type"], "bucket_ts", "v", k=0.5, h=4.0)


def _stage_motifs_oracle(sf_dir: str, m: int = 24, k: int = 3) -> str:
    import numpy as _np2

    from dads_spark.oracles import (
        brute_matrix_profile_idx,
        hourly_counts,
        q6,
        top_motifs_oracle,
    )

    ets, rks, ia, ib, mq = [], [], [], [], []
    for et, (_, v) in hourly_counts(sf_dir).items():
        mp, mpi = brute_matrix_profile_idx(v, m)
        picks = top_motifs_oracle(mp, mpi, m, k) if len(mp) else []
        for r, (a, b) in enumerate(picks, start=1):
            lo, hi = (a, b) if a < b else (b, a)
            ets.append(et)
            rks.append(r)
            ia.append(lo)
            ib.append(hi)
            mq.append(int(q6(_np2.array([mp[lo]]))[0]))
    import pyarrow as _pa

    return _write_dump(
        "motifs_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "rank": _np2.array(rks, dtype=_np2.int64),
            "idx_a": _np2.array(ia, dtype=_np2.int64),
            "idx_b": _np2.array(ib, dtype=_np2.int64),
            "mp_q6": _np2.array(mq, dtype=_np2.int64),
        },
    )


def q_matrix_profile_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 STOMP discords per hourly count series, driver-hash-gated
    against a brute-force O(n^2) z-normalized scan that shares no
    arithmetic with the STOMP recurrence (profile values agree to 1e-6)."""
    from dads_spark.rollup import discords_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    out = discords_grouped(hourly, ["event_type"], "bucket_ts", "v", m=24, k=3)
    _stage_mp_oracle(sf_dir)
    return _q6_cols(out, ["event_type", "rank", "idx"], {"mp": "mp_q6"})


def q_motifs_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 STOMP motif pairs per hourly count series (rollup/
    matrixprofile.py motifs_grouped) — the discord's mirror: greedy
    non-overlapping MINIMA with both pair members occupying exclusion
    zones. Pinned against the brute-force z-normalized scan with
    first-min neighbor indices (shares no arithmetic with the STOMP
    recurrence); profile values quantized at 1e-6 on both sides."""
    from dads_spark.rollup import motifs_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    out = motifs_grouped(hourly, ["event_type"], "bucket_ts", "v", m=24, k=3)
    _stage_motifs_oracle(sf_dir)
    return _q6_cols(
        out, ["event_type", "rank", "idx_a", "idx_b"], {"mp": "mp_q6"}
    )


def _stage_s2g_edges_oracle(sf_dir: str) -> None:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import hourly_counts_gapfilled
    from dads_spark.s2g.oracle import s2g_oracle
    from dads_spark.s2g.pipeline import min_series_length

    ets, fs, fi, ts_, ti, w = [], [], [], [], [], []
    for et, x in hourly_counts_gapfilled(sf_dir).items():
        if len(x) < min_series_length(S2G_ROLLUP_PARAMS):
            continue
        res = s2g_oracle(x, S2G_ROLLUP_PARAMS, n_slices=1)
        for (a, b, c, d), wt in res.edge_weights.items():
            ets.append(et)
            fs.append(int(a))
            fi.append(int(b))
            ts_.append(int(c))
            ti.append(int(d))
            w.append(int(wt))
    _write_dump(
        "s2g_edges_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "from_seg": _pa.array(fs, type=_pa.int32()),
            "from_idx": _pa.array(fi, type=_pa.int32()),
            "to_seg": _pa.array(ts_, type=_pa.int32()),
            "to_idx": _pa.array(ti, type=_pa.int32()),
            "weight": _pa.array(w, type=_pa.int64()),
        },
    )


def q_s2g_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the S2G graph itself as rows: one weighted edge per (series, edge).
    # Driver-hash-gated (r3) against a staged local recomputation on the
    # bit-identical count series: the pin covers the DISTRIBUTED assembly
    # (rollup -> gap-fill -> grouping -> emission); the graph kernel itself
    # is bit-parity-tested against the reference semantics in test_s2g_*.
    # All-integer output (segment ids + walk counts), exact by construction.
    from dads_spark.s2g.pipeline import graph_edges_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", bucket_expr("ts", "hour")
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    filled = gap_fill_linear(hourly, ["event_type"], "bucket_ts", ["v"], 3600)
    _stage_s2g_edges_oracle(sf_dir)
    return graph_edges_grouped(
        filled, ["event_type"], "bucket_ts", "v", S2G_ROLLUP_PARAMS
    )


def _hourly_counts_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly COUNT series per event_type — the shared exact-integer input
    of the pinned sequential-recurrence twins (counts sum exactly in
    float64 under any partitioning)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )


def q_minmax_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # M4 pixel downsampling (Jugel VLDB'14) of the hourly tiers at one-day
    # pixels: per (series, pixel) the first/last/min/max points — 100% JVM
    # codegen, one shuffle carrying one row per OUTPUT pixel. Tie rules are
    # the deterministic struct orderings documented in m4_downsample;
    # values are exact counts, timestamps exact epochs -> hash-safe.
    from dads_spark.rollup import m4_downsample

    hourly = _hourly_counts_df(spark, sf_dir).select(
        "event_type",
        F.col("bucket_ts").cast("timestamp_ltz").alias("bucket_ts"),
        "v",
    )
    return m4_downsample(hourly, ["event_type"], "bucket_ts", "v", 86400)


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Theil-Sen robust trend per hourly count series, reported as the LOWER
    # median (k-th smallest pairwise slope, k=(n+1)//2) so the result is a
    # rank selection both engines reproduce exactly; the slope expression
    # (v_j-v_i)*3600.0/(t_j-t_i) is evaluated on bit-identical doubles on
    # both sides, so the q6 quantization never straddles an engine gap.
    from dads_spark.rollup import theil_sen_grouped

    hourly = _hourly_counts_df(spark, sf_dir).select(
        "event_type",
        F.col("bucket_ts").cast("timestamp_ltz").cast("long").alias("t"),
        "v",
    )
    # series with <2 points have no pairs (nan slope); the oracle's rank
    # selection emits nothing for them — drop on this side too
    out = theil_sen_grouped(hourly, ["event_type"], "t", "v").filter(
        F.col("n_pairs") > 0
    )
    return out.select(
        "event_type",
        "n_points",
        "n_pairs",
        F.expr("CAST(floor(slope_per_hr * 1e6 + 0.5) AS BIGINT)").alias(
            "slope_q6"
        ),
    )


def q_session_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # inter-arrival gap distribution per event_type (gaps measured per
    # user): exact integer sum + rank-based p50/p90 (k = ceil(q*n) in
    # integer arithmetic) — no interpolation rule, all-integer output.
    from dads_spark.rollup import gap_percentiles

    ev = _t(spark, sf_dir, "events")
    return gap_percentiles(ev, "user_id", "event_type").withColumnRenamed(
        "type", "event_type"
    )


def _stage_hw_oracle(
    sf_dir: str, m: int = 24, alpha: float = 0.3, beta: float = 0.1,
    gamma: float = 0.2,
) -> str:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import holt_winters_oracle, hourly_counts, q6

    ets, idxs, vals, fq, rq = [], [], [], [], []
    for et, (_, v) in hourly_counts(sf_dir).items():
        fc, resid = holt_winters_oracle(v, m, alpha, beta, gamma)
        ok = _np2.isfinite(fc)
        idx = _np2.nonzero(ok)[0]
        ets.extend([et] * len(idx))
        idxs.extend(idx.tolist())
        vals.extend(v[idx].tolist())
        fq.extend(q6(fc[idx]).tolist())
        rq.extend(q6(resid[idx]).tolist())
    return _write_dump(
        "hw_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "idx": _np2.array(idxs, dtype=_np2.int64),
            "value": _np2.array(vals, dtype=_np2.float64),
            "fc_q6": _np2.array(fq, dtype=_np2.int64),
            "resid_q6": _np2.array(rq, dtype=_np2.int64),
        },
    )


def q_holt_winters_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (season=24) one-step forecasts + residuals over
    hourly COUNT series, driver-hash-gated against the scalar textbook
    recurrence in dads_spark/oracles.py (staged to parquet). The seasonal
    extension of ``holt_pinned``: on daily-cycle web traffic the seasonal
    state absorbs the morning ramp Holt linear misreads as an outlier."""
    from dads_spark.rollup import holt_winters_grouped

    out = holt_winters_grouped(
        _hourly_counts_df(spark, sf_dir), ["event_type"], "bucket_ts", "v", m=24
    )
    _stage_hw_oracle(sf_dir)
    return _q6_cols(
        out,
        ["event_type", "idx", "value"],
        {"forecast": "fc_q6", "residual": "resid_q6"},
    )


def _stage_dtw_oracle(sf_dir: str, band: int = 48) -> str:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import dtw_oracle, hourly_counts, q6

    series = {et: v for et, (_, v) in hourly_counts(sf_dir).items()}
    keys = sorted(series)
    ka, kb, na, nb, dq = [], [], [], [], []
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            d = dtw_oracle(series[a], series[b], band)
            ka.append(a)
            kb.append(b)
            na.append(len(series[a]))
            nb.append(len(series[b]))
            dq.append(int(q6(_np2.array([d]))[0]))
    return _write_dump(
        "dtw_oracle",
        {
            "key_a": _pa.array(ka, type=_pa.string()),
            "key_b": _pa.array(kb, type=_pa.string()),
            "n_a": _np2.array(na, dtype=_np2.int64),
            "n_b": _np2.array(nb, dtype=_np2.int64),
            "dtw_q6": _np2.array(dq, dtype=_np2.int64),
        },
    )


def q_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded DTW distance between every pair of hourly count series,
    driver-hash-gated against the scalar full-matrix DP (staged): the
    phase-tolerant shape-similarity complement of ``series_xcorr``."""
    from dads_spark.rollup import dtw_pairs_grouped

    out = dtw_pairs_grouped(
        _hourly_counts_df(spark, sf_dir), "event_type", "bucket_ts", "v",
        band=48,
    )
    _stage_dtw_oracle(sf_dir)
    return _q6_cols(out, ["key_a", "key_b", "n_a", "n_b"], {"dtw": "dtw_q6"})


def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # containment similarity |A∩B| / min(|A|,|B|) over token sets — the
    # asymmetric near-dup measure that catches a short page embedded in a
    # longer one, which Jaccard (the symmetric /union variant alongside in
    # q_ngram_jaccard) dilutes below threshold. Same candidate discipline:
    # exact token equi-join on a bounded slice; the scale path is the LSH
    # family in ops/dedup.py.
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = docs.select(
        F.col("doc_id").alias("tid"),
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("token"),
    )
    sizes = toks.groupBy("tid").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.token") == F.col("b.token")) & (F.col("a.tid") < F.col("b.tid")),
        )
        .groupBy(F.col("a.tid").alias("id_a"), F.col("b.tid").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("tid").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("tid").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.round(F.col("n_inter") / F.least("sz_a", "sz_b"), 4),
        )
        .filter(F.col("containment") >= 0.9)
        .select("id_a", "id_b", "containment")
    )


def q_burst_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # burst detection over the hourly tiers: maximal runs of buckets above
    # 1.3x the trailing-24h average, merged gaps-and-islands style. The
    # trailing average is an exact-integer sum / 24 on both engines, so the
    # threshold comparison is IEEE-identical and the all-integer-valued
    # output hashes cleanly.
    from dads_spark.rollup import burst_intervals

    return burst_intervals(
        _hourly_counts_df(spark, sf_dir),
        ["event_type"],
        "bucket_ts",
        "v",
        factor=1.3,
        baseline_buckets=24,
    )


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact duplicate-substring spans (Lee et al. 2022 style): token ranges
    # whose every 8-gram window recurs in another document — catches pasted
    # boilerplate paragraphs document-level dedup can't see. All-integer
    # positional output.
    from dads_spark.ops import duplicate_spans

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = duplicate_spans(docs, "text", "doc_id", n=8, min_span_tokens=12)
    return out.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


def q_tier_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    # continuous-aggregate integrity audit: the day tier CASCADED from the
    # hour tier must agree with the day tier computed DIRECTLY from raw on
    # every exactly-associative column (counts, min, max). The operator a
    # retention engine runs after every tier materialization; float sums
    # are excluded on purpose (associativity does not bit-hold for them —
    # their cross-check is the rounded-oracle gate on the tier queries).
    from dads_spark.rollup import cascade, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    day_c = cascade(hour, ["event_type"], "day").select(
        "event_type",
        F.col("bucket_ts").cast("timestamp_ltz").cast("long").alias("day_sec"),
        F.col("doc_count").alias("n_cascade"),
        F.col("value_min").alias("min_cascade"),
        F.col("value_max").alias("max_cascade"),
    )
    day_d = rollup_from_raw(ev, ["event_type"], "ts", "value", "day").select(
        "event_type",
        F.col("bucket_ts").cast("timestamp_ltz").cast("long").alias("day_sec"),
        F.col("doc_count").alias("n_direct"),
        F.col("value_min").alias("min_direct"),
        F.col("value_max").alias("max_direct"),
    )
    j = day_c.join(day_d, ["event_type", "day_sec"], "full_outer")
    return j.select(
        "event_type",
        "day_sec",
        "n_cascade",
        "n_direct",
        (
            F.col("n_cascade").eqNullSafe(F.col("n_direct"))
            & F.col("min_cascade").eqNullSafe(F.col("min_direct"))
            & F.col("max_cascade").eqNullSafe(F.col("max_direct"))
        ).alias("consistent"),
    )


def q_retention_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the retention engine's multi-resolution read path: hour rows inside
    # the 14-day horizon, day rows beyond it, cut snapped to a day boundary
    # (no overlap, no gap). Exact columns exact; float sums rounded (2 dp)
    # per the tier-oracle precedent.
    from dads_spark.rollup import cascade, downsample_on_expiry, rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    day = cascade(hour, ["event_type"], "day")
    out = downsample_on_expiry(hour, day, keep_hour_seconds=14 * 86_400)
    return out.select(
        "event_type",
        "bucket_sec",
        "resolution",
        "doc_count",
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-unigram surprisal per doc (perplexity-proxy quality filter):
    # per-token -ln p quantized to integer micro-units BEFORE the per-doc
    # sum, so the score is an exact integer under any partitioning.
    from dads_spark.ops import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic k-per-(series,hour) exemplar sample: membership is a
    # pure function of event ids (md5 order), stable across reruns and
    # resharding; output bounded at k rows per bucket at any input size.
    from dads_spark.ops import bucket_sample

    ev = _t(spark, sf_dir, "events")
    return bucket_sample(ev, ["event_type"], "ts", "event_id", k=5)


def _stage_weblines(sf_dir: str) -> str:
    """Derive a deterministic multi-line web-text corpus from the documents
    table for the line-level quality-filter gates. The synthetic documents
    are single-line and punctuation-free, so the C4/Gopher line rules would
    be degenerate over them raw; this reshapes each doc into 7-token lines
    and plants every feature the rules key on — terminal punctuation (2 of
    3 lines), bullet prefixes (doc_id%7), '...' suffixes (doc_id%11),
    javascript boilerplate (doc_id%13), 'Lorem Ipsum' (doc_id%17), '{'
    code lines (doc_id%19), '#' headings (doc_id%23) — all pure arithmetic
    on (doc_id, line index), no RNG. Rewritten on every owning-query call
    at the FIXED dump path (the staged-oracle convention: never serves a
    stale sf) as BOTH engines' input: the Spark query and the DuckDB
    oracle read the same parquet, so the gate pins the operator, not the
    derivation."""
    import os as _os

    import pyarrow as _pa
    import pyarrow.parquet as _pq

    path = _dump_path("weblines_src")
    t = _pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "lang"]
    )
    ids, texts, langs = [], [], []
    for did, text, lang in zip(
        t.column("doc_id").to_pylist(),
        t.column("text").to_pylist(),
        t.column("lang").to_pylist(),
    ):
        toks = text.split(" ")
        lines = []
        for li, i in enumerate(range(0, len(toks), 7)):
            chunk = " ".join(toks[i : i + 7])
            r = (did + li) % 3
            if r == 1:
                chunk += "."
            elif r == 2:
                chunk += "!"
            if did % 7 == 0 and li == 1:
                chunk = "- " + chunk
            if did % 11 == 0 and li % 4 == 2:
                chunk += "..."
            if did % 13 == 0 and li == 0:
                chunk = "please enable javascript to view this page."
            if did % 23 == 0 and li == 0:
                chunk = "# " + chunk
            lines.append(chunk)
        if did % 17 == 0:
            lines.append("Lorem Ipsum dolor sit amet.")
        if did % 19 == 0:
            lines.append("function() { return; }")
        ids.append(did)
        texts.append("\n".join(lines))
        langs.append(lang)
    tbl = _pa.table(
        {
            "doc_id": _pa.array(ids, _pa.int64()),
            "text": _pa.array(texts, _pa.string()),
            "lang": _pa.array(langs, _pa.string()),
        }
    )
    tmp = path + ".tmp"
    _pq.write_table(tbl, tmp)
    _os.replace(tmp, path)
    return path


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality heuristics (Rae et al. 2021 A1.1) over the
    staged multi-line corpus: per-doc boolean flags for word-count bounds,
    mean-word-length sandwich, symbol ratio, bullet/ellipsis line ratios,
    alpha-word ratio, required stopwords, and the composed keep decision —
    every rule an INTEGER inequality folded into one codegen projection
    over the scan (map-only at 100 TB). min_words=20 so the bound bisects
    the 10..99-word synthetic docs."""
    from dads_spark.ops import gopher_rules

    docs = spark.read.parquet(_stage_weblines(sf_dir))
    return gopher_rules(docs, min_words=20)


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) over the staged
    multi-line corpus: keep lines ending in terminal punctuation with >=5
    words and no 'javascript'; drop docs with <3 surviving lines, 'lorem
    ipsum', or '{'. Emits the byte-exact re-joined clean_text per doc —
    the same per-url text invariant the WARC extractor keeps. Map-only:
    array higher-order functions in one codegen projection."""
    from dads_spark.ops import c4_clean

    docs = spark.read.parquet(_stage_weblines(sf_dir))
    return c4_clean(docs)


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality terciles per language (Wenzek
    et al. 2020): rank docs by corpus-unigram surprisal (integer
    micro-units) WITHIN each language, ntile(3). Ordering key is
    (avg_neglp_q6, doc_id) — total and integer, so the split is exact on
    any engine; one shuffle keyed by language."""
    from dads_spark.ops import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup embedding-space near-dup removal (Abbas et al. 2023):
    spherical-k-means cluster the corpus, compare pairs only WITHIN a
    cluster, drop each doc with a lower-id near-duplicate above the
    cosine threshold (smallest-witness keep-first rule). Cluster id
    bounds the candidate set exactly as the LSH band bucket does — no
    all-pairs path. tau is tuned to the synthetic embedding spread
    (max inter-doc cosine ~0.51) so the gate exercises real drops;
    the library default stays at the paper's ~0.95 regime."""
    from dads_spark.ops import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    if t.num_rows <= _ORACLE_MAX_DOCS:
        import numpy as _np2

        from dads_spark.oracles import semdedup_oracle

        pdf = t.to_pandas()
        rows = semdedup_oracle(
            pdf["vec_id"].to_numpy(),
            _np2.array(list(pdf["embedding"]), dtype=_np2.float64),
            tau_q6=400_000,
            n_clusters=8,
        )
        _write_dump(
            "semdedup_oracle",
            {
                "vec_id": [r[0] for r in rows],
                "cluster": [r[1] for r in rows],
                "dropped": [r[2] for r in rows],
                "witness_id": [r[3] for r in rows],
            },
        )
    return semdedup(emb, tau_q6=400_000, n_clusters=8)


def _oracle_merges(sf_dir: str, n_merges: int = 24) -> list:
    """Scalar-BPE merge list for the gate corpus (cached per sf fingerprint
    in-process): shared by the train dump and the encode queries."""
    import pyarrow.parquet as _pq

    from dads_spark.oracles import bpe_train_oracle

    key = _stage_key(sf_dir)
    cached = _ORACLE_MERGE_CACHE.get(key)
    if cached is None:
        texts = (
            _pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
            .column("text")
            .to_pylist()
        )
        cached = bpe_train_oracle(texts, n_merges=n_merges)
        _ORACLE_MERGE_CACHE[key] = cached
    return cached


_ORACLE_MERGE_CACHE: dict = {}


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (Sennrich et al. 2016): one
    corpus-sized word-count shuffle, then every merge iteration runs on
    the DISTINCT-WORD table only (vocab-sized — the 100 TB shape), pair
    argmax tie-broken (count DESC, pair ASC) on exact integers so the
    learned merge table is partition-invariant. Gated bit-for-bit
    against the scalar Sennrich mirror (oracles.bpe_train_oracle)."""
    from dads_spark.ops import bpe_train

    rows = _oracle_merges(sf_dir)
    _write_dump(
        "bpe_train_oracle",
        {
            "rank": [r[0] for r in rows],
            "left": [r[1] for r in rows],
            "right": [r[2] for r in rows],
            "merged": [r[3] for r in rows],
            "pair_count": [r[4] for r in rows],
        },
    )
    out = bpe_train(_t(spark, sf_dir, "documents"), n_merges=24)
    return out.select(
        F.col("rank").cast("long"),
        "left",
        "right",
        "merged",
        "pair_count",
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding with a learned merge list: map-only, zero shuffles —
    each merge rank is one Catalyst aggregate-fold layer over per-word
    symbol arrays (greedy leftmost non-overlap), emitting token counts +
    the chars-per-token fertility ratio in integer micro-units. The
    merge list is the scalar-oracle-trained one (itself pinned
    bit-for-bit by the bpe_train gate), so this lane isolates ENCODE."""
    import pyarrow.parquet as _pq

    from dads_spark.oracles import bpe_encode_oracle
    from dads_spark.ops import bpe_encode

    merges = [(r[1], r[2]) for r in _oracle_merges(sf_dir)]
    t = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    if t.num_rows <= _ORACLE_MAX_DOCS * 5:  # linear scalar mirror: cheap
        rows = bpe_encode_oracle(
            t.column("doc_id").to_pylist(), t.column("text").to_pylist(), merges
        )
        _write_dump(
            "bpe_encode_oracle",
            {
                "doc_id": [r[0] for r in rows],
                "n_words": [r[1] for r in rows],
                "n_chars": [r[2] for r in rows],
                "n_bpe_tokens": [r[3] for r in rows],
                "compression_q6": [r[4] for r in rows],
            },
        )
    out = bpe_encode(_t(spark, sf_dir, "documents"), merges)
    return out.select(
        "doc_id",
        F.col("n_words").cast("long"),
        "n_chars",
        "n_bpe_tokens",
        "compression_q6",
    )


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining over adjacent token pairs (Church & Hanks
    1990): one corpus explode+count shuffle builds the bigram table; both
    margins re-aggregate that skinny table. pmi_q6 uses the sum-of-logs
    form (no BIGINT product overflow at web scale), identical expression
    in the DuckDB oracle."""
    from dads_spark.ops import pmi_collocations

    return pmi_collocations(_t(spark, sf_dir, "documents"), min_count=5)


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick downsample per (event_type, hour): open/close are
    the first/last value under the TOTAL (ts, event_id) order via
    min_by/max_by on a struct key — one map-side-partial hash aggregate,
    no window, no sort; integer-div epoch bucketing."""
    from dads_spark.rollup import ohlc_bars

    ev = _t(spark, sf_dir, "events")
    return ohlc_bars(ev, ["event_type"], "ts", "value", "event_id")


_PHRASE = ["slow", "hash", "batch"]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase query over positional postings: contains() prefilter
    (scan-level, pushes to the reader) shrinks the corpus to candidate
    docs, then one posexplode + lead() window per doc verifies token
    adjacency. 0-based positions; (doc, n_matches, first_pos) rows."""
    from dads_spark.ops import phrase_search

    return phrase_search(_t(spark, sf_dir, "documents"), _PHRASE)


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding corpus — the S2G TSQR protocol
    (per-slice centered QR -> driver tree reduction + SVD, reference
    PCACalculatorControl.java) re-exposed as the corpus whitener. Top-4
    projections in integer micro-units, pinned bit-for-bit by the scalar
    mirror (deterministic id%P slicing makes the factorization a pure
    function of the input set)."""
    from dads_spark.ops import embedding_pca

    emb = _t(spark, sf_dir, "embeddings")
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    if t.num_rows <= _ORACLE_MAX_DOCS * 5:
        import numpy as _np2

        from dads_spark.oracles import embedding_pca_oracle

        pdf = t.to_pandas()
        rows = embedding_pca_oracle(
            pdf["vec_id"].to_numpy(),
            _np2.array(list(pdf["embedding"]), dtype=_np2.float64),
            k=4,
            n_slices=8,
        )
        _write_dump(
            "embedding_pca_oracle",
            {
                "vec_id": [r[0] for r in rows],
                "pc1_q6": [r[1] for r in rows],
                "pc2_q6": [r[2] for r in rows],
                "pc3_q6": [r[3] for r in rows],
                "pc4_q6": [r[4] for r in rows],
            },
        )
    return embedding_pca(emb, k=4, n_slices=8)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease over the staged multi-line corpus (it has the
    terminal punctuation the sentence count needs): three exact integer
    counts + one fixed closed-form float expression quantized to q3 —
    map-only, one codegen projection."""
    from dads_spark.ops import readability_scores

    docs = spark.read.parquet(_stage_weblines(sf_dir))
    return readability_scores(docs)


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog scan between two tier-store versions (Iceberg
    incremental-consumer semantics): v0 = hour tier of the 80% events
    subset, v1 = full tier; diff classifies every (event_type, hour) key
    added/changed/unchanged via a FULL OUTER null-safe compare — the
    primitive downstream jobs read instead of re-scanning the new
    version. Hash equality vs SQL deriving both versions from raw pins
    the classification AND both counts per key."""
    import shutil as _sh

    from dads_spark.checkpoint import SnapshotStore
    from dads_spark.rollup import rollup_from_raw

    base = _stage_dir("snapshot_diff_run", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    store = SnapshotStore(spark, base)
    ev = _t(spark, sf_dir, "events")
    v0 = store.commit(
        "hour",
        rollup_from_raw(
            ev.filter(F.col("event_id") % 5 != 0), ["event_type"], "ts", None, "hour"
        ),
        note="partial ingest",
    )
    v1 = store.commit(
        "hour", rollup_from_raw(ev, ["event_type"], "ts", None, "hour"),
        note="full ingest",
    )
    out = store.diff("hour", v0, v1, ["event_type", "bucket_ts"])
    return out.select(
        "change",
        "event_type",
        F.unix_timestamp("bucket_ts").alias("hb"),
        "old_doc_count",
        "new_doc_count",
    )


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join by edit distance (record linkage): distinct
    per-source hosts, blocked by (3-char prefix, length/4 bucket with
    neighbor overlap), scored with built-in integer levenshtein — no
    all-pairs path, no float surface. Pairs with dist <= 2, each once."""
    from dads_spark.ops import fuzzy_pairs

    docs = _t(spark, sf_dir, "documents")
    # two variants per source — the real one and a typosquat — so the
    # candidate set contains pairs on BOTH sides of the threshold
    # (srcN.example.com vs srcN.exampel.com = 2; cross-source typo pairs
    # = 3+, filtered): the gate exercises the cutoff, not just the hash
    host = F.lower(
        F.concat(
            "source",
            F.when(F.col("doc_id") % 3 == 0, F.lit(".exampel.com")).otherwise(
                F.lit(".example.com")
            ),
        )
    )
    hosts = docs.groupBy(host.alias("host")).agg(F.min("doc_id").alias("hid"))
    return fuzzy_pairs(hosts, "hid", "host", max_dist=2, prefix_len=3)


def _stage_compact_hour(spark: SparkSession, sf_dir: str) -> str:
    """Compact the hour tier once per data fingerprint into the owned stage
    root (rollup/compact.py bin-packed range-clustered rewrite); shared by
    the gated query and bench prestage so the timed lane reads, not
    writes. The write itself is tier-sized (KBs here, tier-scale at
    100 TB), never raw-sized."""
    import os as _os

    from dads_spark.rollup import compact_tier, rollup_from_raw

    path = _stage_dir("compact_hour", sf_dir)
    if not _os.path.exists(f"{path}/_SUCCESS"):
        ev = _t(spark, sf_dir, "events")
        hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
        compact_tier(
            hour,
            ["event_type", "bucket_ts"],
            path,
            target_files=4,
            max_records_per_file=500_000,
        )
    return path


def q_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tier-store compaction round-trip: the hour tier rewritten as few
    # range-clustered bin-packed parquet files (rollup/compact.py), read
    # back and aggregated — hash-equality against the raw-table oracle
    # proves the layout rewrite is data-identical cross-engine.
    back = spark.read.parquet(_stage_compact_hour(spark, sf_dir))
    return back.select(
        "event_type",
        _fmt_bucket(),
        F.col("doc_count").alias("n_events"),
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_min", 2).alias("value_min"),
        F.round("value_max", 2).alias("value_max"),
    )


def q_hll_distinct_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct users per (event_type, day), the day estimate derived by
    # UNIONING stored hour-level HLL sketches (rollup/distinct.py) — the
    # non-decomposable-agg cascade. The hashable contract: the exact
    # distinct count (computed independently by both engines) plus a
    # boolean pinning every cascaded estimate within the sketch's error
    # envelope (lg_k=13 -> ~1.1% RSE; bound 5% ≈ 4.5 sigma; measured max
    # 1.9% at lg_k=12/sf0.1). Cascade determinism / repartition invariance
    # / path independence are pinned in tests/test_compact_distinct.py.
    from dads_spark.rollup import cascade_distinct, distinct_sketch_tier, with_estimate

    ev = _t(spark, sf_dir, "events")
    hour = distinct_sketch_tier(ev, ["event_type"], "ts", "user_id", lg_k=13)
    day = with_estimate(cascade_distinct(hour, ["event_type"], "day"))
    exact = ev.groupBy("event_type", bucket_expr("ts", "day")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        day.join(exact, ["event_type", "bucket_ts"])
        .select(
            "event_type",
            _fmt_bucket(),
            "exact_distinct",
            (
                F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
                <= F.col("exact_distinct") * F.lit(0.05)
            ).alias("within_5pct"),
        )
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact heavy hitters over document tokens via mergeable Misra-Gries
    # candidates + broadcast verify (shuffle bounded by 1/threshold, not
    # vocabulary size); oracle = the naive vocabulary-wide GROUP BY
    from dads_spark.ops import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    return heavy_hitters(toks, "tok", 0.034)


def q_hopping_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # overlapping 1h windows every 15min per event_type — JVM window
    # expansion, one partial-agg shuffle; window_start kept as epoch
    # seconds for cross-engine hashability
    from dads_spark.rollup import hopping_rollup

    ev = _t(spark, sf_dir, "events")
    out = hopping_rollup(
        ev, ["event_type"], "ts", "value", "1 hour", "15 minutes"
    )
    return out.select(
        "event_type",
        F.unix_timestamp("window_start").alias("ws"),
        "n",
        F.round("value_sum", 4).alias("value_sum"),
        F.round("value_min", 4).alias("value_min"),
        F.round("value_max", 4).alias("value_max"),
    )


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gaps-and-islands: each event opens a 30-min activity interval per
    # user; overlapping intervals merge into activity islands
    from dads_spark.rollup import merge_intervals

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + F.lit(1800)).alias("e"),
    )
    return merge_intervals(iv, ["user_id"], "s", "e")


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonicalization over deterministically-synthesized crawl URLs
    # (tracking params, shuffled query order, www + default port, trailing
    # slash, two-level public suffix) — both engines build the SAME url
    # string from documents columns, then normalize independently
    from dads_spark.ops import canonicalize_urls

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://www."),
            "source",
            F.when(F.col("doc_id") % 3 == 0, F.lit(".co.uk")).otherwise(
                F.lit(".example.com")
            ),
            F.when(F.col("doc_id") % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.lit("?utm_source=feed&z="),
            "lang",
            F.lit("&a=1"),
        ).alias("url"),
    )
    return canonicalize_urls(urls).select(
        "doc_id", "host", "site", "canonical_url"
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C4-style boilerplate detection: lines shared by >=60% of a source's
    # docs. Multi-line docs are synthesized by framing each text with a
    # per-source nav + copyright line (deterministic in both engines).
    from dads_spark.ops import boilerplate_lines

    docs = _t(spark, sf_dir, "documents")
    framed = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("nav "),
            "source",
            F.lit("\n"),
            "text",
            F.lit("\ncopyright "),
            "source",
        ).alias("text"),
    )
    return boilerplate_lines(framed, "doc_id", "text", "source", min_docs=3)


def q_link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic synthetic crawl html: each doc's page carries two
    # absolute hrefs derived from doc_id; extract_links (JVM regex) ->
    # domain_edges (parse_url HOST, self-loop drop, distinct) -> 3-round
    # PageRank with dangling-mass redistribution (the .org hosts never
    # appear as sources, so the dangling term is genuinely exercised)
    from dads_spark.ops import domain_edges, extract_links, pagerank

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">l</a> <a href=\'http://h'),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>m</a></p>"),
        ).alias("html"),
    )
    # src_domain rides through the explode (`keep`) — edge construction
    # never joins back onto the corpus
    links = extract_links(pages, "html", "doc_id", keep=("src_domain",))
    edges = domain_edges(links, "src_domain", "link_url")
    return pagerank(edges, iterations=3, damping=0.85).select(
        "node", F.round("pr", 6).alias("pr")
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain triangle counts + local clustering coefficient
    (ops/linkgraph.py triangle_counts) over the same deterministic
    synthetic domain graph link_pagerank uses — the link-farm/SEO-ring
    signal beside centrality. Node-iterator join shape: three hash joins
    on the small graph, corpus untouched."""
    from dads_spark.ops import triangle_counts

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string")).alias("src"),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 31 + 7) % 97).cast("string")
        ).alias("dst"),
    )
    return triangle_counts(edges, "src", "dst").select(
        "node", "degree", "triangles", "lcc"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # GPT-3-style eval decontamination at toy n=3: hash-split documents
    # 25% test / 75% train (md5 nibble, the engine-portable split), then
    # flag every train doc sharing any token 3-gram with the test side
    from dads_spark.ops import contamination_report, hash_split

    docs = hash_split(_t(spark, sf_dir, "documents"), "doc_id", test_nibbles=4)
    return contamination_report(docs, "split", "text", "doc_id", n=3)


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc unigram Shannon entropy (perplexity proxy); 6-dp rounded for
    # cross-engine float-summation-order stability
    from dads_spark.ops import token_entropy

    docs = _t(spark, sf_dir, "documents")
    return token_entropy(docs, "text", "doc_id").select(
        "doc_id", "n_tokens", "distinct_tokens",
        F.round("entropy", 6).alias("entropy"),
    )


def q_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OOV fraction per doc against the corpus's own top-64 unigram vocab
    # (deterministic count-desc/word-asc ranking)
    from dads_spark.ops import vocab_oov

    docs = _t(spark, sf_dir, "documents")
    return vocab_oov(docs, 64, "text", "doc_id").select(
        "doc_id", "n_tokens", F.round("oov_frac", 6).alias("oov_frac")
    )


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-event-type ACF at lags 1..3 over the hourly tier — one window
    # pass builds all lags, one agg computes all corrs
    from dads_spark.rollup import autocorrelation

    ev = _t(spark, sf_dir, "events")
    return autocorrelation(ev, "event_type", "ts", "value", max_lag=3)


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    # additive trend/seasonal/residual split of the hourly tier per
    # event_type; 6-dp rounded (window-sum accumulation order differs
    # across engines)
    from dads_spark.rollup import seasonal_decompose

    ev = _t(spark, sf_dir, "events")
    return seasonal_decompose(ev, "event_type", "ts", "value").select(
        "event_type",
        _fmt_bucket(),
        F.round("v", 6).alias("v"),
        "trend",
        "seasonal",
        "residual",
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # posting lists over documents, hapax tail pruned; postings emitted as
    # a ','-joined string (deterministic + driver-hashable)
    from dads_spark.ops import inverted_index

    docs = _t(spark, sf_dir, "documents")
    return inverted_index(docs, "text", "doc_id", min_df=4)


def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 temporal history (ops/scd.py): each user's event_type change
    stream becomes interval rows (valid_from/valid_to/is_current) with
    consecutive identical states collapsed, null-safe comparisons, and a
    (ts, event_id) total order. Warehouse temporal modeling — the
    entity-level counterpart of the SnapshotStore's table-level versions."""
    from dads_spark.ops import scd2_history

    ev = _t(spark, sf_dir, "events")
    out = scd2_history(
        ev.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
            "event_id",
            "event_type",
        ),
        ["user_id"],
        "tus",
        ["event_type"],
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


def _cdc_payload(did: int) -> bytes:
    """Deterministic binary payload with regions SHARED across documents
    (a 1.5 KB common header + 0.5 KB common trailer around a doc-specific
    middle) so content-defined chunking exhibits real cross-doc chunk
    dedup — the property fixed-size blocks can't have once offsets
    shift."""
    import hashlib as _hl

    def blk(seed: str, n: int) -> bytes:
        out = b""
        i = 0
        while len(out) < n:
            out += _hl.md5(f"{seed}-{i}".encode()).digest()
            i += 1
        return out[:n]

    mid_len = 300 + (did * 37) % 700
    return blk("common-head", 1536) + blk(f"doc-{did}", mid_len) + blk("common-tail", 512)


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix (ops/textstats.py
    langid_confusion): the crawl-metadata audit — per (declared,
    predicted) cell counts + exact per-mille share within the declared
    language. One detection pass + one skinny aggregate."""
    from dads_spark.ops import langid_confusion

    return langid_confusion(_t(spark, sf_dir, "documents"))


def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking for blob-level storage dedup
    (ops/dedup.py cdc_chunk_table): gear rolling hash as ONE vectorized
    sliding dot product per payload (the winnowing trick), min/avg/max
    64/256/1024. The staged payloads share header/trailer regions across
    all documents at shifting offsets, so identical chunk hashes appear
    corpus-wide — the dedup-ratio property the op exists for. Pinned
    bit-for-bit (every boundary, length, and chunk hash) against the
    per-byte textbook recurrence."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from dads_spark.oracles import cdc_chunks_oracle
    from dads_spark.ops import cdc_chunk_table

    t = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    ids = t.column("doc_id").to_pylist()
    payloads = [_cdc_payload(d) for d in ids]
    path = _dump_path("cdc_src")
    _pq.write_table(
        _pa.table(
            {
                "doc_id": _pa.array(ids, _pa.int64()),
                "payload": _pa.array(payloads, _pa.binary()),
            }
        ),
        path,
    )
    rows = cdc_chunks_oracle(ids, payloads)
    _write_dump(
        "cdc_oracle",
        {
            "doc_id": [r[0] for r in rows],
            "chunk_idx": [r[1] for r in rows],
            "offset": [r[2] for r in rows],
            "length": [r[3] for r in rows],
            "chunk_hash": [r[4] for r in rows],
        },
    )
    return cdc_chunk_table(spark.read.parquet(path))


def q_session_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent sequential trigram mining per user journey
    (rollup/analytics.py session_patterns): every window of 3
    consecutive event types is a pattern occurrence; support = distinct
    users — classic sequential-pattern semantics, one lead-chain window
    + one aggregate, exact integers."""
    from dads_spark.rollup import session_patterns

    ev = _t(spark, sf_dir, "events")
    return session_patterns(ev, "user_id", "event_type", "ts",
                            "event_id", k=3, min_support=5)


def q_exp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTel-style base-2 exponential histogram (rollup/analytics.py
    exp_histogram) per event_type: bucket = binary-representation length
    of floor(value) — no log2, no float boundary, exact on any engine."""
    from dads_spark.rollup import exp_histogram

    return exp_histogram(_t(spark, sf_dir, "events"), ["event_type"], "value")


def q_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filtered set-similarity self-join (ops/dedup.py
    jaccard_join, PPJoin family) at tau = 9/10 over the documents'
    distinct-token sets: rare-first global token order, prefix + length
    filters, all-integer threshold test. Oracle = brute-force all-pairs
    SQL, so hash equality proves the prefix filter misses nothing
    (9,020 of 124,745 sharing pairs qualify at sf0.01)."""
    from dads_spark.ops import jaccard_join

    return jaccard_join(_t(spark, sf_dir, "documents"), tau_num=9, tau_den=10)


def q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary-media decoding (ops/multimodal.py wav_pcm_stats): a
    RIFF/WAVE PCM container is synthesized per document from the
    deterministic sample formula s[i] = ((doc_id*31 + i*17) % 65536)
    - 32768, decoded back with a chunk-walking header parser + one
    np.frombuffer per payload, and the EXACT integer waveform stats are
    pinned by SQL computing the same formula over generate_series — the
    binary pack -> decode round trip is the hash surface. Upgrades the
    multimodal column plumbing from 'codec stubbed' to a real decode
    path for a real format (PCM needs no codec library)."""
    import numpy as _np2
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from dads_spark.ops import make_wav_pcm, wav_pcm_stats

    t = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    ids = t.column("doc_id").to_pylist()
    i = _np2.arange(1000, dtype=_np2.int64)
    payloads = [
        make_wav_pcm(((did * 31 + i * 17) % 65536) - 32768, 8000)
        for did in ids
    ]
    path = _dump_path("wav_src")
    _pq.write_table(
        _pa.table(
            {
                "media_id": _pa.array(ids, _pa.int64()),
                "payload": _pa.array(payloads, _pa.binary()),
            }
        ),
        path,
    )
    return wav_pcm_stats(spark.read.parquet(path))


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decoding (ops/multimodal.py bmp_stats): a 24-bit
    BI_RGB BMP is synthesized per document — pixel (r, c) channel k =
    (doc_id*7 + r*5 + c*3 + k*11) % 256 on a 16x24 grid — decoded back
    through the header parser + stride-padded bottom-up pixel decode,
    and the exact integer channel stats are pinned by SQL recomputing
    the formula over the row/col grid. The image twin of wav_decode."""
    import numpy as _np2
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from dads_spark.ops import bmp_stats, make_bmp

    t = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    ids = t.column("doc_id").to_pylist()
    r = _np2.arange(16)[:, None, None]
    c = _np2.arange(24)[None, :, None]
    k = _np2.arange(3)[None, None, :]
    payloads = [
        make_bmp(((did * 7 + r * 5 + c * 3 + k * 11) % 256).astype(_np2.uint8))
        for did in ids
    ]
    path = _dump_path("bmp_src")
    _pq.write_table(
        _pa.table(
            {
                "media_id": _pa.array(ids, _pa.int64()),
                "payload": _pa.array(payloads, _pa.binary()),
            }
        ),
        path,
    )
    return bmp_stats(spark.read.parquet(path))


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decoding (ops/multimodal.py png_stats):
    an 8-bit RGB PNG is synthesized per document — pixel (r, c) channel
    k = (doc_id*13 + r*3 + c*7 + k*17) % 256 on a 12x18 grid, each
    scanline FORWARD-filtered with type (doc_id + r) % 5 so all five
    PNG filters appear — then decoded back through chunk walking, zlib
    inflate, and filter inversion. The oracle recomputes the pixel
    formula in SQL and never sees a byte of PNG: hash equality proves
    inflate+unfilter exactly inverts deflate+filter across the corpus."""
    import numpy as _np2
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from dads_spark.ops import make_png, png_stats

    t = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    ids = t.column("doc_id").to_pylist()
    r = _np2.arange(12)[:, None, None]
    c = _np2.arange(18)[None, :, None]
    k = _np2.arange(3)[None, None, :]
    payloads = [
        make_png(
            ((did * 13 + r * 3 + c * 7 + k * 17) % 256).astype(_np2.uint8),
            [(did + y) % 5 for y in range(12)],
        )
        for did in ids
    ]
    path = _dump_path("png_src")
    _pq.write_table(
        _pa.table(
            {
                "media_id": _pa.array(ids, _pa.int64()),
                "payload": _pa.array(payloads, _pa.binary()),
            }
        ),
        path,
    )
    return png_stats(spark.read.parquet(path))


def q_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel despiking (rollup/analytics.py hampel_filter): rolling
    lower-median + rolling MAD over a +-5 hourly window, spike iff
    |y - med| > 3*MAD — exact integers end to end (lower-median rule, no
    even-count averaging), JVM array expressions only."""
    from dads_spark.rollup import hampel_filter

    ev = _t(spark, sf_dir, "events")
    out = hampel_filter(ev, ["event_type"], "ts", half_window=5, k=3)
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("ws"),
        "y",
        "med",
        "mad",
        "is_spike",
    )


def q_index_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance (ops/textstats.py
    index_delta_merge): the crawl-1 index patched with the crawl-3
    change set (fingerprint full-outer join detects changes; only
    changed/new docs re-tokenize). The oracle builds the crawl-3 index
    FROM SCRATCH — hash equality pins the incremental == batch
    invariant, cost proportional to the delta."""
    from dads_spark.ops import index_delta_merge

    snap = _crawl_snapshots(_t(spark, sf_dir, "documents"))
    lo, hi = snap.agg(F.min("crawl_ts"), F.max("crawl_ts")).first()
    old = snap.where(F.col("crawl_ts") == lo).select(
        F.col("url").alias("doc_key"), "text"
    )
    new = snap.where(F.col("crawl_ts") == hi).select(
        F.col("url").alias("doc_key"), "text"
    )
    return index_delta_merge(old, new, id_col="doc_key", min_df=3)


def q_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-visitation projection (ops/linkgraph.py
    covisitation) over (user, page-id-from-props): weight = distinct
    common users, heavy users cut at 50 distinct items (a third of the
    synthetic users are cut, pinning the cut semantics) and min_weight
    25 splits the weight distribution (721 of 4950 pairs survive) so
    both the cut and the threshold discriminate."""
    from dads_spark.ops import covisitation

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    )
    return covisitation(ev, "user_id", "page",
                        max_items_per_user=50, min_weight=25)


def q_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-contract audit (ops/profile.py
    data_contract_audit) over the events table: null/unique/range/set/
    regex rules evaluated as conditional sums in ONE aggregate over one
    scan, exploded back to one row per rule. The rule set includes
    checks that FAIL on this data (value <= 50, a 3-type whitelist) so
    the gate pins non-zero violation counts, not just zeros."""
    from dads_spark.ops import data_contract_audit

    ev = _t(spark, sf_dir, "events")
    rules = [
        ("r1", "event_id", "not_null", None),
        ("r2", "event_id", "unique", None),
        ("r3", "value", "min", 0.0),
        ("r4", "value", "max", 50.0),
        ("r5", "event_type", "in_set", ["view", "click", "purchase"]),
        ("r6", "event_type", "rlike", "^[a-z_]+$"),
        ("r7", "user_id", "not_null", None),
        ("r8", "ts", "not_null", None),
    ]
    return data_contract_audit(ev, rules)


def q_rolling_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest (rollup/forecast.py
    rolling_backtest): last 4x24 hourly buckets held out as per-fold
    blocks, seasonal-naive (wall-clock t-168h self-join, gap-safe)
    scored against persistence in exact integers + one quantized skill
    ratio per fold."""
    from dads_spark.rollup import rolling_backtest

    ev = _t(spark, sf_dir, "events")
    return rolling_backtest(
        ev, ["event_type"], "ts", tier="hour",
        horizon=24, n_folds=4, season_sec=7 * 86_400,
    )


def q_alert_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert episodes with hysteresis (rollup/slo.py alert_hysteresis):
    breach = exact-integer 1.5x-of-baseline-mean rule, fire at the 3rd
    consecutive breaching hour, clear at the 2nd consecutive quiet hour
    — Prometheus for:/keep_firing_for: semantics as pure window algebra,
    pinned bit-for-bit by the SQL twin."""
    from dads_spark.rollup import alert_hysteresis

    ev = _t(spark, sf_dir, "events")
    out = alert_hysteresis(
        ev, ["event_type"], "ts", tier="hour",
        baseline_days=7, fire_n=3, clear_m=2, num=3, den=2,
    )
    return out.select(
        "event_type",
        F.unix_timestamp("fired_ts").alias("fired_s"),
        F.unix_timestamp("cleared_ts").alias("cleared_s"),
    )


def q_scd2_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension enrichment (ops/scd.py
    asof_dimension_join): each purchase joined to the user's BROWSING
    state (SCD2 over the non-purchase event stream) valid at purchase
    time — the reproducible-historical-report join. LEFT keeps purchases
    that predate any browsing state (NULL attrs)."""
    from dads_spark.ops import asof_dimension_join, scd2_history

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        "event_type",
    )
    dim = scd2_history(
        ev.filter(F.col("event_type") != "purchase"),
        ["user_id"],
        "tus",
        ["event_type"],
        tiebreak_cols=["event_id"],
    ).withColumnRenamed("event_type", "browse_state")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "tus"
    )
    out = asof_dimension_join(facts, dim, ["user_id"], "tus", how="left")
    return out.select("event_id", "user_id", "browse_state", "state_valid_from")


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM surprisal with Laplace smoothing
    (ops/textstats.py bigram_logprob): the word-ORDER rung of the n-gram
    quality ladder (unigram_logprob scores vocabulary, this scores
    sequence). Integer micro-nat quantization per distinct bigram before
    the per-doc sums keeps the score exact under any partitioning."""
    from dads_spark.ops import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-constrained crawl-frontier schedule (ops/frontier.py):
    hosts shard to workers (cross-engine md5-digit hash so the oracle
    reproduces the assignment), per-host fetch offsets space requests
    ``delay`` apart by (priority DESC, url) rank, and each worker gets a
    total fetch order. The WHEN of the web-ingest spine, beside
    robots_policy's WHETHER."""
    from dads_spark.ops import frontier_schedule

    docs = _t(spark, sf_dir, "documents")
    frontier = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 10).cast("long").alias("priority"),
        # first md5 hex digit -> 0..15 -> mod 4: portable to DuckDB
        F.expr(
            "(locate(substring(md5(concat(source, '.example.com')), 1, 1), "
            "'0123456789abcdef') - 1) % 4"
        ).alias("wk"),
    )
    return frontier_schedule(
        frontier, n_workers=4, delay_sec=30, worker_col="wk"
    ).select(
        "host", "url",
        F.col("worker").cast("long").alias("worker"),
        "fetch_offset_sec", "fetch_order",
    )


def q_anomaly_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-ensemble anomaly vote (rollup/analytics.py
    anomaly_ensemble): seasonal hour-of-day z, median/MAD robust, and
    lag-delta shock evaluated in one pipeline; rows where >= 2 families
    agree. Composition pin over the individually-gated
    seasonal_outliers/mad_outliers semantics plus the delta detector."""
    from dads_spark.rollup import anomaly_ensemble

    ev = _t(spark, sf_dir, "events")
    return anomaly_ensemble(
        ev, ["event_type"], "event_id", "ts", "value"
    ).select(
        "event_type", "event_id", "ts", "value",
        "is_seasonal", "is_robust", "is_shock", "n_votes",
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global keep-first line dedup (ops/dedup.py
    line_dedup_global, the Lee et al. / C4 exact-substring pass at line
    grain): documents wrapped in a deterministic page shell (per-site
    header, a globally-shared banner, a short exempt id line); every
    >=20-char line survives only at its first (doc_id, pos) occurrence
    corpus-wide. Byte-level text output — the aggressive end of the
    dedup ladder (exact -> normalized -> line-global -> MinHash)."""
    from dads_spark.ops import line_dedup_global

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("=== site "), F.col("source"), F.lit(" header banner ===\n"),
            F.col("text"), F.lit("\n"),
            F.lit("subscribe to our newsletter today\nid "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return line_dedup_global(pages, "text", "doc_id", min_chars=20)


def _crawl_snapshots(docs: DataFrame) -> DataFrame:
    """Three deterministic crawl snapshots of the documents corpus (the
    input_hint page shape: url + crawl timestamp + text). Crawl 1 misses
    doc_id%7==0 (they arrive later => 'new'); crawl 2 rewrites %9==0
    wholesale and appends to %5==0; crawl 3 truncates %6==0 to 120 chars
    and drops %11==5 ('gone'). Exactly mirrored in the DuckDB oracle."""
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit("/page/"),
        F.col("doc_id").cast("string"),
    )
    t2 = (
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.lit("replacement content for document "),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" appended update paragraph marker")),
        )
        .otherwise(F.col("text"))
    )
    t3 = F.when(F.col("doc_id") % 6 == 0, F.substring(t2, 1, 120)).otherwise(t2)
    c1 = docs.filter(F.col("doc_id") % 7 != 0).select(
        url.alias("url"),
        F.lit("2024-03-01").cast("timestamp").alias("crawl_ts"),
        F.col("text"),
    )
    c2 = docs.select(
        url.alias("url"),
        F.lit("2024-03-08").cast("timestamp").alias("crawl_ts"),
        t2.alias("text"),
    )
    c3 = docs.filter(F.col("doc_id") % 11 != 5).select(
        url.alias("url"),
        F.lit("2024-03-15").cast("timestamp").alias("crawl_ts"),
        t3.alias("text"),
    )
    return c1.unionByName(c2).unionByName(c3)


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-crawl content drift (ops/crawldiff.py crawl_delta):
    per-(url, crawl) status new/unchanged/changed_minor/changed_major/
    gone with exact token-Jaccard change magnitude. Broadcast crawl
    spine, ONE url-keyed window shuffle, no urls×crawls grid — the
    re-crawl curation signal at Common-Crawl grain."""
    from dads_spark.ops import crawl_delta

    snap = _crawl_snapshots(_t(spark, sf_dir, "documents"))
    d = crawl_delta(snap, minor_jaccard=0.5)
    return d.select(
        "url",
        F.date_format("crawl_ts", "yyyy-MM-dd").alias("crawl_day"),
        "status",
        "jaccard",
    )


def q_asap_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASAP smoothing parameter search (Rong & Bailis, VLDB 2017) per
    hourly count series: the auto-chosen moving-average window minimizing
    roughness under the kurtosis-preservation constraint, micro-unit
    quantized. One task per series (grouped-S2G shape); the staged twin
    runs the SAME deterministic search on the raw-derived series."""
    from dads_spark.rollup import asap_smooth_params, asap_window_search

    from dads_spark.oracles import hourly_counts

    import numpy as _np2

    ets, ns, ws, rs, ks = [], [], [], [], []
    for et, (_b, v) in sorted(hourly_counts(sf_dir).items()):
        w, r, k = asap_window_search(_np2.asarray(v, dtype=_np2.float64))
        q6 = lambda x: int(_np2.sign(x) * _np2.floor(abs(x) * 1e6 + 0.5))  # noqa: E731
        ets.append(et)
        ns.append(len(v))
        ws.append(w)
        rs.append(q6(r))
        ks.append(q6(k))
    _write_dump(
        "asap_oracle",
        {
            "event_type": ets,
            "n_points": ns,
            "w_opt": ws,
            "roughness_q6": rs,
            "kurtosis_q6": ks,
        },
    )
    ev = _t(spark, sf_dir, "events")
    return asap_smooth_params(ev, ["event_type"], "ts", None, "hour")


def q_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-level pruning effectiveness of the compressed tier store,
    PINNED as data (not prose): every blob of the chunked Gorilla store
    is classified pruned / full / edge against the same mid-range window
    q_compressed_read_range reads, straight from the plain [t_min_us,
    t_max_us] pruning columns — no decode. The oracle reproduces the
    deterministic chunk layout (64-point chunks over each key's ordered
    hour buckets) in SQL, so hash equality pins BOTH the layout and the
    pruning arithmetic that makes a day-over-a-year read decode ~1/365
    of the store."""
    import os as _os

    from dads_spark.compress import write_compressed_tier
    from dads_spark.rollup import rollup_from_raw

    ev = _t(spark, sf_dir, "events")
    lo, hi = (
        ev.agg(
            F.min(F.unix_timestamp(F.col("ts").cast("timestamp"))),
            F.max(F.unix_timestamp(F.col("ts").cast("timestamp"))),
        ).first()
    )
    t0 = ((int(lo) // 3600) * 3600 + 24 * 3600) * 1_000_000
    t1 = ((int(hi) // 3600) * 3600 - 36 * 3600) * 1_000_000
    path = _stage_dir("gorilla_store_stats", sf_dir)
    if not _os.path.exists(f"{path}/_SUCCESS"):
        hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
        write_compressed_tier(hour, ["event_type"], path, chunk_points=64)
    blobs = spark.read.parquet(path)
    survives = (F.col("t_max_us") >= t0) & (F.col("t_min_us") < t1)
    full = (F.col("t_min_us") >= t0) & (F.col("t_max_us") < t1)
    return blobs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_blobs"),
        F.sum((~survives).cast("long")).alias("n_pruned"),
        F.sum(full.cast("long")).alias("n_full"),
        F.sum((survives & ~full).cast("long")).alias("n_edge"),
        F.sum("n_points").cast("long").alias("points_total"),
        F.sum(F.when(survives, F.col("n_points")).otherwise(0))
        .cast("long")
        .alias("points_decoded"),
    )


def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between the first and last crawl snapshot
    (ops/crawldiff.py trending_terms): Laplace-smoothed per-term log-
    ratio in sum-of-logs micro-units — the per-TERM complement of
    crawl_delta's per-url view. One explode shuffle per compared crawl;
    the join/totals run on checkpointed vocab-sized count tables."""
    from dads_spark.ops import trending_terms

    snap = _crawl_snapshots(_t(spark, sf_dir, "documents"))
    return trending_terms(snap, min_count=10)


def q_crawl_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain churn time series (ops/crawldiff.py crawl_churn) over
    the crawl_delta frame: status counts + changed/present ratio per
    (domain, crawl) — one map-side-partial hash agg on the skinny delta
    relation; the domain parse is a map-only regexp on the url."""
    from dads_spark.ops import crawl_churn, crawl_delta

    snap = _crawl_snapshots(_t(spark, sf_dir, "documents"))
    d = crawl_delta(snap, minor_jaccard=0.5).select(
        F.regexp_extract("url", r"^https://([^/]+)/", 1).alias("domain"),
        F.date_format("crawl_ts", "yyyy-MM-dd").alias("crawl_day"),
        "status",
        "jaccard",
    )
    return crawl_churn(d, "domain", "crawl_day")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (ops/
    sampling.py weighted_sample, Efraimidis-Spirakis keys): per source,
    the 20 docs with the smallest -ln(u)/w for w = byte length — the
    quality-WEIGHTED curation cut. u derives exactly from md5(doc_id)
    (13 hex digits / 16^13), so DuckDB reproduces the draw bit-for-bit."""
    from dads_spark.ops import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "source", F.octet_length("text").cast("double").alias("w")
    )
    return weighted_sample(staged, ["source"], "doc_id", "w", 20).select(
        "doc_id", "source", F.col("w").cast("long").alias("n_bytes")
    )


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-tier exact dedup (ops/dedup.py
    dedup_exact_normalized): lowercase / punctuation-strip / whitespace
    collapse, then group — catches trivial reskins byte-exact dedup
    misses without paying for MinHash. RE2-compatible explicit character
    classes run identically in DuckDB."""
    from dads_spark.ops import dedup_exact_normalized

    docs = _t(spark, sf_dir, "documents")
    return dedup_exact_normalized(docs).select(
        "rep_id", F.col("dup_count").cast("long").alias("dup_count")
    )


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU/WAU (rollup/analytics.py rolling_active_users): distinct
    users per day and per trailing 7 days. COUNT(DISTINCT) doesn't
    decompose over sliding windows, so the exact plan reduces events to
    the distinct (day, user) relation FIRST and range-expands that skinny
    relation (<= 7 rows per pair) — the HLL tier cascade is the
    approximate sibling; this is the exact serving query."""
    from dads_spark.rollup import rolling_active_users

    ev = _t(spark, sf_dir, "events")
    return rolling_active_users(ev, "user_id", "ts", 7)


def q_promql_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL range-vector ``increase``/``rate`` with Prometheus's full
    extrapolation algorithm (rollup/promql.py extrapolated_increase):
    a resetting counter is synthesized per event_type (running sum of
    floor(value*10) mod 100000 — deterministic in both engines), then
    evaluated every hour over a trailing 2h window: overlapping windows
    via bounded explode, reset adjustment, boundary extrapolation capped
    at 1.1x the mean sample interval and at the counter's zero crossing.
    The oracle mirrors the double expression tree node-for-node, so the
    extrapolated values are bit-identical (canonicalized at 9dp)."""
    from dads_spark.rollup import extrapolated_increase

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts_e", "event_id")
    samples = ev.select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("ts_e"),
        F.floor(F.col("value") * 10).cast("long").alias("_inc"),
    ).select(
        "event_type",
        "event_id",
        "ts_e",
        (F.sum("_inc").over(w) % 100000).alias("counter"),
    )
    return extrapolated_increase(
        samples,
        ["event_type"],
        "ts_e",
        "counter",
        window_s=7200,
        step_s=3600,
        order_cols=["event_id"],
    )


def q_forecast_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down proportional forecast reconciliation (rollup/reconcile.py
    topdown_reconcile): independent base forecasts at two hierarchy
    levels — per-type mean daily count over the last 7 days vs total mean
    daily count over the last 14 days — are incoherent by construction;
    reconciliation distributes the parent forecast by the children's
    shares so the grains agree. Shares divide exact longs (sum of counts,
    not sum of doubles), so no float-summation order enters the hash."""
    from dads_spark.rollup import topdown_reconcile

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.floor(F.unix_timestamp("ts") / 86400).alias("_day")
    )
    maxd = ev.agg(F.max("_day").alias("_maxd"))
    base = ev.crossJoin(F.broadcast(maxd))
    children = (
        base.filter(F.col("_day") > F.col("_maxd") - 7)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    parent = (
        base.filter(F.col("_day") > F.col("_maxd") - 14)
        .agg((F.count(F.lit(1)) / F.lit(14.0)).alias("parent_fc"))
    )
    out = topdown_reconcile(
        children, parent, ["event_type"], fc_col="cnt",
        parent_fc_col="parent_fc",
    )
    return out.select(
        "event_type",
        "cnt",
        (F.col("cnt") / F.lit(7.0)).alias("base_fc"),
        "share",
        "reconciled",
    )


def q_acf_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection per series (rollup/periodicity.py
    acf_dominant_period): dense hourly event counts on the global hour
    grid, autocorrelation over lags 2..48 kept as an EXACT rational
    N(k)/D via n-scaled centering (y = n*x - sum), argmax by pure int64
    comparison — no float anywhere, the oracle recomputes the same
    integers with a generate_series grid + lagged self-join."""
    from dads_spark.rollup import acf_dominant_period

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).alias("_h"),
    )
    h0 = ev.agg(F.min("_h").alias("_h0"))
    counts = (
        ev.crossJoin(F.broadcast(h0))
        .groupBy("event_type", (F.col("_h") - F.col("_h0")).alias("h_idx"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return acf_dominant_period(
        counts, ["event_type"], "h_idx", "cnt", lag_lo=2, lag_hi=48
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering (ops/sampling.py
    curriculum_order): documents ntile'd into 4 quality tiers by
    (n_chars desc, md5 tiebreak), md5-shuffled within tier, interleaved
    round-robin into one total training order — positions are a
    permutation of 1..N, reproducible on any engine/partitioning."""
    from dads_spark.ops import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    return curriculum_order(docs, "doc_id", "n_chars", n_tiers=4)


def q_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-ordered train/test split with embargo (ops/sampling.py
    temporal_split): per event_type, the first (n*80) div 100 rows by
    (ts, event_id) train; rows within 2h after the last training
    timestamp are embargoed (the time-axis analogue of n-gram
    decontamination); the rest test. Exact integer rank arithmetic."""
    from dads_spark.ops import temporal_split

    ev = _t(spark, sf_dir, "events")
    return temporal_split(
        ev, ["event_type"], "ts", "event_id", train_pct=80, embargo_s=7200
    ).select("event_type", "event_id", "split")


def q_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``predict_linear``/``deriv`` (rollup/promql.py
    predict_linear): a long gauge (floor(value*1000)) per event_type is
    least-squares-fit over every trailing 2h window on the hourly eval
    grid, x relative to the evaluation time (Prometheus linearRegression
    interceptTime semantics), and read 30 min ahead. The four regression
    moments are exact longs; the slope/intercept division is one fixed
    double tree the oracle mirrors node-for-node."""
    from dads_spark.rollup import predict_linear

    ev = _t(spark, sf_dir, "events")
    samples = ev.select(
        "event_type",
        F.unix_timestamp("ts").alias("ts_e"),
        F.floor(F.col("value") * 1000).cast("long").alias("gauge"),
    )
    return predict_linear(
        samples,
        ["event_type"],
        "ts_e",
        "gauge",
        window_s=7200,
        step_s=3600,
        horizon_s=1800,
    )


def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank over the link_pagerank synthetic crawl graph
    (ops/linkgraph.py trustrank): teleport restricted to three trusted
    seeds — one of them (h2.org) dangling, so the dangling-mass-to-seeds
    redistribution is genuinely exercised — 3 power rounds, damping 0.85.
    Scores rounded to 6 dp for cross-engine hashing (same discipline as
    link_pagerank); the oracle unrolls the three rounds in SQL."""
    from dads_spark.ops import domain_edges, extract_links, trustrank

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">l</a> <a href=\'http://h'),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>m</a></p>"),
        ).alias("html"),
    )
    links = extract_links(pages, "html", "doc_id", keep=("src_domain",))
    edges = domain_edges(links, "src_domain", "link_url")
    seeds = spark.createDataFrame(
        [("h1.example.com",), ("h7.example.com",), ("h2.org",)],
        "node string",
    )
    return trustrank(edges, seeds, iterations=3, damping=0.85).select(
        "node", F.round("tr", 6).alias("tr")
    )


def q_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed trending score per event_type
    (rollup/analytics.py decayed_popularity): hourly age buckets, 24h
    half-life, 28-day horizon, anchored at the max event time (derived
    in-plan). Each event contributes the exact long 2^(28 - age_half_
    lives); the score divides by 2^28 — all-integer sums, one dyadic
    division, bit-identical on any engine with no rounding discipline."""
    from dads_spark.rollup import decayed_popularity

    ev = _t(spark, sf_dir, "events")
    return decayed_popularity(
        ev, ["event_type"], "ts", bucket_s=3600,
        half_life_buckets=24, horizon_buckets=672,
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of event values across event_type groups
    (ops/calibrate.py quantile_normalize): each row maps to the pooled
    distribution's value at its within-group quantile — exact integer
    rank arithmetic (ceil(r*N/n) via 64-bit div), deterministic tie
    breaks, no float interpolation. The cross-group score-calibration
    primitive; values pass through untouched so the hash is exact."""
    from dads_spark.ops import quantile_normalize

    ev = _t(spark, sf_dir, "events")
    return quantile_normalize(ev, ["event_type"], "value", "event_id")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities
    (ops/linkgraph.py label_propagation) over the synthetic crawl's
    undirected domain graph: 3 rounds, most-frequent neighbor label,
    min-label ties — a pure function of the edge set (no randomized
    update order), so the oracle unrolls the rounds in SQL. Exact
    strings, no float surface."""
    from dads_spark.ops import domain_edges, extract_links, label_propagation

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">l</a> <a href=\'http://h'),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>m</a></p>"),
        ).alias("html"),
    )
    links = extract_links(pages, "html", "doc_id", keep=("src_domain",))
    edges = domain_edges(links, "src_domain", "link_url")
    return label_propagation(edges, rounds=3)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution (rollup/analytics.py
    last_touch_attribution): every purchase/signup credits the most
    recent strictly-prior click/view by the same user within a 24h
    lookback, plus the count of sources in the trailing window. Pure
    window construction — no self-join, no range join; exact longs."""
    from dads_spark.rollup import last_touch_attribution

    ev = _t(spark, sf_dir, "events")
    return last_touch_attribution(
        ev, "user_id", "ts", "event_type", "event_id",
        source_types=["click", "view"],
        conversion_types=["purchase", "signup"],
        lookback_s=86400,
    )


def q_chimp_roundtrip_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour tier -> delta-of-delta + CHIMP XOR encode (compress/chimp.py:
    2-bit flags, 8-class rounded leading zeros, previous-class reuse —
    Liakos et al. PVLDB 2022) -> decode -> points. Same uncompressed
    rollup oracle as gorilla_roundtrip_hour: hash equality proves the
    second value codec lossless under distributed execution."""
    from dads_spark.compress import compressed_tier_roundtrip

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    rt = compressed_tier_roundtrip(hour, ["event_type"], codec="chimp")
    return rt.select(
        "event_type", _fmt_bucket(), F.round("value_sum", 2).alias("value_sum")
    )


def q_alp_roundtrip_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour tier -> delta-of-delta + ALP-style decimal re-scaling
    (compress/alp.py: Afroozeh & Boncz SIGMOD 2023 — round(v*10^e) to
    int64 + simple-8b zigzag packing, bit-exact division decode,
    exceptions raw) -> decode -> points. Same uncompressed rollup
    oracle as the XOR codecs: hash equality proves the fourth codec
    lossless under distributed execution. The lane's value_sum is
    2-decimal — exactly the decimal shape ALP compresses ~3x past
    Gorilla."""
    from dads_spark.compress import compressed_tier_roundtrip

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    rt = compressed_tier_roundtrip(hour, ["event_type"], codec="alp")
    return rt.select(
        "event_type", _fmt_bucket(), F.round("value_sum", 2).alias("value_sum")
    )


def q_rle_roundtrip_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour tier -> delta-of-delta + RUN-LENGTH value codec
    (compress/rle.py: bit-pattern runs, struct-of-arrays layout — the
    flat-series fast path the columnar-encoding advisor picks for
    stepwise gauges) over the DOC COUNT column (counts repeat; sums
    don't) -> decode -> points. Oracle is the uncompressed rollup:
    hash equality proves the fifth codec lossless under distributed
    execution."""
    from dads_spark.compress import compressed_tier_roundtrip

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    rt = compressed_tier_roundtrip(
        hour, ["event_type"], value_col="doc_count", codec="rle"
    )
    return rt.select(
        "event_type", _fmt_bucket(),
        F.col("doc_count").cast("long").alias("doc_count"),
    )


def q_simple8b_roundtrip_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour tier -> simple-8b word-aligned INTEGER codec (compress/
    simple8b.py: Anh & Moffat 2010, the TimescaleDB/InfluxDB timestamp
    layout — 4-bit selector + 60-bit payload, RLE-of-ones fast path) over
    bucket-timestamp deltas AND doc counts -> decode -> points. Oracle is
    the UNCOMPRESSED rollup counts: hash equality proves the third codec
    (and the only integer one) lossless under distributed execution."""
    from dads_spark.compress import simple8b_tier_roundtrip

    ev = _t(spark, sf_dir, "events")
    hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
    rt = simple8b_tier_roundtrip(hour, ["event_type"])
    return rt.select("event_type", _fmt_bucket(), "doc_count")


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (ops/keywords.py rake_keywords): top-5
    keyphrases per document — maximal content-word runs between
    stopwords, word score = degree div freq in integer micro-units so
    phrase scores are exact longs; two-pass stopword rewrite keeps the
    regex lookaround-free (RE2 == Java). Oracle replays the pipeline in
    SQL with generate_subscripts ordinality."""
    from dads_spark.ops import rake_keywords

    docs = _t(spark, sf_dir, "documents")
    return rake_keywords(docs, "doc_id", "text", top_k=5)


def _stage_kcore_oracle(sf_dir: str) -> str:
    """Scalar Batagelj-Zaversnik peel over the same synthetic crawl
    graph the Spark side derives — shares nothing with the h-operator."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from dads_spark.oracles import core_numbers_oracle

    docs = _pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    ).to_pandas()
    edges = set()
    for did in docs["doc_id"]:
        s = f"h{did % 97}.example.com"
        d1 = f"h{(did * 31 + 7) % 97}.example.com"
        d2 = f"h{(did * 5 + 3) % 11}.org"
        for d in (d1, d2):
            if d != s:
                edges.add((s, d))
    core = core_numbers_oracle(sorted(edges))
    nodes = sorted(core)
    return _write_dump(
        "kcore_oracle",
        {
            "node": _pa.array(nodes, type=_pa.string()),
            "core": _pa.array([core[n] for n in nodes], type=_pa.int64()),
        },
    )


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-core numbers over the synthetic crawl's undirected domain
    graph (ops/linkgraph.py core_numbers): h-operator fixed point —
    c(v) <- h-index of neighbor values, starting at degree — iterated
    to convergence; pinned against a scalar Batagelj-Zaversnik peel that
    shares no algorithmic structure. Exact longs."""
    from dads_spark.ops import core_numbers, domain_edges, extract_links

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">l</a> <a href=\'http://h'),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>m</a></p>"),
        ).alias("html"),
    )
    links = extract_links(pages, "html", "doc_id", keep=("src_domain",))
    edges = domain_edges(links, "src_domain", "link_url")
    _stage_kcore_oracle(sf_dir)
    return core_numbers(edges)


def q_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring search through a trigram posting index
    (ops/trigram.py): candidates must contain EVERY query trigram
    (posting lookup + gram-count check), then only candidates are
    verified with instr. The oracle is the DIRECT full-scan strpos —
    hash equality proves the index path prunes without losing a hit."""
    from dads_spark.ops import trigram_postings, trigram_search

    docs = _t(spark, sf_dir, "documents")
    postings = trigram_postings(docs, "doc_id", "text")
    return trigram_search(docs, postings, "value table", "doc_id", "text")


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head-metadata extraction (ops/htmltext.py html_metadata): title,
    meta description, rel=canonical, robots-noindex flag, JSON-LD block
    count, probed in BOTH attribute orders with lookaround-free RE2
    patterns. A deterministic page head (fields present/absent/reversed
    by doc_id residues) is synthesized identically in both engines; the
    oracle runs the same expressions in DuckDB."""
    from dads_spark.ops import html_metadata

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    head = F.concat(
        F.lit("<html><head><title>Doc "),
        did.cast("string"),
        F.lit("</title>"),
        # description: present for 2/3 of docs, attribute order flips
        F.when(
            did % 3 == 0,
            F.concat(F.lit('<meta name="description" content="summary '),
                     did.cast("string"), F.lit('">')),
        ).when(
            did % 3 == 1,
            F.concat(F.lit("<meta content='rev "), did.cast("string"),
                     F.lit("' name='description'>")),
        ).otherwise(F.lit("")),
        F.when(
            did % 2 == 0,
            F.concat(F.lit('<link rel="canonical" href="https://c.example/'),
                     did.cast("string"), F.lit('">')),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.lit("<meta name='robots' content='noindex,nofollow'>"),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.lit('<script type="application/ld+json">{}</script>'),
        ).otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )
    pages = docs.select("doc_id", head.alias("html"))
    return html_metadata(pages).select(
        "doc_id", "title", "meta_description", "canonical_url",
        "noindex", "n_jsonld",
    )


def q_ip_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval lookup as a bucketed EQUI-join (ops/rangejoin.py
    bucketed_range_join): events get a deterministic synthetic IPv4
    (Knuth-hash of user_id mod 2^32), nations define 25 address ranges
    with gaps; each event maps to the covering range(s). The oracle is
    the direct BETWEEN join — hash equality proves the bucketing exact
    while the Spark plan stays a hash join (no nested loop; audited)."""
    from dads_spark.ops import bucketed_range_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        ((F.col("user_id") * 2654435761) % 4294967296).alias("ip"),
    )
    na = _t(spark, sf_dir, "nation").select(
        F.col("n_name").alias("geo"),
        (F.col("n_nationkey").cast("long") * 171798691).alias("lo"),
        (F.col("n_nationkey").cast("long") * 171798691 + 120000000).alias(
            "hi"
        ),
    )
    out = bucketed_range_join(ev, na, "ip", "lo", "hi", bucket=1 << 24)
    return out.select("event_id", "ip", "geo")


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between event types per user
    (rollup/analytics.py transition_matrix): lag window ordered by
    (ts, event_id), pair counts + exact row totals — probability stays a
    fraction of longs, no float surface."""
    from dads_spark.rollup import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(ev, "user_id", "ts", "event_type", "event_id")


def q_shuffle_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight shuffle-skew diagnosis (ops/profile.py
    shuffle_skew_report): events bucketed by md5(user_id) prefix into
    256 hex buckets; per-bucket load, key count, and heaviest key —
    the planning twin of the salted rollup. md5 prefixes avoid any
    numeric hex parsing, so the oracle runs the identical expressions."""
    from dads_spark.ops import shuffle_skew_report

    ev = _t(spark, sf_dir, "events")
    return shuffle_skew_report(ev, ["user_id"], n_hex=2)


def q_wow_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week hourly comparison per event_type
    (rollup/analytics.py calendar_compare): each hour bucket equi-joined
    with the bucket exactly 168h earlier, full-outer with zero fill so
    appearing/vanishing hours both show. Exact longs throughout."""
    from dads_spark.rollup import calendar_compare

    ev = _t(spark, sf_dir, "events")
    return calendar_compare(ev, ["event_type"], "ts", "hour", 168)


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B readout (ops/abtest.py ab_test_proportions):
    users assigned to arms by md5 nibble (the hash_split convention),
    success = value > 50, grouped by event_type. Four exact long counts
    plus a z-score whose double tree the oracle mirrors node-for-node."""
    from dads_spark.ops import ab_test_proportions

    ev = _t(spark, sf_dir, "events")
    return ab_test_proportions(
        ev, "user_id", F.col("value") > 50, ["event_type"]
    )


def q_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``histogram_quantile`` (rollup/promql.py): p90 per
    (event_type, hour) from classic cumulative le-buckets
    [1, 5, 25, 125, +Inf] built over ``value`` — exact integer counts,
    then Prometheus quantile.go interpolation (first bucket reaching
    rank = q*total; +Inf bucket falls back to the highest finite bound;
    first-bucket lower bound is 0). The oracle mirrors the double
    interpolation tree node-for-node."""
    from dads_spark.rollup import histogram_quantile

    les = [1.0, 5.0, 25.0, 125.0, float("inf")]
    ev = _t(spark, sf_dir, "events")
    buckets = (
        ev.select(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 3600).cast("long") * 3600).alias(
                "bucket_sec"
            ),
            "value",
        )
        .withColumn("le", F.explode(F.array(*[F.lit(x) for x in les])))
        .groupBy("event_type", "bucket_sec", "le")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("le"), 1).otherwise(0))
            .cast("long")
            .alias("cum_count")
        )
    )
    return histogram_quantile(buckets, ["event_type", "bucket_sec"], 0.9)


def q_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard latency band — p50/p90/p99 per (event_type, day)
    from ONE histogram pass (rollup/promql.py histogram_quantile with a
    quantile list: the window pass runs once, per-quantile owning-bucket
    selection is a bounded explode). Same Prometheus bucket semantics
    and mirrored interpolation tree as `histogram_quantile`."""
    from dads_spark.rollup import histogram_quantile

    les = [1.0, 5.0, 25.0, 125.0, float("inf")]
    ev = _t(spark, sf_dir, "events")
    buckets = (
        ev.select(
            "event_type",
            (F.floor(F.unix_timestamp("ts") / 86400).cast("long") * 86400)
            .alias("day_sec"),
            "value",
        )
        .withColumn("le", F.explode(F.array(*[F.lit(x) for x in les])))
        .groupBy("event_type", "day_sec", "le")
        .agg(
            F.sum(F.when(F.col("value") <= F.col("le"), 1).otherwise(0))
            .cast("long")
            .alias("cum_count")
        )
    )
    return histogram_quantile(
        buckets, ["event_type", "day_sec"], [0.5, 0.9, 0.99]
    )


def q_staleness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series staleness audit (rollup/analytics.py staleness_report):
    last sample, historical silence count (inter-arrival > lookback),
    and a stale flag vs the corpus's newest sample — PromQL absent()/
    staleness markers as a batch report. 3-day lookback over the events
    table; all exact integers."""
    from dads_spark.rollup import staleness_report

    ev = _t(spark, sf_dir, "events")
    return staleness_report(
        ev, "event_type", "user_id", "ts", lookback_s=259200
    )


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs metric correlation matrix (rollup/analytics.py
    correlation_matrix): Pearson r between event types over aligned
    hourly buckets — values quantized to integer centi-units before
    aggregation so every moment is an exact long; the self-join fan-out
    is bounded by the metric catalog (k^2 per bucket), never traffic.
    Oracle mirrors the double Pearson tree node-for-node."""
    from dads_spark.rollup import correlation_matrix

    ev = _t(spark, sf_dir, "events")
    return correlation_matrix(
        ev, "event_type", "ts", "value", bucket_s=3600, scale=100
    )


def q_label_index_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDB label inverted index (rollup/labelindex.py): the series
    catalog — distinct (event_type, user_id%8 shard, props.k%5 kband)
    label sets — is melted into postings, then the selector
    {event_type="click", kband="2", shard!="3"} is answered by ONE
    filtered posting scan + count-matching intersection + an anti-join
    for the negative matcher. Oracle = the DIRECT predicate on the
    catalog: the index prunes, it never loses."""
    from dads_spark.rollup import build_label_index, series_by_labels

    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    cat = (
        ev.select(
            "event_type",
            (F.col("user_id") % 8).alias("shard"),
            (k % 5).alias("kband"),
        )
        .distinct()
        .withColumn(
            "series_id",
            F.concat_ws(":", "event_type", "shard", "kband"),
        )
    )
    idx = build_label_index(cat, "series_id", ["event_type", "shard", "kband"])
    sel = series_by_labels(
        idx, {"event_type": "click", "kband": "2"}, {"shard": "3"}
    )
    return sel.join(cat, "series_id").select(
        "series_id", "event_type", "shard", "kband"
    )


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect/canonical chain resolution (ops/redirects.py
    resolve_chains): a deterministic redirect map is synthesized from
    doc_id identically in both engines — doc_id%10!=0 chains each url
    one step down (terminals at the %10==0 base), doc_id%100==0 adds a
    back-edge that turns that base's whole group into a 10-cycle. The
    pointer-doubling resolver (5 fixed self-joins for the 32-hop
    horizon) must agree with DuckDB's step-at-a-time recursive CTE:
    same terminals, same EXACT hop counts, same unresolved cycle set."""
    from dads_spark.ops import resolve_chains

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id")
    url = lambda c: F.concat(F.lit("https://ex.com/p"), c.cast("string"))  # noqa: E731
    chain = docs.filter(did % 10 != 0).select(
        url(did).alias("src"), url(did - 1).alias("dst")
    )
    cyc = docs.filter(did % 100 == 0).select(
        url(did).alias("src"), url(did + 9).alias("dst")
    )
    return resolve_chains(chain.unionByName(cyc), "src", "dst", max_hops=32)


def q_series_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric daily series churn (rollup/analytics.py series_churn):
    distinct (metric, series, day) activity + a first-day window —
    n_active / n_new / n_returning as exact longs. The TSDB
    cardinality-explosion signal."""
    from dads_spark.rollup import series_churn

    ev = _t(spark, sf_dir, "events")
    return series_churn(ev, "event_type", "user_id", "ts")


def q_content_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type sniffing (ops/multimodal.py
    sniff_content_type): one payload per document cycling through the
    eight detected signatures (real make_png/make_bmp/make_wav_pcm
    outputs for the decodable formats; crafted public magic prefixes
    for pdf/gzip/zip/gif; a whitespace-prefixed HTML doc) — classified
    by pure-JVM hex-prefix codegen, no Python in the sniff path. The
    oracle knows only doc_id % 8 → expected type; hash equality pins
    the classifier on genuine format headers."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from dads_spark.ops import (
        make_bmp,
        make_png,
        make_wav_pcm,
        sniff_content_type,
    )

    t = _pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])
    ids = t.column("doc_id").to_pylist()
    img = (_np.arange(4 * 5 * 3, dtype=_np.uint8).reshape(4, 5, 3) * 7) % 256
    png, bmp = make_png(img), make_bmp(img)
    wav = make_wav_pcm(_np.arange(64, dtype=_np.int16))
    fixed = {
        3: b"%PDF-1.7\n1 0 obj\n<<>>\nendobj",
        4: b"\x1f\x8b\x08\x00" + b"\x00" * 20,
        5: b"PK\x03\x04\x14\x00" + b"\x00" * 20,
        6: b"  \n\t<!DOCTYPE html><html><body>hello</body></html>",
        7: b"GIF89a" + b"\x00" * 16,
    }
    payloads = [
        {0: png, 1: bmp, 2: wav}.get(did % 8, fixed.get(did % 8, b""))
        for did in ids
    ]
    path = _dump_path("sniff_src")
    _pq.write_table(
        _pa.table(
            {
                "media_id": _pa.array(ids, _pa.int64()),
                "payload": _pa.array(payloads, _pa.binary()),
            }
        ),
        path,
    )
    return sniff_content_type(spark.read.parquet(path)).select(
        "media_id", "sniffed_type"
    )


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingest + crawl reconciliation (ops/sitemaps.py): per
    source domain a sitemap XML is RENDERED in Spark from deterministic
    rules over documents — declared iff doc_id%3!=0 (CDATA-wrapped loc
    on %9==1 rows, entity-escaped &amp; on all), lastmod 2025 on %5==0
    (newer than every crawl → stale) else 2023, plus a declared-only
    ghost URL per %7==0 doc (never crawled → gap) — then PARSED BACK by
    regex (parse_sitemap) and reconciled against the crawl table
    (crawled = all docs, warc_ts = 2024-01-01 + doc_id hours). The
    oracle computes coverage straight from the rules and never sees a
    byte of XML: hash equality proves parse∘render is identity AND the
    gap/orphan/ok/stale semantics."""
    from dads_spark.ops import crawl_coverage, parse_sitemap

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    did = F.col("doc_id")
    loc = F.concat(
        F.lit("https://"),
        "source",
        F.lit(".example.com/p?a=1&id="),
        did.cast("string"),
    )
    lastmod = F.when(did % 5 == 0, F.lit("2025-01-01T00:00:00")).otherwise(
        F.lit("2023-06-01T00:00:00")
    )
    esc = lambda c: F.replace(c, F.lit("&"), F.lit("&amp;"))  # noqa: E731
    entry_xml = F.concat(
        F.lit("<url><loc>"),
        F.when(
            did % 9 == 1, F.concat(F.lit("<![CDATA["), loc, F.lit("]]>"))
        ).otherwise(esc(loc)),
        F.lit("</loc><lastmod>"),
        lastmod,
        F.lit("</lastmod></url>"),
    )
    ghost = F.concat(
        F.lit("<url><loc>"), esc(loc), F.lit("-ghost</loc></url>")
    )
    entries = (
        docs.filter(did % 3 != 0)
        .select("source", entry_xml.alias("e"))
        .unionByName(
            docs.filter(did % 7 == 0).select("source", ghost.alias("e"))
        )
    )
    xml = entries.groupBy(F.col("source").alias("host")).agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.concat_ws("", F.array_sort(F.collect_list("e"))),
            F.lit("</urlset>"),
        ).alias("sitemap_xml")
    )
    declared = parse_sitemap(xml)
    pages = docs.select(
        loc.alias("url"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=did.cast("int"))
        ).alias("warc_ts"),
    )
    cov = crawl_coverage(declared, pages)
    # epoch seconds, not raw timestamp: Spark's Arrow export is tz-aware
    # (timestamp_ltz) while DuckDB's is naive — longs are engine-neutral
    return cov.select(
        "url",
        "status",
        "lastmod",
        F.unix_timestamp("last_crawl_ts").alias("last_crawl_epoch"),
    )


def q_promql_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL resets()/changes() range-vector counts (rollup/promql.py
    resets_changes): per event_type the quantized value stream is
    evaluated hourly over a trailing 2h window — adjacent-pair drops
    (resets) and value changes, via ONE lag pass + the shared bounded
    grid explode, exact longs end-to-end. Oracle mirrors the pair+grid
    construction relationally."""
    from dads_spark.rollup import resets_changes

    ev = _t(spark, sf_dir, "events")
    samples = ev.select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("ts_e"),
        F.floor(F.col("value") * 10).cast("long").alias("v"),
    )
    return resets_changes(
        samples,
        ["event_type"],
        "ts_e",
        "v",
        window_s=7200,
        step_s=3600,
        order_cols=["event_id"],
    )


def _redelivered_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture: events as TSDB writes with synthetic
    re-deliveries — every user_id%3==0 event is delivered AGAIN at the
    same (series, ts) with a higher ingest version and value+1 (the
    retry won), and every user_id%7==0 event re-delivers with a LOWER
    version (a late loser)."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.col("user_id") % 8).alias("shard"),
        F.unix_timestamp("ts").alias("ts_e"),
        (F.col("event_id") * 10).alias("ver"),
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        "user_id",
    )
    retry = base.filter(F.col("user_id") % 3 == 0).select(
        "event_type",
        "shard",
        "ts_e",
        (F.col("ver") + 5).alias("ver"),
        (F.col("v") + 1).alias("v"),
        "user_id",
    )
    # late-loser versions are NEGATIVE event ids: globally distinct from
    # every 10k/10k+5 base/retry version, so version order is TOTAL per
    # series and the arrival walk is deterministic on any engine
    late = base.filter(F.col("user_id") % 7 == 0).select(
        "event_type",
        "shard",
        "ts_e",
        (-(F.expr("ver DIV 10") + 1)).cast("long").alias("ver"),
        (F.col("v") - 1).alias("v"),
        "user_id",
    )
    return base.unionByName(retry).unionByName(late).drop("user_id")


def q_lww_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins ingest compaction (rollup/ingest.py lww_compact):
    re-delivered writes (retries with higher versions, late losers with
    lower) collapse to one sample per (series, ts) — the max-(ver,
    value) struct wins, deterministic under duplicate versions — plus
    the n_writes write-amplification audit. One hash agg on the same
    (series, ts) key the tier rollup shuffles on. Oracle: window
    row_number over (ver, value) DESC."""
    from dads_spark.rollup import lww_compact

    return lww_compact(
        _redelivered_samples(spark, sf_dir),
        ["event_type", "shard"],
        "ts_e",
        "ver",
        "v",
    )


def q_ooo_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingest health (rollup/ingest.py out_of_order_stats):
    per series, walking writes in ingest-version order, count arrivals
    whose timestamp <= the running max already seen (the TSDB
    out-of-order/duplicate counter) + the max backwards jump. The
    re-delivered fixture guarantees both duplicate-ts and
    backwards-jump cases exist. Exact longs; oracle mirrors the
    running-max window."""
    from dads_spark.rollup import out_of_order_stats

    return out_of_order_stats(
        _redelivered_samples(spark, sf_dir),
        ["event_type", "shard"],
        "ts_e",
        "ver",
    )


def q_frontcode_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-coded string dictionary round-trip (compress/frontcode.py):
    per source domain the DISTINCT sorted synthetic URLs are prefix-
    encoded (vectorized adjacent-common-prefix, restart every 16) and
    decoded again; the returned rows ARE the decoded strings, so hash
    equality against SELECT DISTINCT proves encode∘decode = identity
    under real partitioning. The byte accounting (suffix+8/entry vs
    raw) is pinned by pytest."""
    from dads_spark.compress import frontcode_roundtrip

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        "source",
        F.concat(
            F.lit("https://www."),
            "source",
            F.lit(".example.com/articles/"),
            "lang",
            F.lit("/"),
            (F.col("doc_id") % 50).cast("string"),
            F.lit("/item-"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return frontcode_roundtrip(urls, "source", "url").select("source", "url")


def q_exp_hist_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles FROM the base-2 exponential histogram — the OTel-side
    composition of two already-pinned operators: exp_histogram's
    exact-integer buckets (le = 2^bucket) feed histogram_quantile's
    owning-bucket interpolation (p50/p95 band from one window pass).
    This is how a telemetry store answers latency quantiles without
    ever storing raw samples; pinning the COMPOSITION guards the
    le/cumulative handoff between the two operators."""
    from dads_spark.rollup import exp_histogram, histogram_quantile

    ev = _t(spark, sf_dir, "events")
    h = exp_histogram(ev, ["event_type"], "value")
    w = (
        W.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    finite = h.select(
        "event_type",
        F.pow(F.lit(2.0), F.col("bucket").cast("double")).alias("le"),
        F.sum("n").over(w).alias("cum_count"),
    )
    # the +Inf bucket the Prometheus contract requires: cum = total
    inf_row = h.groupBy("event_type").agg(
        F.lit(float("inf")).alias("le"),
        F.sum("n").alias("cum_count"),
    )
    return histogram_quantile(
        finite.unionByName(inf_row), ["event_type"], [0.5, 0.95]
    )


def q_lww_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-to-tier composition pin: the re-delivered write stream is
    LWW-compacted (rollup/ingest.py) and the WINNERS roll up to the
    hour tier — proving compaction composes with the continuous
    aggregate (duplicate deliveries change n_writes, never v_sum).
    Oracle compacts with a rank window and aggregates the same rows."""
    from dads_spark.rollup import lww_compact

    winners = lww_compact(
        _redelivered_samples(spark, sf_dir),
        ["event_type", "shard"],
        "ts_e",
        "ver",
        "v",
    )
    hour = (F.floor(F.col("ts_e") / 3600) * 3600).cast("long")
    return winners.groupBy("event_type", hour.alias("hour_e")).agg(
        F.sum("v").alias("v_sum"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("n_writes").cast("long").alias("n_writes"),
    )


def q_cdx_captures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX(J) archive-index path (ops/cdx.py): mixed-case/ported/
    queried URLs are SURT-keyed (surt_key, pure codegen), rendered as
    CDXJ lines `surt ts {json}`, parsed back (parse_cdxj), and reduced
    to per-key newest-2xx captures with content-identity collapse
    (latest_captures: the digest's FIRST capture time survives
    unchanged re-crawls). ~50 captures share each SURT key and digests
    repeat mod 7, so the dedup/first-seen logic is genuinely exercised.
    The oracle re-implements the SURT transform and the capture
    selection in SQL from the synthesis rules — it never sees a CDXJ
    line — pinning render∘parse identity, the SURT mirror, and the
    selection semantics at once."""
    from dads_spark.ops import latest_captures, parse_cdxj, surt_key

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://www."),
        "source",
        F.lit(".Example.com"),
        F.when(did % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Page/"),
        (did % 50).cast("string"),
        F.lit("?Ref=A"),
    )
    ts14 = (F.lit(20240101000000) + did).cast("string")
    status = F.when(did % 11 == 0, F.lit("404")).otherwise(F.lit("200"))
    digest = F.concat(F.lit("sha1:D"), (did % 7).cast("string"))
    line = F.concat(
        surt_key(url),
        F.lit(" "),
        ts14,
        F.lit(' {"url": "'),
        url,
        F.lit('", "status": "'),
        status,
        F.lit('", "mime": "text/html", "digest": "'),
        digest,
        F.lit('", "length": '),
        (did % 1000 + 100).cast("string"),
        F.lit("}"),
    )
    lines = docs.select(line.alias("line"))
    return latest_captures(parse_cdxj(lines))


def q_exp_hist_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exp-histogram tier MERGEABILITY pin — the property that makes
    the sketch a rollup citizen at 100 TB: Spark builds per-(metric,
    HOUR) exponential histograms and merges them to DAY cells by cell
    addition (+ min/min, max/max); the oracle builds the DAY histogram
    directly from raw events. Hash equality proves hour→day cascade ==
    direct computation, so day/week tiers never re-read raw samples."""
    from dads_spark.rollup import exp_histogram

    ev = _t(spark, sf_dir, "events")
    epoch = F.unix_timestamp("ts")
    with_keys = ev.select(
        "event_type",
        (F.floor(epoch / 3600).cast("long") * 3600).alias("hour_e"),
        (F.floor(epoch / 86400).cast("long") * 86400).alias("day_e"),
        "value",
    )
    hourly = exp_histogram(
        with_keys, ["event_type", "day_e", "hour_e"], "value"
    )
    return hourly.groupBy("event_type", "day_e", "bucket").agg(
        F.sum("n").cast("long").alias("n"),
        F.min("v_floor_min").alias("v_floor_min"),
        F.max("v_floor_max").alias("v_floor_max"),
    )


def q_topk_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``topk(2, rate(counter[2h]))`` — the alerting dashboard's
    standard composition: the pinned extrapolated rate per series at
    every eval step, ranked within the step, top 2 kept (deterministic
    tie-break on the series label). Pins rate∘rank composition; the
    rank is ONE row_number window over the already-tiny eval grid."""
    from dads_spark.rollup import extrapolated_increase

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts_e", "event_id")
    samples = ev.select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").alias("ts_e"),
        F.floor(F.col("value") * 10).cast("long").alias("_inc"),
    ).select(
        "event_type",
        "event_id",
        "ts_e",
        (F.sum("_inc").over(w) % 100000).alias("counter"),
    )
    rates = extrapolated_increase(
        samples,
        ["event_type"],
        "ts_e",
        "counter",
        window_s=7200,
        step_s=3600,
        order_cols=["event_id"],
    ).select("event_type", "eval_ts", "rate")
    rk = F.row_number().over(
        W.partitionBy("eval_ts").orderBy(
            F.col("rate").desc(), F.col("event_type")
        )
    )
    return rates.select(
        "eval_ts", "event_type", "rate", rk.cast("long").alias("rank")
    ).filter(F.col("rank") <= 2)


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per hourly series
    (rollup/trend.py:mann_kendall_grouped): exact integer S statistic +
    tie-corrected variance numerator (var18 = 18*Var(S)) via an
    O(n log n) Fenwick walk — the hypothesis-test complement of
    ols_trend/theil_sen_trend; no float surface, hash-exact."""
    from dads_spark.rollup import bucket_expr, mann_kendall_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).alias("y")
    )
    return mann_kendall_grouped(hourly, ["event_type"], "bucket_ts", "y")


def q_duration_above(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact time-above-threshold under linear interpolation
    (rollup/analytics.py:duration_above): per-segment crossing fractions
    in integer microseconds (DIV floor division), over the hourly count
    series per event_type with threshold 5 — the SLO 'how long were we
    above X' question, answered bit-exactly."""
    from dads_spark.rollup import bucket_expr, duration_above

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).alias("y")
    )
    return duration_above(
        hourly, ["event_type"], threshold=5, ts_col="bucket_ts", value_col="y"
    )


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL path-template mining (ops/urltools.py:url_templates): hex runs
    -> {hex} then digit runs -> {n} per path, counted per (host,
    template) — the crawl-trap / faceted-grid detector. URLs synthesized
    deterministically from documents (numeric ids, md5-hex ids, dated
    archive paths) identically on both engines."""
    from dads_spark.ops import url_templates

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("https://"),
            "source",
            F.lit(".example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("/p/"), F.col("doc_id").cast("string")),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit("/a/"),
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
                    F.lit("/view"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit("/archive/20"),
                    F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
                    F.lit("/"),
                    F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
                    F.lit("/item"),
                )
            ),
            F.lit("?lang="),
            "lang",
        ).alias("url")
    )
    return url_templates(urls)


def _stage_pla_oracle(sf_dir: str, eps: int = 2) -> str:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import hourly_counts, pla_swing_oracle

    ks, si, t0s, v0s, t1s, v1s, nps = [], [], [], [], [], [], []
    for et, (b, v) in sorted(hourly_counts(sf_dir).items()):
        for i, (t0, v0, t1, v1, np_) in enumerate(
            pla_swing_oracle(b, v, eps)
        ):
            ks.append(et)
            si.append(i)
            t0s.append(t0)
            v0s.append(v0)
            t1s.append(t1)
            v1s.append(v1)
            nps.append(np_)
    return _write_dump(
        "pla_oracle",
        {
            "event_type": _pa.array(ks, type=_pa.string()),
            "seg_idx": _np2.array(si, dtype=_np2.int64),
            "t_start": _np2.array(t0s, dtype=_np2.int64),
            "v_start": _np2.array(v0s, dtype=_np2.int64),
            "t_end": _np2.array(t1s, dtype=_np2.int64),
            "v_end": _np2.array(v1s, dtype=_np2.int64),
            "n_points": _np2.array(nps, dtype=_np2.int64),
        },
    )


def q_pla_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Swing-filter bounded-error PLA (compress/pla.py): the LOSSY
    compression tier beside Gorilla/Chimp/ALP — greedy feasible-slope
    cone over exact integer cross-multiplication, one segment per
    quasi-linear run of the hourly count series (eps=2). Pinned against
    the from-scratch Fraction-arithmetic scalar oracle (staged)."""
    from dads_spark.compress import pla_segments_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", bucket_expr("ts", "hour"))
        .agg(F.count(F.lit(1)).alias("y"))
        .select(
            "event_type",
            F.unix_seconds(F.col("bucket_ts")).alias("t"),
            F.col("y").cast("long").alias("y"),
        )
    )
    _stage_pla_oracle(sf_dir)
    return pla_segments_grouped(hourly, ["event_type"], "t", "y", eps=2)


def q_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl WET conversion-record assembly + member-stream byte
    offsets (io/warc.py:wet_records): header block per the WARC 1.1 WET
    convention, Content-Length in UTF-8 BYTES, offsets from one per-shard
    window cumsum. Pages synthesized deterministically from documents
    (url from source/doc_id, warc_ts from an hourly epoch grid)."""
    from dads_spark.io.warc import wet_records

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        F.col("source").alias("shard"),
        F.concat(
            F.lit("https://"),
            "source",
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(
            F.lit(1700000000) + F.col("doc_id") * 3600
        ).alias("warc_ts"),
        "text",
    )
    return wet_records(
        pages, url_col="url", ts_col="warc_ts", text_col="text",
        shard_col="shard",
    )


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit drift (rollup/drift.py:benford_digits): digit
    from floor(value*1000) as an INTEGER (never from a double's decimal
    rendering), vs the standard permille expectations — the
    fabricated-backfill / unit-change smell test; all exact integers."""
    from dads_spark.rollup import benford_digits

    ev = _t(spark, sf_dir, "events")
    return benford_digits(ev, ["event_type"], "value", scale=1000)


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact LOWER weighted median per lang
    (rollup/analytics.py:weighted_median): smallest n_chars whose
    cumulative synthetic weight (doc_id%7+1) reaches half the total —
    rank selection, no interpolation rule, deterministic under value
    ties (the tie group's FINAL cumulative weight is order-invariant)."""
    from dads_spark.rollup import weighted_median

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.col("n_chars").alias("v"),
        (F.col("doc_id") % 7 + 1).alias("w"),
    )
    return weighted_median(d, ["lang"], "v", "w")


def q_bot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap regularity per user
    (rollup/analytics.py:gap_regularity): exact integer gap moments +
    the all-integer CV < 1/5 bot verdict. A synthetic metronome user
    (60 s timer) is unioned in identically on both engines so the flag
    is exercised, not just the moments."""
    from dads_spark.rollup import gap_regularity

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    bot = spark.range(20).select(
        F.lit(999999).cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id") * 60).alias("ts"),
        (F.lit(1000000000) + F.col("id")).alias("event_id"),
    )
    out = gap_regularity(
        ev.unionByName(bot),
        ["user_id"],
        ts_col="ts",
        order_cols=["event_id"],
    )
    return out.withColumn("is_bot", F.col("is_bot").cast("long"))


def q_rendezvous_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW shard routing (ops/sharding.py): per-url argmax of
    md5(key|node) compared AS HEX (the hash_split idiom — no integer
    conversion, bit-identical cross-engine); pure codegen projection,
    zero shuffle. Minimal-disruption property is pytest-pinned."""
    from dads_spark.ops import rendezvous_assign

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("https://"), "source", F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return rendezvous_assign(urls, "url", ["n0", "n1", "n2", "n3"])


def q_revisit_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-rate-driven crawl revisit scheduling
    (ops/crawldiff.py:revisit_schedule): integer change-permille from a
    deterministic 6-visit history (fingerprints step at doc-dependent
    rates, so every interval bucket is populated), CASE-bucketed into
    revisit hours — the Cho & Garcia-Molina freshness policy shape."""
    from dads_spark.ops import revisit_schedule

    docs = _t(spark, sf_dir, "documents")
    visits = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(5))).alias("k"),
    ).select(
        "url",
        (F.lit(1700000000) + F.col("doc_id") * 7919 + F.col("k") * 86400)
        .alias("crawl_ts"),
        F.expr("(k * ((doc_id % 5) + 1)) DIV 5").alias("fingerprint"),
    )
    return revisit_schedule(visits, "url", "crawl_ts", "fingerprint")


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (ops/linkgraph.py:link_prediction)
    over the same deterministic h(doc_id%97) domain graph the triangle
    lane uses: non-adjacent pairs with >=2 shared neighbors + exact
    neighborhood-Jaccard permille — the related-site signal in pure
    integers (no Adamic-Adar float log)."""
    from dads_spark.ops import link_prediction

    docs = _t(spark, sf_dir, "documents")
    src = F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
    edges = docs.select(
        src.alias("src"),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 31 + 7) % 97).cast("string")
        ).alias("dst"),
    ).unionAll(
        docs.select(
            src.alias("src"),
            F.concat(
                F.lit("h"), ((F.col("doc_id") * 13 + 5) % 97).cast("string")
            ).alias("dst"),
        )
    )
    return link_prediction(edges, "src", "dst", min_common=2)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct cascade (rollup/distinct.py:kmv_sketch_tier):
    the exactly-pinnable sibling of the HLL cascade — the sketch state is
    the k smallest md5 hexes, so the DAY tier here is computed THROUGH
    the hour->day merge while the oracle sketches days DIRECTLY from
    raw; the hash gate itself proves mergeability. k=32 with ~50-60
    distinct users per (type, day) exercises the (k-1)*2^52 DIV v52
    estimator; hour-tier groups sit below k, exercising the exact path
    inside the cascade."""
    from dads_spark.rollup import kmv_cascade, kmv_estimate, kmv_sketch_tier

    ev = _t(spark, sf_dir, "events")
    hour = kmv_sketch_tier(ev, ["event_type"], "ts", "user_id", "hour", k=32)
    day = kmv_cascade(hour, ["event_type"], "day", k=32)
    return kmv_estimate(day, k=32).select(
        "event_type", _fmt_bucket(), "n_kept", "kth_hex", "est_distinct"
    )


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton largest-remainder apportionment (ops/apportion.py): 997
    crawl slots split across the 20 document sources proportional to
    their total bytes (n_chars) — base DIV quota + remainder-ranked
    extras, sum EXACTLY 997, all BIGINT arithmetic. The prime total
    forces nonzero remainders so the rank path is exercised."""
    from dads_spark.ops import apportion

    docs = _t(spark, sf_dir, "documents")
    weights = docs.groupBy("source").agg(
        F.sum("n_chars").alias("n_bytes")
    )
    return apportion(weights, "source", "n_bytes", total=997)


def q_label_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDB cardinality explorer (rollup/labelindex.py:label_cardinality)
    over a postings melt of the documents catalog with four labels: lang
    (5 values), source (20), shard (50), and rid (one per doc — the
    unbounded-label pathology this admin query exists to catch:
    n_values == n_series flags it). Exact integers; the top value's
    tie-break is max(struct(n, value)) mirrored by the oracle's
    row_number ORDER BY n DESC, value DESC."""
    from dads_spark.rollup import build_label_index, label_cardinality

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.concat(F.lit("s"), (F.col("doc_id") % 50).cast("string")).alias(
            "shard"
        ),
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("rid"),
    )
    idx = build_label_index(docs, "doc_id", ["lang", "source", "shard", "rid"])
    return label_cardinality(idx)


def _token_bucket_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-host request stream: 20 requests per doc, gaps of
    13-91 s by doc, 31 hosts interleaving ~16 docs each — dense enough
    that a 1-token-per-10s bucket (cap 3) admits AND denies."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 31).cast("string")).alias(
            "host"
        ),
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(19))).alias("k"),
    ).select(
        "host",
        (F.col("doc_id") * 100 + F.col("k")).alias("req_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + (F.col("doc_id") % 97) * 1_000_000
            + F.col("k") * ((F.col("doc_id") % 7) + 1) * 13_000_000
        ).alias("ts"),
    )


def _stage_token_bucket_oracle(spark: SparkSession, sf_dir: str) -> None:
    """Independent scalar recomputation of the token-bucket decisions —
    pyarrow + plain Python over doc ids, re-synthesizing the stream from
    the same closed-form schedule; no Spark, no shared kernel code —
    dumped to parquet for the oracle."""
    import pandas as _pd
    import pyarrow.parquet as _pq

    doc_ids = _pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id"]
    )["doc_id"].to_pylist()
    by_host: dict[str, list] = {}
    for d in doc_ids:
        host = f"h{d % 31}"
        for k in range(20):
            us = (
                1_700_000_000_000_000
                + (d % 97) * 1_000_000
                + k * ((d % 7) + 1) * 13_000_000
            )
            by_host.setdefault(host, []).append((us, d * 100 + k))
    out = {"key": [], "id": [], "ts_us": [], "admitted": [],
           "tokens_after_micro": []}
    CAP, COST = 3_000_000, 1_000_000
    for host, evs in by_host.items():
        evs.sort()
        level, prev = CAP, None
        for us, rid in evs:
            if prev is not None:
                level = min(CAP, level + (us - prev) * 1 // 10)
            prev = us
            adm = 1 if level >= COST else 0
            if adm:
                level -= COST
            out["key"].append(host)
            out["id"].append(rid)
            out["ts_us"].append(us)
            out["admitted"].append(adm)
            out["tokens_after_micro"].append(level)
    _pd.DataFrame(out).to_parquet(_dump_path("token_bucket_oracle"))


def q_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket admission control (ops/ratelimit.py): per-host
    sequential clamp recursion in integer micro-tokens — cap 3 tokens,
    1 token / 10 s, bucket starts full. The oracle is an independent
    driver-side scalar simulation (staged parquet), so the hash pins the
    kernel's every admit/deny and post-decision level bit-for-bit."""
    from dads_spark.ops import token_bucket

    _stage_token_bucket_oracle(spark, sf_dir)
    reqs = _token_bucket_requests(spark, sf_dir)
    return token_bucket(
        reqs, "host", "ts", "req_id", cap=3, rate_num=1, rate_den=10
    )


def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only delta-join view maintenance (rollup/ivm.py): the view
    events JOIN user-dim is computed THROUGH the maintenance path (old
    view + the three delta terms) while the oracle joins the full
    updated tables directly — the hash gate proves the delta algebra.
    Split: events before/after 2024-01-26, docs below/above id 400."""
    from dads_spark.rollup import ivm_join_maintain

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 150).alias("uk"), "event_id", "event_type", "ts"
    )
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 150).alias("uk"), "doc_id", "lang"
    )
    cut = F.lit("2024-01-26").cast("timestamp")
    a_old, a_delta = ev.filter(F.col("ts") < cut), ev.filter(
        F.col("ts") >= cut
    )
    b_old, b_delta = docs.filter(F.col("doc_id") < 400), docs.filter(
        F.col("doc_id") >= 400
    )
    a_old = a_old.drop("ts")
    a_delta = a_delta.drop("ts")
    view_old = a_old.join(b_old, ["uk"])
    return ivm_join_maintain(
        view_old, a_old, a_delta, b_old, b_delta, ["uk"]
    )


def q_cache_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9111 freshness evaluation (ops/httpcache.py) over synthesized
    Cache-Control headers covering every precedence branch: no-store,
    no-cache (beats max-age), s-maxage (beats max-age), max-age, the
    Last-Modified 10% heuristic (exact integer floor), and none."""
    from dads_spark.ops import cache_policy

    docs = _t(spark, sf_dir, "documents")
    v = F.col("doc_id") % 6
    hdrs = docs.select(
        "doc_id",
        F.when(v == 0, "no-store")
        .when(v == 1, "no-cache, max-age=60")
        .when(v == 2, "public, max-age=600")
        .when(v == 3, "public, max-age=600, s-maxage=300")
        .otherwise("")
        .alias("cache_control"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("doc_id") * 1_000_000
        ).alias("fetch_ts"),
        F.when(
            v == 4,
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + F.col("doc_id") * 1_000_000
                - ((F.col("doc_id") % 1000) + 5) * 7_000_000
            ),
        ).alias("last_modified"),
    )
    return cache_policy(hdrs, "cache_control", "fetch_ts", "last_modified").select(
        "doc_id", "cacheable", "revalidate", "ttl_sec", "expires_ts_us",
        "policy",
    )


def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set operations (rollup/distinct.py:kmv_set_ops): per-day
    click-vs-view distinct-user overlap computed ONLY from the two KMV
    sketches (k=32) — bottom-k of the sketch union, membership flags,
    exact-integer Jaccard permille and intersection estimate. The oracle
    ranks the union of the FULL distinct sets (legal by mergeability:
    bottom-k of sketch union == bottom-k of set union), so the hash pins
    the whole estimator path."""
    from dads_spark.rollup import kmv_set_ops, kmv_sketch_tier

    ev = _t(spark, sf_dir, "events")
    a = kmv_sketch_tier(
        ev.filter(F.col("event_type") == "click"), [], "ts", "user_id",
        "day", k=32,
    )
    b = kmv_sketch_tier(
        ev.filter(F.col("event_type") == "view"), [], "ts", "user_id",
        "day", k=32,
    )
    out = kmv_set_ops(a, b, ["bucket_ts"], k=32)
    return out.select(
        _fmt_bucket(), "n_kept", "kth_hex", "n_both", "jaccard_permille",
        "union_est", "inter_est",
    )


def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of read (rollup/bitemporal.py): 100 entities x ~25
    versions (5 docs x 5 revisions each) with interleaved valid/tx
    epochs; the audit question 'what governed valid day 6 as believed at
    tx T' picks max valid_from then max tx_from among versions visible
    under BOTH as-ofs. Pure integers; oracle mirrors the double-ordered
    row_number."""
    from dads_spark.rollup import bitemporal_asof

    docs = _t(spark, sf_dir, "documents")
    base = 1_700_000_000
    versions = docs.select(
        F.concat(F.lit("e"), (F.col("doc_id") % 100).cast("string")).alias(
            "entity"
        ),
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("k"),
    ).select(
        "entity",
        (
            F.lit(base)
            + ((F.col("doc_id") + F.col("k")) % 10) * 86_400
        ).alias("valid_from"),
        # tx_from is injective over (doc_id, k) — gcd(13, 7777) = 1 and
        # k < 13 — so entity-mates never tie on (valid_from, tx_from)
        # and the window winner is deterministic
        (
            F.lit(base) + F.col("doc_id") * 13 + F.col("k") * 7_777
        ).alias("tx_from"),
        (F.col("doc_id") * 1_000 + F.col("k")).alias("value"),
    )
    return bitemporal_asof(
        versions,
        ["entity"],
        "valid_from",
        "tx_from",
        valid_asof=base + 6 * 86_400,
        tx_asof=base + 30_000,
    )


def _clf_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Apache combined-format lines covering every parser
    branch: 3 months, both tz signs, 5 statuses (204 carries '-' bytes),
    4 UA families (2 bots), a '-' referer arm, and a malformed line
    every 97th doc."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ip = F.concat(
        F.lit("10."), (d % 256).cast("string"), F.lit("."),
        (d % 17).cast("string"), F.lit("."), ((d % 9) + 1).cast("string"),
    )
    user = F.when(d % 5 == 0, "alice").otherwise("-")
    day = F.lpad(((d % 28) + 1).cast("string"), 2, "0")
    mon = F.when(d % 3 == 0, "Jan").when(d % 3 == 1, "Jun").otherwise("Nov")
    hh = F.lpad((d % 24).cast("string"), 2, "0")
    mm = F.lpad((d % 60).cast("string"), 2, "0")
    ss = F.lpad(((d * 7) % 60).cast("string"), 2, "0")
    tz = F.when(d % 2 == 0, "+0000").otherwise("-0530")
    method = F.when(d % 3 == 0, "GET").when(d % 3 == 1, "POST").otherwise(
        "HEAD"
    )
    status = (
        F.when(d % 5 == 0, "200").when(d % 5 == 1, "301")
        .when(d % 5 == 2, "404").when(d % 5 == 3, "500").otherwise("204")
    )
    nbytes = F.when(d % 5 == 4, "-").otherwise((d * 13).cast("string"))
    referer = F.when(d % 7 == 0, "-").otherwise(
        F.concat(F.lit("https://ref.example/"), (d % 7).cast("string"))
    )
    ua = (
        F.when(d % 4 == 0, "Mozilla/5.0 (X11; Linux x86_64) Gecko")
        .when(d % 4 == 1, "Googlebot/2.1 (+http://www.google.com/bot.html)")
        .when(d % 4 == 2, "curl/8.4.0")
        .otherwise("SpiderX/1.0 crawler")
    )
    line = F.concat(
        ip, F.lit(" - "), user, F.lit(" ["), day, F.lit("/"), mon,
        F.lit("/2024:"), hh, F.lit(":"), mm, F.lit(":"), ss, F.lit(" "),
        tz, F.lit('] "'), method, F.lit(" /p/"), d.cast("string"),
        F.lit(' HTTP/1.1" '), status, F.lit(" "), nbytes, F.lit(' "'),
        referer, F.lit('" "'), ua, F.lit('"'),
    )
    return docs.select(
        "doc_id",
        F.when(d % 97 == 0, "malformed !! line").otherwise(line).alias(
            "line"
        ),
    )


def q_clf_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined-log-format parsing (ops/weblog.py:parse_clf): one
    anchored regex, per-group extraction, month-name CASE map, CLF '-'
    bytes -> 0, declared-bot UA flag; malformed lines survive as
    parsed=0 NULL rows. Map-only codegen (plan audit A77)."""
    from dads_spark.ops import parse_clf

    return parse_clf(_clf_lines(spark, sf_dir), "line").drop("line")


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (rollup/evolution.py): generation v1
    wrote (doc_id, cnt INT, src) and v2 writes (doc_id, doc_count LONG,
    lang); read_evolved renames cnt->doc_count, widens INT->LONG, and
    NULL-fills each side's missing column — old files are never
    rewritten. Oracle reads the SAME staged parquet with the mapping
    spelled out."""
    from dads_spark.rollup import read_evolved

    docs = _t(spark, sf_dir, "documents")
    v1_path = _dump_path("evo_v1_dir")
    v2_path = _dump_path("evo_v2_dir")
    docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.col("n_chars").cast("int").alias("cnt"), F.col("source").alias("src")
    ).coalesce(1).write.mode("overwrite").parquet(v1_path)
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", (F.col("n_chars") * 2).alias("doc_count"), "lang"
    ).coalesce(1).write.mode("overwrite").parquet(v2_path)
    target = [
        ("doc_id", "long"), ("doc_count", "long"),
        ("lang", "string"), ("src", "string"),
    ]
    return read_evolved(
        [
            (spark.read.parquet(v1_path), {"cnt": "doc_count"}),
            (spark.read.parquet(v2_path), None),
        ],
        target,
    )


def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned tier read path: events written partitionBy(day),
    then a two-day read whose day predicate becomes a PartitionFilter —
    file listing prunes 28 of 30 partitions before any IO (plan audit
    A77 asserts it). Counts per (day, event_type) against a direct
    recompute oracle."""
    ev = _t(spark, sf_dir, "events")
    path = _dump_path("events_day_part_dir")
    staged = ev.select(
        "event_type", "event_id",
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
    )
    staged.write.mode("overwrite").partitionBy("day").parquet(path)
    part = spark.read.parquet(path)
    # partition-type inference reads `day` back as DATE; filter on the
    # inferred type (keeps the PartitionFilter) and cast for output
    return (
        part.filter(
            F.col("day").isin(
                F.lit("2024-01-05").cast("date"),
                F.lit("2024-01-17").cast("date"),
            )
        )
        .groupBy(
            F.date_format("day", "yyyy-MM-dd").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC envelope collapse (rollup/ingest.py:cdc_apply): 120 entities x
    ~17 ops (insert/update/delete by a doc-dependent formula, injective
    sequence numbers so entity-mates never tie); highest-seq op wins,
    winning deletes erase the key. Oracle mirrors the desc row_number +
    delete filter."""
    from dads_spark.rollup import cdc_apply

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ops = docs.select(
        F.concat(F.lit("e"), (d % 120).cast("string")).alias("entity"),
        d,
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
    ).select(
        "entity",
        (F.col("doc_id") * 10 + F.col("k")).alias("seq"),
        F.when((F.col("doc_id") + F.col("k")) % 11 == 0, "D")
        .when(F.col("k") == 0, "I")
        .otherwise("U")
        .alias("op"),
        (F.col("doc_id") * 100 + F.col("k") * 7).alias("val"),
    )
    return cdc_apply(ops, ["entity"], "seq", "op")


def q_merkle_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle fingerprint tree (rollup/integrity.py:merkle_tiers) over
    the events table keyed by event_type: hour/day/key-root hashes, each
    md5 over the concatenation of SORTED child hashes (bag semantics,
    partition-invariant). Oracle mirrors with string_agg(ORDER BY)."""
    from dads_spark.rollup import merkle_tiers

    ev = _t(spark, sf_dir, "events")
    return merkle_tiers(ev, "event_type", "ts", ["event_id", "user_id"])


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget curation (ops/sampling.py:
    token_budget_select): fill each lang's 30k-char allowance by
    descending quality (n_chars DESC proxy... quality = doc_id % 7 here
    so ties exercise the md5 break), strict cumsum <= budget. Oracle
    mirrors the windowed cumulative sum."""
    from dads_spark.ops import token_budget_select

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", (F.col("doc_id") % 7).alias("quality")
    )
    return token_budget_select(
        docs, "lang", "doc_id", "n_chars", "quality", budget=30_000
    )


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight equi-join cardinality statistics (ops/profile.py:
    join_size_estimate): exact sum of cntA(k)*cntB(k) from the two
    per-key histograms, bucketed by md5 prefix so the report shows WHERE
    the blowup lives — the CBO input behind broadcast/salt decisions,
    priced at histogram size instead of running the join."""
    from dads_spark.ops import join_size_estimate

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 150).alias("uk")
    )
    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 150).alias("uk")
    )
    return join_size_estimate(ev, docs, ["uk"], n_hex=1)


def q_range_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth range-partition boundaries (ops/sampling.py:
    range_splits): split i = the row of global rank ceil(i*n/8) in
    (n_chars, doc_id) order — deterministic, unlike Spark's sampled
    repartitionByRange boundaries; rank arithmetic in BIGINT
    cross-multiplication. Oracle mirrors the ceil-rank selection."""
    from dads_spark.ops import range_splits

    docs = _t(spark, sf_dir, "documents").select("n_chars", "doc_id")
    return range_splits(docs, ["n_chars", "doc_id"], n_parts=8)


def q_link_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host link reciprocity (ops/linkgraph.py:link_reciprocity)
    over the deterministic h(doc%97) domain graph plus reversed copies
    for every third doc — so the permille spectrum is populated; the
    link-farm smell metric beside trustrank."""
    from dads_spark.ops import link_reciprocity

    docs = _t(spark, sf_dir, "documents")
    src = F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"))
    dst = F.concat(
        F.lit("h"), ((F.col("doc_id") * 31 + 7) % 97).cast("string")
    )
    fwd = docs.select(src.alias("src"), dst.alias("dst"))
    back = docs.filter(F.col("doc_id") % 3 == 0).select(
        dst.alias("src"), src.alias("dst")
    )
    return link_reciprocity(fwd.unionAll(back))


def _stage_sq8_oracle(spark: SparkSession, sf_dir: str) -> "object":
    """Independent scalar SQ8 recomputation: plain Python loops (per-dim
    min/max, floor(x*255/span + 0.5) codes, integer dots, top-10 by
    (-score, id)) over pyarrow-read embeddings — no NumPy vectorization
    shared with the kernel, no Spark. Dumps the expected top-k AND
    returns (lo, hi, queries) for the Spark side."""
    import pandas as _pd
    import pyarrow.parquet as _pq

    t = _pq.read_table(f"{sf_dir}/embeddings.parquet",
                       columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_pylist()
    vecs = [list(map(float, v)) for v in t["embedding"].to_pylist()]
    dim = len(vecs[0])
    lo = [min(v[i] for v in vecs) for i in range(dim)]
    hi = [max(v[i] for v in vecs) for i in range(dim)]

    def code(v):
        out = []
        for i in range(dim):
            span = (hi[i] - lo[i]) if hi[i] > lo[i] else 1.0
            import math
            q = math.floor((v[i] - lo[i]) * 255.0 / span + 0.5)
            out.append(max(0, min(255, int(q))))
        return out

    codes = {vid: code(v) for vid, v in zip(ids, vecs)}
    by_id = dict(zip(ids, vecs))
    qids = [1, 2, 3]
    rows = {"query_id": [], "rank": [], "vec_id": [], "score": []}
    for qi, qid in enumerate(qids):
        qc = code(by_id[qid])
        scored = sorted(
            ((-sum(a * b for a, b in zip(codes[vid], qc)), vid)
             for vid in ids)
        )[:10]
        for rk, (neg, vid) in enumerate(scored, start=1):
            rows["query_id"].append(qi)
            rows["rank"].append(rk)
            rows["vec_id"].append(vid)
            rows["score"].append(-neg)
    _pd.DataFrame(rows).to_parquet(_dump_path("sq8_oracle"))
    import numpy as _np3

    return (
        _np3.array(lo), _np3.array(hi),
        _np3.array([by_id[q] for q in qids]),
    )


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN (ops/quantize.py:sq8_*): exact per-dim
    min/max codec (no sampling), 4x-compressed codes tier via one
    mapInArrow, PURE-BIGINT dot-product scan with per-batch partial
    top-k — every rank and score pins bitwise against an independent
    scalar simulation (staged parquet oracle, the PQ lanes'
    discipline)."""
    from dads_spark.ops import ann_sq8, sq8_encode, sq8_train

    _, _, queries = _stage_sq8_oracle(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    # Spark derives its OWN codec bounds — the oracle's scalar min/max
    # must agree exactly (min/max are order-invariant), so the gate also
    # pins sq8_train
    lo, hi = sq8_train(emb, "embedding", dim=64)
    codes = sq8_encode(emb, lo, hi)
    return ann_sq8(codes, queries, lo, hi, k=10)


def q_watermark_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay tuning (rollup/ingest.py:watermark_tuning): replay
    events in synthesized arrival order (delay = (event_id%13)^2
    minutes — a heavy deterministic late tail) and count drops per
    (event_type, candidate delay) for delays 0/10m/1h/3h — one keyed
    window shared by all four candidates."""
    from dads_spark.rollup import watermark_tuning

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000"
        ).alias("ev_s"),
    ).withColumn(
        "ar_s",
        F.col("ev_s")
        + (F.col("event_id") % 13) * (F.col("event_id") % 13) * 60,
    )
    return watermark_tuning(
        ev, "event_type", "ev_s", "ar_s", "event_id",
        delays_sec=[0, 600, 3600, 10800],
    )


def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-encoding advisor (ops/profile.py:encoding_advisor) over
    four documents columns in doc_id write order: exact n/ndv/runs/width
    stats + the dict/rle/plain recommendation."""
    from dads_spark.ops import encoding_advisor

    docs = _t(spark, sf_dir, "documents")
    return encoding_advisor(
        docs, ["lang", "source", "doc_id", "n_chars"], "doc_id"
    )


def q_merkle_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-driven incremental refresh (rollup/integrity.py:
    merkle_changed composed with the splice): an upstream backfill
    replaced data and the late rows are UNKNOWN — diff the hour-level
    Merkle fingerprints of old vs new state, recompute ONLY the moved
    buckets, splice over the stale tier. The oracle recomputes the whole
    tier from scratch with refreshed = bucket-contains-late-rows, so the
    hash gate proves the diff found exactly the right buckets."""
    from dads_spark.rollup import merkle_changed, merkle_tiers

    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-26").cast("timestamp")
    base, full = ev.filter(F.col("ts") < cut), ev

    def hour_tree(df):
        return merkle_tiers(df, "event_type", "ts", ["event_id", "user_id"]).filter(
            F.col("level") == "hour"
        ).select(F.col("key").alias("event_type"), "bucket_ts", "h")

    changed = merkle_changed(
        hour_tree(base), hour_tree(full), ["event_type", "bucket_ts"]
    ).select("event_type", "bucket_ts")

    def tier(df):
        return df.groupBy("event_type", bucket_expr("ts", "hour")).agg(
            F.count(F.lit(1)).alias("n_events")
        ).select("event_type", _fmt_bucket(), "n_events")

    stale = tier(base)
    kept = stale.join(
        F.broadcast(changed), ["event_type", "bucket_ts"], "left_anti"
    ).withColumn("refreshed", F.lit(0).cast("long"))
    recomputed = tier(full).join(
        F.broadcast(changed), ["event_type", "bucket_ts"], "left_semi"
    ).withColumn("refreshed", F.lit(1).cast("long"))
    return kept.unionByName(recomputed)


def q_kmv_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24h distinct users per (event_type, hour) from the HOUR
    KMV sketch tier alone (rollup/distinct.py:kmv_sliding) — the
    'active users, sliding window, every hour' query without re-scanning
    raw data; exact mergeability makes each window's bottom-k equal the
    raw-scan sketch, which is precisely what the oracle computes."""
    from dads_spark.rollup import kmv_estimate, kmv_sketch_tier, kmv_sliding

    ev = _t(spark, sf_dir, "events")
    hour = kmv_sketch_tier(ev, ["event_type"], "ts", "user_id", "hour", k=32)
    win = kmv_sliding(hour, ["event_type"], window_hours=24, k=32)
    out = kmv_estimate(
        win.withColumnRenamed("window_end", "bucket_ts"), k=32
    )
    return out.select(
        "event_type",
        F.date_format("bucket_ts", _TS_FMT).alias("window_end"),
        "n_kept", "kth_hex", "est_distinct",
    )


def q_fetch_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl-scheduler gate: robots longest-match (WHETHER)
    x RFC 9111 freshness (WHETHER AGAIN, cheaper) -> per-URL decision
    blocked / fresh / revalidate / fetch, evaluated at a fixed revisit
    time. Components are individually hash-green (robots_policy,
    cache_policy); this pins their interaction. Corpus stays map-only:
    rules broadcast, headers parse in codegen."""
    from dads_spark.ops import cache_policy, parse_robots, robots_annotate

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    hosts = spark.range(13).select(
        F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
        F.when(
            F.col("id") % 2 == 0,
            "User-agent: *\nDisallow: /private\nAllow: /private/ok",
        )
        .otherwise("User-agent: *\nDisallow: /tmp")
        .alias("robots_txt"),
    )
    rules = parse_robots(hosts)
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (d % 13).cast("string")).alias("host"),
        F.when(d % 3 == 0, F.concat(F.lit("/private/x"), d.cast("string")))
        .when(d % 3 == 1, F.concat(F.lit("/private/ok/"), d.cast("string")))
        .otherwise(F.concat(F.lit("/pub/"), d.cast("string")))
        .alias("path"),
        F.when(d % 6 == 0, "no-store")
        .when(d % 6 == 1, "no-cache, max-age=60")
        .when(d % 6 == 2, "public, max-age=600")
        .when(d % 6 == 3, "public, max-age=99999, s-maxage=300")
        .otherwise("")
        .alias("cache_control"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + d * 1_000_000
        ).alias("fetch_ts"),
        F.when(
            d % 6 == 4,
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + d * 1_000_000
                - ((d % 100) + 1) * 40_000_000
            ),
        ).alias("last_modified"),
    )
    annotated = robots_annotate(pages, rules)
    pol = cache_policy(
        annotated, "cache_control", "fetch_ts", "last_modified"
    )
    t_us = 1_700_000_000_000_000 + 800 * 1_000_000  # revisit at base+800s
    decision = (
        F.when(~F.col("crawl_allowed"), "blocked")
        .when(F.col("cacheable") == 0, "fetch")
        .when(
            (F.col("revalidate") == 0)
            & (F.col("expires_ts_us") >= F.lit(t_us)),
            "fresh",
        )
        .otherwise("revalidate")
    )
    return pol.select(
        "doc_id", "host", "path", "policy",
        F.col("crawl_allowed").cast("long").alias("crawl_allowed"),
        decision.alias("decision"),
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap temporal join (ops/rangejoin.py
    bucketed_interval_join): deterministic session intervals x incident
    intervals, overlap matched via the bucketed equi-join with the
    greatest(lo)-anchor dedup (no DISTINCT pass), aggregated to a
    per-session overlap count + total closed-interval overlap length.
    Pinned hash-equal to the direct nested-loop oracle."""
    from dads_spark.ops import bucketed_interval_join

    ev = _t(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    left = ev.select(
        F.col("event_id").alias("l_id"),
        sec.alias("lo"),
        (sec + F.col("event_id") % 7919).alias("hi"),
    )
    right = ev.filter(F.col("event_id") % 211 == 0).select(
        F.col("event_id").alias("r_id"),
        (sec - 1800).alias("r_lo"),
        (sec + F.col("event_id") % 12289).alias("r_hi"),
    )
    pairs = bucketed_interval_join(left, right, bucket=4096)
    ovl = (
        F.least(F.col("hi"), F.col("r_hi"))
        - F.greatest(F.col("lo"), F.col("r_lo"))
        + 1
    )
    return pairs.groupBy(F.col("l_id").alias("event_id")).agg(
        F.count(F.lit(1)).alias("n_overlap"),
        F.sum(ovl).alias("overlap_len"),
    )


def q_delta_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-delta dimension attribution (rollup/rootcause.py
    delta_attribution): event-count delta between Jan 1-15 and
    Jan 16-30 decomposed per (event_type, user_id%10) dimension value
    in ONE melted pass (explode -> map-side partials -> one hash agg);
    exact integer deltas, micro-unit topline share, per-dimension
    ranking on |delta| with value tiebreak."""
    from dads_spark.rollup import delta_attribution

    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", F.col("user_id") % 10
    )
    sec = F.unix_timestamp("ts")
    split = 1705363200  # 2024-01-16 00:00:00 UTC
    return delta_attribution(
        ev,
        ["event_type", "user_bucket"],
        F.lit(1).cast("long"),
        sec < split,
        sec >= split,
        top_k=5,
    )


def q_log_observability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed log-observability flagship: CLF access-log parsing
    (ops/weblog.py parse_clf) -> per-status-class hourly tier rollup ->
    hysteresis alert episodes (rollup/slo.py alert_hysteresis, 1.1x
    baseline, fire at 2nd consecutive breach / clear at 2nd quiet
    bucket), summarized per status class so every stage of the chain is
    numerically pinned: hit/byte/bot totals (parse), distinct hourly
    buckets (rollup), episode count + first fire time (alerting)."""
    from dads_spark.ops import parse_clf
    from dads_spark.rollup import alert_hysteresis

    parsed = parse_clf(_clf_lines(spark, sf_dir), "line")
    ok = parsed.filter(F.col("parsed") == 1).withColumn(
        "ts", F.to_timestamp("iso_ts")
    )
    episodes = alert_hysteresis(
        ok, ["status_class"], "ts", tier="hour",
        baseline_days=7, fire_n=2, clear_m=2, num=11, den=10,
    )
    eps = episodes.groupBy("status_class").agg(
        F.count(F.lit(1)).alias("n_episodes"),
        F.min(F.unix_timestamp("fired_ts")).alias("first_fired_s"),
    )
    sec = F.unix_timestamp("ts")
    roll = ok.groupBy("status_class").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("n_bytes").alias("sum_bytes"),
        F.sum("is_bot").alias("n_bot"),
        F.countDistinct(sec - sec % 3600).alias("n_buckets"),
    )
    return roll.join(eps, "status_class", "left").select(
        "status_class", "n_hits", "sum_bytes", "n_bot", "n_buckets",
        F.coalesce(F.col("n_episodes"), F.lit(0)).alias("n_episodes"),
        "first_fired_s",
    )


def q_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution (rollup/analytics.py
    linear_attribution): every click/view in the purchase/signup's
    trailing 6h window shares the credit in exact-integer micro-units,
    largest-remainder to the most recent touches so each conversion
    sums to exactly 1e6. User-keyed equi-join; no range join."""
    from dads_spark.rollup import linear_attribution

    ev = _t(spark, sf_dir, "events")
    return linear_attribution(
        ev, "user_id", "ts", "event_type", "event_id",
        source_types=["click", "view"],
        conversion_types=["purchase", "signup"],
        lookback_s=21600,
    )


def q_survival_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival risk table for URL lifetimes (ops/
    crawldiff.py survival_risk_table) over a deterministic 8-crawl
    presence synthesis (first = doc_id%5, span = doc_id*7%9, an
    interior hole every 11th doc to exercise gap robustness). Exact
    integer (duration, n_at_risk, n_events, n_censored) — the KM curve
    derives client-side, keeping ln/exp out of the gate."""
    from dads_spark.ops import survival_risk_table

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    first = d % 5
    last = F.least(F.lit(7), first + (d * 7) % 9)
    presence = (
        docs.select(
            "doc_id",
            F.explode(F.sequence(first, last)).alias("crawl"),
            first.alias("_f"),
        )
        .filter(
            ~((F.col("crawl") == F.col("_f") + 1) & (d % 11 == 0))
        )
        .select("doc_id", "crawl")
    )
    return survival_risk_table(presence, "doc_id", "crawl", max_crawl=7)


def q_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration/diversity indices (ops/concentration.py
    concentration_metrics): per event_type over its per-user visit
    counts — HHI, top-1 share and rank-formula Gini as exact-integer
    numerators + micro-unit ratios; the measurement twin of the
    mixture_balance/domain_cap enforcement lanes."""
    from dads_spark.ops import concentration_metrics

    ev = _t(spark, sf_dir, "events")
    return concentration_metrics(ev, ["event_type"], "user_id")


def q_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IR evaluation battery (ops/raneval.py ranking_metrics): nDCG@10
    / MRR / P@10 / R@10 per query over a deterministic ranked synthesis
    (query = doc_id%10, score = doc_id*31%101, graded rel =
    {2,1,0} by doc_id*7%5). Position discounts are injected as literal
    doubles — no engine log in the value."""
    from dads_spark.ops import ranking_metrics

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    ranked = docs.select(
        (d % 10).alias("qid"),
        ((d * 31) % 101).alias("_score"),
        d.alias("_id"),
        F.when((d * 7) % 5 == 0, 2)
        .when((d * 7) % 5 == 1, 1)
        .otherwise(0)
        .alias("rel"),
    ).withColumn(
        "rank",
        F.row_number().over(
            W.partitionBy("qid").orderBy(
                F.col("_score").desc(), F.col("_id").asc()
            )
        ),
    )
    return ranking_metrics(ranked, "qid", "rank", "rel", k=10)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage estimators (ops/textstats.py
    vocab_coverage): per-language frequency spectrum -> Good-Turing
    unseen mass + bias-corrected Chao1 richness; exact integer spectrum
    columns, single-division micro-unit estimates. The crawl-budget
    signal: high gt_unseen = the slice still yields new vocabulary."""
    from dads_spark.ops import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    return vocab_coverage(docs, ["lang"], "text")


def q_term_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness (ops/textstats.py term_dispersion):
    per-term integer moments over per-doc counts -> mean-when-present
    and Fano index of dispersion, top-50 terms by total count. The
    topical-vs-function-word separation signal for stopword lists and
    quality scoring."""
    from dads_spark.ops import term_dispersion

    docs = _t(spark, sf_dir, "documents")
    return term_dispersion(docs, "text", "doc_id", top_n=50)


def _stage_isotonic_oracle(sf_dir: str) -> None:
    """Minimax-characterization isotonic oracle (oracles.py
    isotonic_minimax_oracle — max-min averages with exact Fractions, an
    algorithm independent of the engine's PAV stack), staged to
    parquet over the same (event_type, score, label) synthesis."""
    import numpy as _np2
    import pyarrow.parquet as _pq

    from dads_spark.oracles import isotonic_minimax_oracle

    t = _pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_id", "event_type"]
    )
    eid = t.column("event_id").to_numpy()
    etype = _np2.asarray(t.column("event_type").to_pylist())
    x = (eid * 13) % 50
    y = ((eid * 7) % 3 == 0).astype(_np2.int64)
    rows = {k: [] for k in (
        "event_type", "x", "n", "y_sum", "yhat_num", "yhat_den", "yhat_q6"
    )}
    for g in sorted(set(etype.tolist())):
        sel = etype == g
        gx, gy = x[sel], y[sel]
        levels = sorted(set(gx.tolist()))
        ns = [int((gx == lv).sum()) for lv in levels]
        ss = [int(gy[gx == lv].sum()) for lv in levels]
        fit = isotonic_minimax_oracle(ns, ss)
        for lv, n, s, (num, den) in zip(levels, ns, ss, fit):
            rows["event_type"].append(g)
            rows["x"].append(lv)
            rows["n"].append(n)
            rows["y_sum"].append(s)
            rows["yhat_num"].append(num)
            rows["yhat_den"].append(den)
            q = 10**6 * num
            rows["yhat_q6"].append(
                q // den + (1 if q % den * 2 >= den else 0)
            )
    _write_dump(
        "isotonic_oracle",
        {k: _np2.asarray(v) for k, v in rows.items()},
    )


def q_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic PAV calibration (ops/calibrate.py isotonic_fit): per
    event_type, the monotone outcome-rate step function over a
    synthetic 50-level score — exact integer pooling, reduced-fraction
    fitted values. Gated against the staged MINIMAX-characterization
    oracle (a different algorithm: max-min exact-Fraction averages)."""
    from dads_spark.ops import isotonic_fit

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        ((F.col("event_id") * 13) % 50).alias("score"),
        ((F.col("event_id") * 7) % 3 == 0).cast("long").alias("label"),
    )
    _stage_isotonic_oracle(sf_dir)
    return isotonic_fit(ev, ["event_type"], "score", "label")


def q_heaps_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth (ops/textstats.py heaps_growth):
    doc-id prefix checkpoints (powers of two) -> tokens seen vs
    distinct vocabulary, as conditional sums in two single-row aggs —
    no global sort, no per-checkpoint rescans."""
    from dads_spark.ops import heaps_growth

    docs = _t(spark, sf_dir, "documents")
    cuts = [16, 32, 64, 128, 256, 512, 1024, 1 << 40]
    return heaps_growth(docs, cuts, "text", "doc_id")


def q_pref_winrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-preference readout (ops/abtest.py preference_winrate):
    canonical model pairs, win/loss/tie counts, win rate + Wilson 95%
    lower bound (shared z literal; +,-,*,/,sqrt only — all correctly
    rounded, so q6 is bit-identical cross-engine)."""
    from dads_spark.ops import preference_winrate

    ev = _t(spark, sf_dir, "events")
    d = F.col("event_id")
    prefs = ev.select(
        F.concat(F.lit("m"), (d % 7).cast("string")).alias("ma"),
        F.concat(F.lit("m"), ((d * 3 + 1) % 7).cast("string")).alias("mb"),
        F.when((d * 5) % 3 == 0, "a")
        .when((d * 5) % 3 == 1, "b")
        .otherwise("tie")
        .alias("w"),
    )
    return preference_winrate(prefs, "ma", "mb", "w")


def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wang-Smith-Hyndman seasonal strength (rollup/analytics.py
    seasonal_strength): 1 - Var(residual)/Var(detrended) over the
    seasonal_decompose components, per event_type — the forecaster-
    routing score (send strongly-seasonal series to Holt-Winters,
    the rest to Holt/Theta)."""
    from dads_spark.rollup import seasonal_strength

    ev = _t(spark, sf_dir, "events")
    return seasonal_strength(ev, "event_type", "ts", "value", "hour", 12)


def _stage_croston_oracle(sf_dir: str) -> None:
    """Scalar replay of the Croston recursion (same IEEE-double
    sequence as the engine's Arrow kernel — the holt_pinned bitwise-
    twin pattern), staged to parquet."""
    import numpy as _np2
    import pyarrow.parquet as _pq

    t = _pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "event_type", "user_id", "ts"],
    )
    et = _np2.asarray(t.column("event_type").to_pylist())
    sel = et == "purchase"
    uid = t.column("user_id").to_numpy()[sel]
    ts = t.column("ts").to_numpy()[sel].astype("datetime64[us]").astype(
        _np2.int64
    )
    day = ts // (86_400_000_000)
    series = uid % 29
    rows = {k: [] for k in (
        "series", "n_demands", "size_level", "interval_level", "forecast"
    )}
    for g in sorted(set(series.tolist())):
        m = series == g
        days, counts = _np2.unique(day[m], return_counts=True)
        if len(days) < 2:
            continue
        iv = _np2.diff(days).astype(_np2.float64)
        s = float(counts[0])
        v = float(iv[0])
        for i in range(1, len(counts)):
            s = 0.1 * float(counts[i]) + (1.0 - 0.1) * s
        for j in range(1, len(iv)):
            v = 0.1 * float(iv[j]) + (1.0 - 0.1) * v
        rows["series"].append(str(g))
        rows["n_demands"].append(len(days))
        rows["size_level"].append(s)
        rows["interval_level"].append(v)
        rows["forecast"].append(s / v)
    _write_dump(
        "croston_oracle", {k: _np2.asarray(v) for k, v in rows.items()}
    )


def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast (rollup/forecast.py
    croston_grouped): per user-bucket daily purchase series, smoothed
    demand sizes / inter-demand intervals (alpha 0.1) -> demand rate.
    Empty days are implicit zeros (the sparse-series contract: state
    scales with NONZERO buckets). Bitwise vs the staged scalar replay."""
    from dads_spark.rollup import croston_grouped

    ev = _t(spark, sf_dir, "events")
    demands = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            (F.col("user_id") % 29).cast("string").alias("series"),
            F.expr("unix_timestamp(ts) div 86400").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("demand"))
    )
    _stage_croston_oracle(sf_dir)
    return croston_grouped(demands, ["series"], "day", "demand", alpha=0.1)


def _html_table_doc(d) -> "F.Column":
    """Deterministic table-bearing HTML per doc: 2-3 col header, two
    data rows (one cell carries inner tags + ragged whitespace), a
    second single-cell table every 7th doc, NO table every 5th doc."""
    row2 = F.concat(
        F.lit('<tr><td>a'), d.cast("string"), F.lit("</td><td> <b>v"),
        (d * 3).cast("string"), F.lit("</b>\n &amp; more </td></tr>"),
    )
    t1 = F.concat(
        F.lit('<table class="data"><tr><th>name</th><th> value </th></tr>'),
        F.lit("<tr><td>k"), (d % 13).cast("string"),
        F.lit("</td><td>"), (d * 7 % 1000).cast("string"),
        F.lit("</td></tr>"), row2, F.lit("</table>"),
    )
    t2 = F.when(
        d % 7 == 0,
        F.concat(
            F.lit("<TABLE><tr><td>only"), d.cast("string"),
            F.lit("</td></tr></TABLE>"),
        ),
    ).otherwise(F.lit(""))
    return F.when(
        d % 5 == 0, F.lit("<p>no tables here</p>")
    ).otherwise(F.concat(F.lit("<html><body>"), t1, t2, F.lit("</body>")))


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (ops/htmltext.py html_tables): one row per
    cell at three regex nesting levels (table/tr/td-th, case-insensitive
    dotall, posexplode ordinals), inner tags stripped, whitespace
    collapsed — map-only codegen over the corpus."""
    from dads_spark.ops import html_tables

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", _html_table_doc(F.col("doc_id")).alias("html")
    )
    return html_tables(pages, "html", "doc_id")


def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained funnel (rollup/analytics.py windowed_funnel):
    view -> click within 2h -> purchase within 6h of the click,
    greedy-earliest chain per user — the gap-bounded counts the
    unconstrained funnel_steps lane overstates."""
    from dads_spark.rollup import windowed_funnel

    ev = _t(spark, sf_dir, "events")
    return windowed_funnel(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], [7200, 21600],
    )


def q_retention_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-policy pricing (rollup/retention.py
    retention_cost_plan): bucket counts per tier, the subset inside
    each tier's horizon back from max ts, and their byte cost at
    measured encoding rates — the sizing companion to
    enforce_retention, exact integers throughout."""
    from dads_spark.rollup import retention_cost_plan

    ev = _t(spark, sf_dir, "events")
    return retention_cost_plan(
        ev, ["event_type"], "ts",
        {"hour": (7, 14), "day": (90, 16), "week": (730, 18)},
    )


_S2G_EVAL_SERIES = 6
_S2G_EVAL_N = 3000


def _s2g_eval_frame(spark: SparkSession) -> DataFrame:
    import numpy as _np2

    from dads_spark.fixtures import benchmark_series

    rows = []
    for sid in range(_S2G_EVAL_SERIES):
        x = benchmark_series(_S2G_EVAL_N, seed=sid)
        rows += [
            (sid, i, float(v)) for i, v in enumerate(_np2.asarray(x))
        ]
    return spark.createDataFrame(rows, "sid long, t long, value double")


def _s2g_eval_metrics(scores, m: int, ell: int = 75):
    """Detection metrics from a score vector: top-1 window and
    precision@10 against the PLANTED discord ranges (splice at 0.3n
    len 75, spike at 0.7n len 30 — fixtures/series.py). A window
    counts as a hit inside (start - m - ell, start + len): path scores
    are running-mean smoothed over ell windows, so elevated scores
    LEAD the anomaly by up to ell, plus the window extent m."""
    import numpy as _np2

    n = _S2G_EVAL_N
    ranges = [(int(n * 0.3), 75), (int(n * 0.7), 30)]

    def planted(w):
        return any(s - m - ell < w < s + ln for s, ln in ranges)

    order = _np2.lexsort((_np2.arange(len(scores)), -scores))
    top1 = int(order[0])
    hits = sum(1 for w in order[:10] if planted(int(w)))
    return top1, int(planted(top1)), hits * 100_000


def _stage_s2g_eval_oracle() -> None:
    import numpy as _np2

    from dads_spark.fixtures import benchmark_series
    from dads_spark.s2g import s2g_oracle
    from dads_spark.s2g.core import S2GParams

    params = S2GParams(m=50, c=16, S=50, ell=75)
    rows = {k: [] for k in (
        "sid", "n_windows", "top1_idx", "top1_planted", "p_at_10_q6"
    )}
    for sid in range(_S2G_EVAL_SERIES):
        x = _np2.asarray(benchmark_series(_S2G_EVAL_N, seed=sid))
        scores = s2g_oracle(x, params, n_slices=1).scores
        top1, hit, p10 = _s2g_eval_metrics(scores, params.m)
        rows["sid"].append(sid)
        rows["n_windows"].append(len(scores))
        rows["top1_idx"].append(top1)
        rows["top1_planted"].append(hit)
        rows["p_at_10_q6"].append(p10)
    _write_dump(
        "s2g_eval_oracle", {k: _np2.asarray(v) for k, v in rows.items()}
    )


def q_s2g_detection_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2G detection SELF-EVALUATION: score six fixture series with
    PLANTED discords (random-walk splice at 0.3n, amplitude spike at
    0.7n) through the grouped Spark path and report, per series, the
    top-scoring window and precision@10 against the planted ranges —
    pinning not just numeric parity but that the engine FINDS the
    anomalies it exists to find. Oracle: the single-process NumPy
    pipeline (bit-identical scores by the engine's core invariant)
    computing the same metrics, staged to parquet."""
    import pandas as _pd2

    from dads_spark.s2g.core import S2GParams
    from dads_spark.s2g.pipeline import score_series_grouped

    params = S2GParams(m=50, c=16, S=50, ell=75)
    df = _s2g_eval_frame(spark)
    scored = score_series_grouped(df, ["sid"], "t", "value", params)
    _stage_s2g_eval_oracle()

    def metrics(pdf: _pd2.DataFrame) -> _pd2.DataFrame:
        import numpy as _np2

        pdf = pdf.sort_values("window_idx")
        scores = pdf["score"].to_numpy(dtype=_np2.float64)
        top1, hit, p10 = _s2g_eval_metrics(scores, 50)
        return _pd2.DataFrame(
            {
                "sid": [int(pdf["sid"].iloc[0])],
                "n_windows": [len(scores)],
                "top1_idx": [top1],
                "top1_planted": [hit],
                "p_at_10_q6": [p10],
            }
        )

    return scored.groupBy("sid").applyInPandas(
        metrics,
        "sid long, n_windows long, top1_idx long, top1_planted long,"
        " p_at_10_q6 long",
    )


def q_bitmap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-packed set algebra (ops/bitmapindex.py): two selective doc
    sets packed 64-per-row, intersected with a bitwise AND on the
    block equi-join, decoded back to ids — conjunctive filtering at
    1/64th the row count, sign bit (bit 63) included. Pinned against
    the direct row-level intersection."""
    from dads_spark.ops import bitmap_combine, bitmap_decode, build_bitmap

    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("lang") == "en").select(
        F.lit("s").alias("k"), F.col("doc_id").alias("id")
    )
    b = docs.filter((F.col("doc_id") * 7) % 3 == 0).select(
        F.lit("s").alias("k"), F.col("doc_id").alias("id")
    )
    ba = build_bitmap(a, ["k"], "id")
    bb = build_bitmap(b, ["k"], "id")
    return bitmap_decode(bitmap_combine(ba, bb, "and"))


def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (ops/raneval.py rank_biased_overlap):
    ranker drift between two deterministic scorers per query bucket,
    p=0.9 k=20, suffix-sum weights injected as shared literals."""
    from dads_spark.ops import rank_biased_overlap

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")

    def ranked(score):
        return docs.select(
            (d % 10).alias("qid"), d.alias("id"), score.alias("_s")
        ).withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    F.col("_s").desc(), F.col("id").asc()
                )
            ),
        )

    a = ranked((d * 31) % 101)
    b = ranked((d * 37) % 103)
    return rank_biased_overlap(a, b, "qid", "id", "rank", p=0.9, k=20)


def _stage_zlib_oracle(sf_dir: str) -> None:
    """Scalar zlib replay (same CPython zlib as the Arrow kernel)."""
    import zlib as _zlib

    import numpy as _np2
    import pyarrow.parquet as _pq

    t = _pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    ids = t.column("doc_id").to_numpy()
    texts = t.column("text").to_pylist()
    nr, nz, q6 = [], [], []
    for s in texts:
        raw = s.encode("utf-8") if isinstance(s, str) else b""
        r, z = len(raw), len(_zlib.compress(
            s.encode("utf-8") if isinstance(s, str) else b"", 6
        ))
        nr.append(r)
        nz.append(z)
        q6.append(
            (10**6 * z) // r + (1 if (10**6 * z) % r * 2 >= r else 0)
            if r else None
        )
    _write_dump(
        "zlib_oracle",
        {
            "doc_id": _np2.asarray(ids),
            "n_raw_bytes": _np2.asarray(nr, dtype=_np2.int64),
            "n_zlib_bytes": _np2.asarray(nz, dtype=_np2.int64),
            "ratio_q6": _np2.asarray(
                [x if x is not None else -1 for x in q6], dtype=_np2.int64
            ),
        },
    )


def q_zlib_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (ops/quality.py zlib_ratio):
    DEFLATE-6 bytes / raw UTF-8 bytes per doc — the published
    repetition/boilerplate filter; Arrow-batched, bitwise vs the
    staged scalar zlib replay."""
    from dads_spark.ops import zlib_ratio

    docs = _t(spark, sf_dir, "documents")
    _stage_zlib_oracle(sf_dir)
    out = zlib_ratio(docs, "text", "doc_id")
    return out.select(
        "doc_id", "n_raw_bytes", "n_zlib_bytes",
        F.coalesce(F.col("ratio_q6"), F.lit(-1)).alias("ratio_q6"),
    )


def q_streaming_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV sketch store (streaming/kmvstream.py): four
    micro-batches fold per-key bottom-64 digest sketches into an
    on-disk store with NO ledger — KMV merge is idempotent, so replay
    converges for free (the contrast with the counting backfill tier).
    Hash equality vs the batch bottom-k SQL proves the incrementally-
    maintained sketch equals a from-scratch sketch of the full
    history, bit for bit."""
    import shutil as _sh

    from dads_spark.rollup import kmv_estimate
    from dads_spark.streaming.kmvstream import run_kmv_stream

    ev = _t(spark, sf_dir, "events")
    src = _stage_backfill_src(spark, sf_dir)
    base = _stage_dir("kmv_stream_run", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    run_kmv_stream(
        spark, src, ev.schema, ["event_type"], "user_id",
        f"{base}/store", f"{base}/ckpt", k=64, max_files_per_trigger=1,
    )
    store = spark.read.parquet(f"{base}/store")
    return kmv_estimate(store, k=64)


def q_politeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-politeness audit over access logs (composed: parse_clf
    -> per-(bot UA family, ip) request cadence): request counts, the
    min inter-request gap (ordered by timestamp with path tiebreak),
    and how many consecutive gaps violate a 1-second crawl delay —
    the server-side view of the frontier scheduler's contract."""
    from dads_spark.ops import parse_clf

    p = parse_clf(_clf_lines(spark, sf_dir), "line")
    ok = p.filter((F.col("parsed") == 1) & (F.col("is_bot") == 1))
    sec = F.unix_timestamp(F.to_timestamp("iso_ts"))
    base = ok.select(
        F.col("user_agent").alias("ua"),
        # crawler fleets rotate addresses inside a block: audit at /16
        F.substring_index(F.col("ip"), ".", 2).alias("ip16"),
        sec.alias("s"),
        F.col("path"),
    )
    w = W.partitionBy("ua", "ip16").orderBy("s", "path")
    gaps = base.withColumn(
        "_gap", F.col("s") - F.lag("s").over(w)
    )
    return gaps.groupBy("ua", "ip16").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.min("_gap").alias("min_gap_s"),
        F.sum(
            F.when(F.col("_gap") < 1, 1).otherwise(0)
        ).alias("n_violations"),
    ).filter(F.col("n_requests") >= 2)


def q_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed LLM-curation flagship: Gopher quality gate -> exact
    dedup (min doc_id per content digest) -> whitespace token counts ->
    512-token context packing, summarized per language so EVERY stage's
    survivor count, token total and bin layout land in one hash —
    the training-data funnel as a single oracle-gated query (the
    curation sibling of e2e_web_ingest)."""
    from dads_spark.ops import gopher_rules, pack_sequences

    docs = _t(spark, sf_dir, "documents")
    g = gopher_rules(docs, "text", "doc_id", min_words=30)
    # language-NEUTRAL rule subset: the stopword gate is English-only
    # (CCNet applies per-language lists; this corpus is multilingual)
    lang_neutral = (
        F.col("flag_word_count") & F.col("flag_mean_word_len")
        & F.col("flag_symbol_ratio") & F.col("flag_bullet_lines")
        & F.col("flag_ellipsis_lines") & F.col("flag_alpha_words")
    )
    kept = docs.join(
        g.filter(lang_neutral).select("doc_id"), "doc_id"
    )
    first = kept.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    uniq = kept.join(first.select("doc_id"), "doc_id")
    toks = uniq.select(
        "lang", "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    packed = pack_sequences(toks, ["lang"], "doc_id", "n_tok", 512)
    s_in = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_input"))
    s_q = kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_quality"))
    s_p = packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum(F.col("spans_boundary").cast("long")).alias("n_spanning"),
    )
    return (
        s_in.join(s_q, "lang", "left")
        .join(s_p, "lang", "left")
        .select(
            "lang", "n_input",
            F.coalesce("n_quality", F.lit(0)).alias("n_quality"),
            F.coalesce("n_unique", F.lit(0)).alias("n_unique"),
            F.coalesce("total_tokens", F.lit(0)).alias("total_tokens"),
            F.coalesce("n_bins", F.lit(0)).alias("n_bins"),
            F.coalesce("n_spanning", F.lit(0)).alias("n_spanning"),
        )
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (ops/redact.py k_anonymity_audit): equivalence
    -class size histogram over the (event_type, user_id%50, hour-of-
    day) quasi-identifier combo, k=5 — the re-identification readout
    run before publishing a derived table."""
    from dads_spark.ops import k_anonymity_audit

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 50).alias("age_band"),
        F.hour("ts").alias("hod"),
    )
    return k_anonymity_audit(ev, ["event_type", "age_band", "hod"], k=5)


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition (ops/textstats.py script_mix): per-doc
    Latin/Han/Cyrillic/Arabic/digit counts over a deterministic
    mixed-script synthesis (every 3rd doc gains CJK, every 5th
    Cyrillic, every 7th Arabic digits+text), dominant script with the
    fixed tie order, mixed flag — pure codegen, map-only."""
    from dads_spark.ops import script_mix

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.lit(" 数据 处理 引擎")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" данные поток")).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit(" بيانات ٢٠٢٤")).otherwise(F.lit("")),
    )
    return script_mix(docs.select("doc_id", text.alias("text")))


def q_counter_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter monotonicity repair (rollup/analytics.py counter_repair):
    an hourly cumulative counter wrapped at 5000 (injected resets) is
    rebuilt into the monotone series rate()/tiers should ingest —
    exact integer window algebra, seeded at the first sample."""
    from dads_spark.rollup import counter_repair

    ev = _t(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    hourly = ev.groupBy(
        "event_type", (sec - sec % 3600).alias("bucket_s")
    ).agg(F.count(F.lit(1)).alias("n"))
    wc = (
        W.partitionBy("event_type")
        .orderBy("bucket_s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wrapped = hourly.select(
        "event_type", "bucket_s",
        (F.sum("n").over(wc) % 5000).alias("raw"),
    )
    return counter_repair(wrapped, ["event_type"], "bucket_s", "raw")


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (ops/skewjoin.py salted_join): the events
    fact (5 hot event_type keys — exactly the single-reducer shape
    salting exists for) joined to a tiny weight dim through an 8-way
    salt, aggregated post-join. Hash equality vs the PLAIN join proves
    the transformation is semantics-preserving; the deterministic
    xxhash64 salt keeps retries/speculation from double-counting."""
    from dads_spark.ops import salted_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    dim = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 5), ("signup", 3),
         ("error", 7)],
        "event_type string, weight long",
    )
    joined = salted_join(ev, dim, ["event_type"], n_salt=8, how="inner")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("user_id") * F.col("weight")).alias("weighted_sum"),
    )


def q_ht_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson totals from a deterministic Poisson sample
    (ops/sampling.py ht_estimate): per event_type, props-length totals
    estimated from the 1/4-1/16 md5-thresholded subset — exact integer
    inverse-probability weighting, stable under repartition."""
    from dads_spark.ops import ht_estimate

    ev = _t(spark, sf_dir, "events").withColumn(
        "plen", F.length("props")
    )
    return ht_estimate(
        ev, ["event_type"], "event_id", "plen",
        {"click": 4, "error": 16}, default_denom=8,
    )


def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square homogeneity drift (rollup/drift.py
    chi2_drift): per (event_type, day) vs the first-week baseline over
    the SAME grid as tv/psi — the third finalizer, the one monitoring
    stacks threshold against chi2 critical values; exact integer cross
    terms, baseline-unsupported bins excluded with dof reported."""
    from dads_spark.rollup import chi2_drift

    ev = _t(spark, sf_dir, "events")
    out = chi2_drift(ev, ["event_type"], "ts", "value",
                     baseline_days=7, period="day", bins=10)
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("ws"),
        "n_total", "dof", "chi2_q6",
    )


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift (rollup/drift.py
    ks_drift): per (event_type, day) vs the first-week baseline, raw
    ECDFs (binning-free — catches shifts inside one histogram bin of
    the tv/psi/chi2 grid). All-integer: ks_numer = max |cn*M - cm*N|
    over the union of observed values; the float D is a projection the
    lane does not emit."""
    from dads_spark.rollup import ks_drift

    ev = _t(spark, sf_dir, "events")
    out = ks_drift(ev, ["event_type"], "ts", "value",
                   baseline_days=7, period="day")
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("ws"),
        "ks_numer", "n_period", "n_baseline",
    )


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential mean-shift detector (rollup/drift.py
    page_hinkley): per event_type over the (ts, event_id)-ordered value
    stream, per-term nano-quantized integer arithmetic (the psi/pmi
    discipline) — cumulative deviation-from-running-mean minus its
    running minimum, alarms where it exceeds lambda."""
    from dads_spark.rollup import page_hinkley

    ev = _t(spark, sf_dir, "events")
    return page_hinkley(
        ev, ["event_type"], "ts", "value",
        order_cols=["event_id"], delta=0.0, lam=50.0,
    )


def q_ts_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series feature battery (rollup/features.py ts_features):
    tsfresh-canonical shape descriptors — crossings, longest strike
    above mean, first-max location, absolute sum of changes — all in
    exact q6 longs (above-mean via v_q6*n > sum_q6, no division)."""
    from dads_spark.rollup import ts_features

    ev = _t(spark, sf_dir, "events")
    return ts_features(
        ev, ["event_type"], "ts", "value", order_cols=["event_id"]
    )


def q_peak_prominence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks + topographic prominence (rollup/peaks.py peak_prominence)
    over each event_type's hourly request-count series — find_peaks
    semantics in exact q6 longs (counts are exact integers, so every
    height/base/prominence is exact). Peaks on the OBSERVED bucket
    sequence; only peaks rising >= 3 events above their higher flanking
    valley survive."""
    from dads_spark.rollup import peak_prominence

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    return peak_prominence(
        hourly, ["event_type"], "hw", "cnt", min_prom_q6=3_000_000
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed degree assortativity (ops/linkgraph.py
    degree_assortativity) of the deterministic synthetic domain graph
    the pagerank/triangle lanes use — exact long Pearson moments over
    the (out-degree of src, in-degree of dst) edge pairs plus the
    engine-independent q6 correlation."""
    from dads_spark.ops import degree_assortativity

    docs = _t(spark, sf_dir, "documents")
    edges = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("h"), ((F.col("doc_id") * 31 + 7) % 97).cast("string")
        ).alias("dst"),
    )
    return degree_assortativity(edges)


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf exponent (ops/textstats.py zipf_slope): OLS slope of
    ln(freq) on ln(rank) over the top-500 unigram types, q3-quantized
    logs of exact counts, exact long moments, one correctly-rounded
    float division for slope_q6 — the corpus-level template/boilerplate
    gauge beside the per-doc gopher/repetition rules."""
    from dads_spark.ops import zipf_slope

    docs = _t(spark, sf_dir, "documents")
    return zipf_slope(docs, top_v=500)


def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour Pearson correlation (rollup/analytics.py
    rolling_corr) between each event_type's hourly event count and
    hourly distinct-user count — the correlation-BREAKDOWN monitor:
    both series stay coupled until a bot flood or broken deploy
    decouples them. All five moments are exact long frame sums; r_q6
    is one correctly-rounded sqrt+divide, engine-independent."""
    from dads_spark.rollup import rolling_corr

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )
    return rolling_corr(
        hourly, ["event_type"], "hw", "n_events", "n_users", window_n=24
    )


def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via rescaled-range analysis (rollup/trend.py
    hurst_rs) over each event_type's observed hourly count series —
    the long-range-dependence gauge (H>0.5 persistent: trends feed
    themselves, capacity planning must overprovision). Exact long
    cumulative deviations scaled by n, one correctly-rounded sqrt per
    segment, q3 logs of exact longs into the exact-moment OLS slope."""
    from dads_spark.rollup import hurst_rs

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return hurst_rs(
        hourly, ["event_type"], "hw", "cnt", sizes=(16, 32, 64, 128)
    )


def q_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (rollup/features.py sample_entropy, m=2 r=2)
    over each event_type's hourly count series — the regularity gauge
    (low SampEn = the series repeats its own templates). A and B are
    EXACT longs from ONE band-bucketed self-join (bucket = x DIV 3,
    3 probe buckets — no O(n^2) all-pairs); sampen_q3 is two logs of
    exact longs, the repo's pmi/zipf discipline. Oracle is the naive
    unbanded O(n^2) join — an independent check that banding loses no
    pair."""
    from dads_spark.rollup import sample_entropy

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return sample_entropy(hourly, ["event_type"], "hw", "cnt", r=2)


def q_dft_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal-cycle strength (rollup/periodicity.py dft_daily): the
    24-hour DFT bin + harmonics k=1..4 of each event_type's hourly
    count series. Every angle lands on the literal 15-degree q6 trig
    table (no libm cos at query time), Fourier sums are exact long dot
    products, amp_q6 is one correctly-rounded sqrt chain — the 'how
    much of the signal is daily' twin of acf_period's 'what period
    repeats'."""
    from dads_spark.rollup import dft_daily

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return dft_daily(hourly, ["event_type"], "hw", "cnt")


def q_perm_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (rollup/features.py perm_entropy, Bandt-
    Pompe m=3) per event_type hourly count series — ordinal-pattern
    complexity, amplitude-blind (level shifts don't break it). Six
    pattern counts are EXACT longs with the stable tie rule; the
    entropy finalizer quantizes per-pattern BEFORE summing so the sum
    is order-free long addition; ln only sees exact longs."""
    from dads_spark.rollup import perm_entropy

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return perm_entropy(hourly, ["event_type"], "hw", "cnt")


def q_nonlinearity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tsfresh c3 + time-reversal asymmetry (rollup/features.py
    nonlinearity_stats) per (event_type, lag in {1,24}) over hourly
    counts — multiplicative-dynamics and sawtooth-shape gauges. The
    whole operator is exact long arithmetic (numerator sums + signed
    half-up integer-division means); no float anywhere. Oracle joins
    on row_number instead of lead — an independent construction."""
    from dads_spark.rollup import nonlinearity_stats

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return nonlinearity_stats(
        hourly, ["event_type"], "hw", "cnt", lags=(1, 24)
    )


def q_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical directory drilldown (ops/urltools.py
    path_prefix_rollup): every page counts under each ancestor
    directory of its path (depth <= 4), weighted by text chars — the
    classic web-analytics section rollup, computed in ONE bounded
    explode + ONE keyed aggregate (not one scan per level). URLs are
    deterministically synthesized from documents columns in BOTH
    engines (the url_canonicalize staging idiom)."""
    from dads_spark.ops import path_prefix_rollup

    docs = _t(spark, sf_dir, "documents")
    urls = docs.select(
        F.concat(
            F.lit("https://www."),
            "source",
            F.lit(".example.com/s-"),
            "lang",
            F.lit("/d"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("/p"),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("/doc-"),
            F.col("doc_id").cast("string"),
            F.lit(".html"),
        ).alias("url"),
        "n_chars",
    )
    return path_prefix_rollup(
        urls, "url", weight_col="n_chars", max_depth=4
    )


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-mirror detection (ops/mirrors.py mirror_hosts): hosts
    whose distinct content-fingerprint sets overlap are one logical
    site — the host-granularity sibling of minhash_lsh, with the same
    hot-key discipline (a fingerprint on more hosts than the cap is
    boilerplate, excluded identically in both engines). Staging plants
    real mirrors: every doc lives on www.<source>.com and every third
    doc ALSO on mirror.<source>.com, fingerprint = md5(text). All
    ratios are half-up integer divisions of exact longs."""
    from dads_spark.ops import mirror_hosts

    docs = _t(spark, sf_dir, "documents")
    primary = docs.select(
        F.concat(F.lit("www."), "source", F.lit(".com")).alias("host"),
        F.md5("text").alias("fp"),
    )
    mirrored = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("mirror."), "source", F.lit(".com")).alias(
            "host"
        ),
        F.md5("text").alias("fp"),
    )
    return mirror_hosts(
        primary.unionAll(mirrored),
        "host",
        "fp",
        min_shared=2,
        max_hosts_per_fp=16,
    )


def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of the events value column per event_type
    (rollup/features.py trimmed_mean) — the robust center between
    mean and median: bot bursts and timeout spikes fall in the
    trimmed tails. q6 quantization, exact count-based cut
    k = (n*trim) DIV 1e6, long kept-sum, signed half-up division —
    no float; the rank window and the final aggregate share one
    exchange."""
    from dads_spark.rollup import trimmed_mean

    ev = _t(spark, sf_dir, "events")
    return trimmed_mean(
        ev.select("event_type", "value"),
        ["event_type"],
        "value",
        trim_q6=100_000,
    )


def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate H(Y|X) of event-type navigation per user
    cohort (rollup/analytics.py markov_entropy_rate) — completes the
    entropy triple (SampEn: value templates, PE: shapes, this: symbol
    transitions). Exact transition/row counts; each cell's
    c*(ln c_x - ln c_xy) quantizes to q3 BEFORE the cross-cell sum
    (order-free long addition); rate is a half-up integer division.
    Chains are scoped per user — transitions never cross users."""
    from dads_spark.rollup import markov_entropy_rate

    ev = _t(spark, sf_dir, "events").withColumn(
        "cohort", (F.col("user_id") % 3).cast("long")
    )
    return markov_entropy_rate(
        ev, ["cohort"], "user_id", "ts", "event_type", "event_id"
    )


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabasi burstiness B = (sigma-mu)/(sigma+mu) of each
    user's inter-event gaps (rollup/analytics.py burstiness) — the
    bot-vs-human single gauge: metronomic gaps (B -> -1) are
    automation however plausible each event looks. Exact long moments
    (n, sum, sum of squares) carry the pin; b_q6 is one fixed-shape
    float chain on exact operands. Epoch seconds are staged
    numerically so both engines share the identical arithmetic."""
    from dads_spark.rollup import burstiness

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000"
        ).alias("sec"),
    )
    return burstiness(ev, ["user_id"], "sec", "event_id")


_BLOCKWORD_CATEGORIES = {
    "joins": ["join", "merge"],
    "scans": ["scan", "filter"],
    "streaming": ["stream", "window"],
}


def q_blockword_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category word-blocklist scanner (ops/quality.py blockword_scan)
    — the C4 'bad words' pass generalized to per-category counts so
    curation can drop/down-weight/route instead of a binary kill.
    One regexp_count per category in a single map-only codegen
    projection (zero shuffles at 100 TB); integer flag threshold.
    Demo categories use the synthetic corpus vocabulary."""
    from dads_spark.ops import blockword_scan

    docs = _t(spark, sf_dir, "documents")
    return blockword_scan(
        docs, "text", _BLOCKWORD_CATEGORIES, ["doc_id"],
        flag_per_10k=600,
    )


def q_series_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed per-series TRIAGE PROFILE flagship — the feature-store
    vector a series router reads before any per-series model runs,
    assembled from five independent gauges over the SAME hourly
    series: sample entropy (value-template regularity), permutation
    entropy (shape complexity), 24h DFT amplitude (diurnal strength),
    Hurst exponent (persistence), c3/trev at lag 24 (nonlinearity /
    time-asymmetry). One row per series; every column carries its
    operator's exact-integer pin, and the oracle composes the five
    oracle queries verbatim — the composition itself is what this
    entry certifies."""
    from dads_spark.rollup import (
        dft_daily,
        hurst_rs,
        nonlinearity_stats,
        perm_entropy,
        sample_entropy,
    )

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    se = sample_entropy(hourly, ["event_type"], "hw", "cnt", r=2).select(
        "event_type", "sampen_q3"
    )
    pe = perm_entropy(hourly, ["event_type"], "hw", "cnt").select(
        "event_type", "pe_q3"
    )
    d1 = (
        dft_daily(hourly, ["event_type"], "hw", "cnt")
        .filter(F.col("harmonic") == 1)
        .select("event_type", F.col("amp_q6").alias("amp24_q6"))
    )
    hu = (
        hurst_rs(
            hourly, ["event_type"], "hw", "cnt", sizes=(16, 32, 64, 128)
        )
        .select("event_type", "hurst_q6")
        .distinct()
    )
    nl = (
        nonlinearity_stats(
            hourly, ["event_type"], "hw", "cnt", lags=(24,)
        )
        .select("event_type", "c3_mean", "trev_mean")
    )
    return (
        se.join(pe, "event_type")
        .join(d1, "event_type")
        .join(hu, "event_type")
        .join(nl, "event_type")
    )


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA communities over the synthetic
    crawl's domain graph (ops/linkgraph.py modularity) — LPA finds
    the communities, this SCORES them: Q is the exact integer
    fraction sum_c(4*m*e_c - d_c^2) / (4*m^2), emitted per community
    with the exact (e_intra, d_sum, m_edges) operands plus the
    signed half-up q6 of the global Q. The oracle embeds the full
    label_propagation oracle verbatim for the labels."""
    from dads_spark.ops import (
        domain_edges,
        extract_links,
        label_propagation,
        modularity,
    )

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">l</a> <a href=\'http://h'),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>m</a></p>"),
        ).alias("html"),
    )
    links = extract_links(pages, "html", "doc_id", keep=("src_domain",))
    edges = domain_edges(links, "src_domain", "link_url")
    labels = label_propagation(edges, rounds=3)
    return modularity(edges, labels)


def q_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction intervals for the seasonal-naive
    (t-168h) forecaster per event_type (rollup/forecast.py
    conformal_interval) — distribution-free calibrated alert bands:
    half-width = the ceil((n+1)*0.9)-th smallest calibration
    |residual|, an exact order statistic; held-out coverage emitted
    as the exact (n_covered, n_test) pair. Gap-safe wall-clock
    seasonal join; integer rank arithmetic end to end."""
    from dads_spark.rollup import conformal_interval

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return conformal_interval(
        hourly, ["event_type"], "hw", "cnt", season=168,
        alpha_q6=100_000,
    )


def q_maxmin_fair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair (water-filling) fetch-slot allocation
    (ops/apportion.py maxmin_fair): per-host page counts as demands
    against a capacity of 300 slots — small hosts satisfied in full,
    the residue split evenly (integer water level + MOD leftover in
    (demand, key) order). Pure BIGINT DIV/MOD/rank arithmetic; the
    exact complement of the Hamilton proportional split."""
    from dads_spark.ops import maxmin_fair

    docs = _t(spark, sf_dir, "documents")
    dem = docs.groupBy(
        F.concat(F.lit("h"), (F.col("doc_id") % 23).cast("string"))
        .alias("grp")
    ).agg(F.count(F.lit(1)).alias("demand"))
    return maxmin_fair(dem, capacity=300)


def q_topk_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-capped categorical rollup (rollup/analytics.py
    topk_other): top-10 users per event_type kept exactly, the tail
    collapsed into one __other__ bucket that PRESERVES totals — the
    dashboard/tier materialization standard for high-cardinality
    dimensions. Deterministic (weight DESC, category ASC) boundary;
    the rank window and re-aggregate run on the category relation."""
    from dads_spark.rollup import topk_other

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").cast("string").alias("user")
    )
    return topk_other(ev, ["event_type"], "user", k=10)


def q_doc_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed per-DOCUMENT triage profile flagship — the curation
    twin of series_triage: the quality vector a mixture/filter stage
    reads per doc, assembled from five independent gauges (lexical
    quality score, n-gram repetition, Flesch readability, token
    entropy, blocklist hits+flag) joined on doc_id. Every column
    carries its operator's pin; the oracle embeds the five oracle
    queries verbatim — the entry certifies the COMPOSITION."""
    tq = q_text_quality(spark, sf_dir).select("doc_id", "quality_score")
    rep = q_repetition_stats(spark, sf_dir).select(
        "doc_id", "dup_ngram_frac", "top_ngram_frac"
    )
    rd = q_readability(spark, sf_dir).select("doc_id", "flesch_q3")
    te = q_token_entropy(spark, sf_dir).select("doc_id", "entropy")
    bw = q_blockword_scan(spark, sf_dir).select(
        "doc_id", "n_blocked_total", "flagged"
    )
    return (
        tq.join(rep, "doc_id")
        .join(rd, "doc_id")
        .join(te, "doc_id")
        .join(bw, "doc_id")
    )


def q_multi_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-season additive decomposition (rollup/periodicity.py
    multi_seasonal_profile): hour-of-day AND day-of-week effects per
    event_type fitted sequentially in exact q6 integer arithmetic —
    the MSTL-style answer to web traffic's superimposed daily+weekly
    cycles that single-period seasonal_decompose cannot separate.
    Every residual is bit-exact (integer half-up divisions only);
    effect tables are 24/7 rows per key and broadcast back."""
    from dads_spark.rollup import multi_seasonal_profile

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return multi_seasonal_profile(hourly, ["event_type"], "hw", "cnt")


def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U drift (rollup/drift.py mannwhitney_drift)
    of each event_type's daily value distribution vs its first-week
    baseline — the rank companion to ks_drift: robust to outliers,
    tests stochastic dominance rather than max ECDF gap. Doubled
    midranks keep u2 and the tie term exact longs; z_q6 is one fixed
    float chain on exact operands."""
    from dads_spark.rollup import mannwhitney_drift

    ev = _t(spark, sf_dir, "events")
    out = mannwhitney_drift(ev, ["event_type"], "ts", "value")
    return out.select(
        "event_type",
        F.unix_timestamp("bucket_ts").alias("ws"),
        "n_period",
        "n_baseline",
        "u2",
        "tie_term",
        "z_q6",
    )


def q_wow_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week Poisson significance (rollup/analytics.py
    poisson_delta_significance over calendar_compare): is each hour's
    change REAL or count noise — z = delta/sqrt(n_cur+n_prev), with
    the alert flag decided in pure integers ((a-b)^2 > 9(a+b)) so the
    paging decision is engine-exact before any float. The missing
    test behind every raw-delta dashboard."""
    from dads_spark.rollup import calendar_compare, poisson_delta_significance

    ev = _t(spark, sf_dir, "events")
    cmpd = calendar_compare(ev, ["event_type"], "ts", "hour", 168)
    return poisson_delta_significance(cmpd, "n_cur", "n_prev", 3)


def q_series_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series health scorecard (rollup/analytics.py series_health)
    over each (event_type, user cohort) hourly grid — completeness
    fill_ppm, largest missing-bucket run, staleness vs the corpus
    head: the observability series-health page and the backfill
    planner's triage input, all exact integers."""
    from dads_spark.rollup import series_health

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        (F.col("user_id") % 5).cast("long").alias("cohort"),
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return series_health(hourly, ["event_type", "cohort"], "hw")


def q_seasonal_conformal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibrated seasonal alert band — the composition the two new
    pieces exist for: the two-season hod x dow fit's bit-exact
    residuals (multi_seasonal_profile) fed into the generic split-
    conformal band (conformal_band). The result is a per-series
    alert half-width that accounts for BOTH cycles and pages at most
    ~10% of the time by construction — distribution-free. The oracle
    embeds the multi_seasonal oracle verbatim under the band SQL."""
    from dads_spark.rollup import conformal_band, multi_seasonal_profile

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr(
            "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
        ).alias("hw"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    prof = multi_seasonal_profile(hourly, ["event_type"], "hw", "cnt")
    return conformal_band(
        prof, ["event_type"], "hw", "resid_q6", alpha_q6=100_000
    )


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join reduction (ops/bloom.py bloom_semijoin) — the
    runtime-filter pattern: the events fact is pre-filtered map-side
    through an m-bit broadcast Bloom of a selective user set BEFORE
    the exact join, so the shuffle carries only the selected users' rows. The pin
    is SEMANTICS EQUIVALENCE (the salted_join discipline): the oracle
    is the plain join — false positives are eliminated by the exact
    join, so only the plan changes. Values aggregate as exact q2
    longs."""
    from dads_spark.ops import bloom_semijoin

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uk"),
        (
            F.signum("value")
            * F.floor(F.abs(F.col("value")) * 100 + F.lit(0.5))
        ).cast("long").alias("vq2"),
    )
    small = (
        ev.select("uk")
        .distinct()
        .filter(F.expr("CAST(uk AS LONG) % 7 = 0"))
    )
    reduced = bloom_semijoin(ev, small, "uk")
    return reduced.join(small, "uk").groupBy("uk").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("vq2").alias("sum_v_q2"),
    )


# (tier, bucket seconds, DRAG window m, grid offset seconds) — the
# week tier anchors on Monday (rollup/tiers.py _OFFSET_US), so its
# staged oracle grid must share the same origin
_DRAG_TIER_SPECS = (
    ("hour", 3600, 24, 0),
    ("day", 86400, 7, 0),
    ("week", 604_800, 4, 345_600),
)


def _stage_drag_tiers_oracle(sf_dir: str) -> str:
    """DRAG ranges per RETENTION TIER from the brute-force z-norm
    oracle over tier-grain gap-filled series (the north rule's
    'matching discord ranges at every retention tier', made a hard
    per-tier signal)."""
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import drag_oracle, q6, tier_counts_gapfilled

    tiers, ets, ss, es, pq_ = [], [], [], [], []
    for tier, unit, m, off in _DRAG_TIER_SPECS:
        for et, x in tier_counts_gapfilled(sf_dir, unit, off).items():
            for s, e, peak in drag_oracle(x, m):
                tiers.append(tier)
                ets.append(et)
                ss.append(s)
                es.append(e)
                pq_.append(int(q6(_np2.array([peak]))[0]))
    return _write_dump(
        "drag_tiers_oracle",
        {
            "tier": _pa.array(tiers, type=_pa.string()),
            "event_type": _pa.array(ets, type=_pa.string()),
            "range_start": _pa.array(ss, type=_pa.int64()),
            "range_end": _pa.array(es, type=_pa.int64()),
            "peak_q6": _pa.array(pq_, type=_pa.int64()),
        },
    )


def q_drag_discords_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRAG discord ranges at EVERY retention tier (hour m=24, day
    m=7, week m=4 — the full hour/day/week cascade of the north rule):
    each tier's gap-filled series scored by the same candidate+refine
    pipeline, union-tagged, pinned against the brute-force z-norm
    oracle computed per tier on the SAME grid (the week grid shares
    the Monday anchor). The hour rows reproduce the drag_discords
    lane; day and week extend the pin up the cascade."""
    from dads_spark.s2g.discord import discord_series_grouped

    ev = _t(spark, sf_dir, "events")
    parts = []
    for tier, unit, m, _off in _DRAG_TIER_SPECS:
        t = ev.groupBy(
            "event_type", bucket_expr("ts", tier)
        ).agg(F.count(F.lit(1)).cast("double").alias("v"))
        filled = gap_fill_linear(
            t, ["event_type"], "bucket_ts", ["v"], unit
        )
        out = discord_series_grouped(
            filled, ["event_type"], "bucket_ts", "v", m=m,
            decision_quantum=1e-6,
        )
        parts.append(
            _q6_cols(
                out,
                ["event_type", "range_start", "range_end"],
                {"peak_nn_dist": "peak_q6"},
            ).select(F.lit(tier).alias("tier"), "*")
        )
    _stage_drag_tiers_oracle(sf_dir)
    res = parts[0]
    for p in parts[1:]:
        res = res.unionByName(p)
    return res


def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western-Electric / Nelson control-chart rule flags over hourly
    count series (rollup/controlchart.py control_chart_flags): R1
    3-sigma point, R2 nine-run same side of mean, R3 six-run monotone,
    R4 two-of-three beyond 2-sigma. Every sigma test is an exact
    integer comparison ((n*v - s)^2 vs k^2*(n*q - s^2)) — no floats
    exist anywhere in the operator or the oracle."""
    from dads_spark.rollup import control_chart_flags

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "hb"
        ),
    ).agg(F.count(F.lit(1)).alias("v"))
    return control_chart_flags(hourly, ["event_type"], "hb", "v")


def _stage_vopt_oracle(sf_dir: str, b: int = 6) -> str:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import hourly_counts, vopt_oracle

    ets, bks, t0, t1, ns, svs, s2s, cs = [], [], [], [], [], [], [], []
    for et, (bsec, v) in hourly_counts(sf_dir).items():
        hb = bsec // 3600
        for bi, s, e, length, sv, s2, c in vopt_oracle(v, b):
            ets.append(et)
            bks.append(bi)
            t0.append(int(hb[s]))
            t1.append(int(hb[e - 1]))
            ns.append(length)
            svs.append(sv)
            s2s.append(s2)
            cs.append(c)
    return _write_dump(
        "vopt_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "bucket": _np2.array(bks, dtype=_np2.int64),
            "t_start": _np2.array(t0, dtype=_np2.int64),
            "t_end": _np2.array(t1, dtype=_np2.int64),
            "n": _np2.array(ns, dtype=_np2.int64),
            "sum_v": _np2.array(svs, dtype=_np2.int64),
            "sum2_v": _np2.array(s2s, dtype=_np2.int64),
            "cost_q3": _np2.array(cs, dtype=_np2.int64),
        },
    )


def q_vopt_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal histogram per hourly count series (rollup/vopt.py):
    the Jagadish et al. DP over a floor-q3 integer SSE objective —
    ANALYZE-grade optimal bucket boundaries with exact moment columns,
    pinned against the plain O(B n^2) scalar DP (arbitrary-precision
    ints, strict-< smallest-split tie rule)."""
    from dads_spark.rollup import vopt_histogram_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "hb"
        ),
    ).agg(F.count(F.lit(1)).alias("v"))
    _stage_vopt_oracle(sf_dir)
    return vopt_histogram_grouped(hourly, ["event_type"], "hb", "v", b=6)


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG document chunking (ops/packing.py chunk_documents): 64-token
    windows with 16-token overlap, fully relational (posexplode ->
    covering-chunk sequence explode -> order-pinned md5 reassembly),
    trailing stubs that add no new token dropped. The md5 column pins
    the exact reassembled chunk text without shipping it."""
    from dads_spark.ops import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=64, overlap=16)


def q_anomaly_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed per-series anomaly SCORECARD — the ops dashboard row
    that fuses this session's three detector families over the same
    hourly count series: Western-Electric rule violation counts
    (levels/runs), seasonal-hybrid ESD anomalies (masked multi-
    outliers), and damped-Holt residual outliers (trend breaks). The
    oracle embeds the control-chart SQL verbatim and aggregates the
    two staged scalar dumps — a detector disagreeing anywhere breaks
    the composed hash."""
    from dads_spark.rollup import (
        control_chart_flags,
        holt_residuals_grouped,
        seasonal_esd_grouped,
    )

    ev = _t(spark, sf_dir, "events")
    hourly_l = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "hb"
        ),
    ).agg(F.count(F.lit(1)).alias("v"))
    cc = (
        control_chart_flags(hourly_l, ["event_type"], "hb", "v")
        .groupBy("event_type")
        .agg(
            F.sum("r1").alias("n_r1"),
            F.sum("r2").alias("n_r2"),
            F.sum("r3").alias("n_r3"),
            F.sum("r4").alias("n_r4"),
        )
    )
    esd = (
        seasonal_esd_grouped(hourly_l, ["event_type"], "hb", "v")
        .filter(F.col("significant") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_esd"))
    )
    hourly_d = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    holt = (
        holt_residuals_grouped(
            hourly_d, ["event_type"], "bucket_ts", "v",
            n_sigma=4.0, phi=0.85,
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_holt"))
    )
    _stage_esd_oracle(sf_dir)
    _stage_holt_oracle(sf_dir, phi=0.85, dump="holt_damped_oracle")
    base = ev.select("event_type").distinct()
    out = (
        base.join(cc, "event_type", "left")
        .join(esd, "event_type", "left")
        .join(holt, "event_type", "left")
    )
    return out.select(
        "event_type",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
            for c in ("n_r1", "n_r2", "n_r3", "n_r4", "n_esd", "n_holt")
        ],
    )


def _stage_haar_oracle(sf_dir: str, k: int = 12) -> str:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import haar_topk_oracle, hourly_counts

    ets, rks, lvs, ps, cs, es = [], [], [], [], [], []
    for et, (_b, v) in hourly_counts(sf_dir).items():
        for r, (lv, pos, coef, en) in enumerate(
            haar_topk_oracle(v, k), start=1
        ):
            ets.append(et)
            rks.append(r)
            lvs.append(lv)
            ps.append(pos)
            cs.append(coef)
            es.append(en)
    return _write_dump(
        "haar_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "rank": _np2.array(rks, dtype=_np2.int64),
            "level": _np2.array(lvs, dtype=_np2.int64),
            "pos": _np2.array(ps, dtype=_np2.int64),
            "coef": _np2.array(cs, dtype=_np2.int64),
            "energy": _np2.array(es, dtype=_np2.int64),
        },
    )


def q_haar_synopsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-12 Haar wavelet synopsis per hourly count series
    (rollup/wavelet.py): unnormalized integer pairwise sum/difference
    transform over the dyadic prefix, exact top-k by the integer
    energy key d^2 * 2^(J-j) — the Matias-Vitter-Wang optimizer
    synopsis beside vopt_histogram. Pinned against the plain scalar
    halving walk in oracles.py."""
    from dads_spark.rollup import haar_topk_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "hb"
        ),
    ).agg(F.count(F.lit(1)).alias("v"))
    _stage_haar_oracle(sf_dir)
    return haar_topk_grouped(hourly, ["event_type"], "hb", "v", k=12)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-tiered compaction planner (rollup/compact.py
    compaction_plan) over the REAL file layout of a written hour tier:
    files bucket into power-of-two size tiers by row count (tier =
    max k with 2^k <= rows via a broadcast powers join — no floating
    log2 anywhere) and a tier merges when it holds >= 4 files. The
    per-file stats are staged so the oracle applies the identical
    policy in SQL over the same footprint."""
    import os as _os

    from dads_spark.rollup import compaction_plan, file_stats

    src = _stage_dir("compactplan_tier", sf_dir)
    if not _os.path.exists(f"{src}/_SUCCESS"):
        ev = _t(spark, sf_dir, "events")
        hour = rollup_from_raw(ev, ["event_type"], "ts", "value", "hour")
        from dads_spark.rollup import write_tier

        write_tier(hour, src)
    stats = file_stats(spark, src, ["bucket_ts"]).select("n_rows")
    import numpy as _np2

    _write_dump(
        "compactplan_stats",
        {
            "n_rows": _np2.array(
                sorted(r["n_rows"] for r in stats.collect()),
                dtype=_np2.int64,
            )
        },
    )
    return compaction_plan(stats, min_files=4)


def q_funnel_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel with an EXCLUSION step (rollup/analytics.py
    funnel_with_exclusion): click -> purchase within 2 h with no error
    strictly between — the MATCH_RECOGNIZE-shaped semantics plain
    funnels can't express. One user-keyed window pass; exact micro-
    second longs decide conversion/blocked/timeout."""
    from dads_spark.rollup import funnel_with_exclusion

    ev = _t(spark, sf_dir, "events")
    return funnel_with_exclusion(
        ev, "user_id", "ts", "event_type",
        step_a="click", step_b="purchase", excluded="error",
        within_sec=7200,
    )


def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-moment sketch per event_type over user_id
    (ops/sketch.py ams_f2): the self-join-size estimator a planner
    consults before picking an equi-join strategy. Linear sketch —
    partials ADD, merge-order independent, hence exactly pinnable
    (unlike t-digest); md5-parity eps signs are engine-portable;
    median-of-means over 5 groups x 16 estimators, all integer; the
    row carries the integer estimate AND the exact F2."""
    from dads_spark.ops import ams_f2

    ev = _t(spark, sf_dir, "events")
    return ams_f2(ev, ["event_type"], "user_id")


def q_polite_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed web-ingest politeness: RAW robots.txt text (with
    badbot groups, comments, decimal delays) -> crawl_delays (RFC 9309
    group walk, exact millis) -> per-host delay coalesced with the 1 s
    crawler default -> frontier_schedule with per-host spacing. The
    oracle derives each host's delay by the synthesis rule directly
    (never re-parsing), so agreement pins the PARSER + the scheduler
    composition end to end."""
    from dads_spark.ops import crawl_delays, frontier_schedule

    docs = _t(spark, sf_dir, "documents")
    hosts = (
        docs.select("source")
        .distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("host")
        )
        .withColumn(
            "_m",
            F.expr(
                "(locate(substring(md5(host), 1, 1), '0123456789abcdef')"
                " - 1) % 3"
            ),
        )
    )
    robots = hosts.select(
        "host",
        F.when(
            F.col("_m") == 0,
            F.lit(
                "User-agent: badbot\nCrawl-delay: 99\n\n"
                "User-agent: *\nDisallow: /tmp"
            ),
        )
        .when(
            F.col("_m") == 1,
            F.lit(
                "User-agent: badbot\nCrawl-delay: 99\n\n"
                "User-agent: *\nCrawl-delay: 2\nDisallow: /tmp"
            ),
        )
        .otherwise(
            F.lit(
                "# crawl policy\nUser-agent: *\nCrawl-delay: 0.5\n"
                "Allow: /"
            )
        )
        .alias("robots_txt"),
    )
    delays = crawl_delays(robots).select(
        "host", F.coalesce("delay_ms", F.lit(1000)).alias("delay_ms")
    )
    frontier = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 10).cast("long").alias("priority"),
        F.expr(
            "(locate(substring(md5(concat(source, '.example.com')), 1, 1), "
            "'0123456789abcdef') - 1) % 4"
        ).alias("wk"),
    ).join(F.broadcast(delays), "host")
    return frontier_schedule(
        frontier, n_workers=4, worker_col="wk", delay_ms_col="delay_ms"
    ).select(
        "host", "url",
        F.col("worker").cast("long").alias("worker"),
        "fetch_offset_ms", "fetch_order",
    )


def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per event_type between hourly event
    counts and hourly distinct users (rollup/analytics.py
    spearman_corr) — the monotone-association gauge beside Pearson:
    tie-averaged ranks carried as exact DOUBLED midranks (the
    mannwhitney discipline), exact long Pearson moments over them
    carry the pin, rho_q6 one fixed-shape float chain."""
    from dads_spark.rollup import spearman_corr

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "hb"
        ),
    ).agg(
        F.count(F.lit(1)).alias("x"),
        F.countDistinct("user_id").alias("y"),
    )
    return spearman_corr(hourly, ["event_type"], "x", "y")


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per hourly count series
    (rollup/controlchart.py runs_test): exact 2x-order-statistic
    median, exact run/side counts carry the pin, z_q6 one fixed-shape
    float chain on exact longs — the whole-series randomness gauge
    beside the per-point chart rules."""
    from dads_spark.rollup import runs_test

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "hb"
        ),
    ).agg(F.count(F.lit(1)).alias("v"))
    return runs_test(hourly, ["event_type"], "hb", "v")


def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation over document
    strata (ops/sampling.py neyman_allocation): weight = exact integer
    sqrt of N_h*q_h - s_h^2 (float sqrt corrected by two integer
    comparisons — a libm ulp cannot flip the floor), seats dealt by
    the exact Hamilton largest-remainder rule. 500 audit probes across
    lang strata by text-length variance."""
    from dads_spark.ops import neyman_allocation

    docs = _t(spark, sf_dir, "documents").select(
        "lang", F.length("text").alias("n_chars")
    )
    return neyman_allocation(docs, "lang", "n_chars", 500)


def q_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality deletes on the versioned tier store
    (checkpoint/snapshots.py delete_keys_mor): v0 = full hour tier;
    v1 = MOR delete of every 7th hour bucket (metadata + key sidecar
    only — the base data directory is shared, pinned by
    test_snapshots); v2 = major compaction folding the sidecar into a
    rewritten base. The oracle recomputes all three states
    relationally — v1 == v2 totals prove compaction changes layout,
    never content; v0 unchanged proves time travel survives deletes."""
    import shutil as _sh

    from dads_spark.checkpoint import SnapshotStore
    from dads_spark.rollup import rollup_from_raw

    base = _stage_dir("mor_store_run", sf_dir)
    _sh.rmtree(base, ignore_errors=True)
    store = SnapshotStore(spark, base)
    ev = _t(spark, sf_dir, "events")
    v0 = store.commit(
        "hour", rollup_from_raw(ev, ["event_type"], "ts", None, "hour")
    )
    tier = store.read("hour", v0)
    keys = tier.filter(
        F.expr("unix_micros(bucket_ts) DIV 3600000000") % 7 == 0
    ).select("event_type", "bucket_ts")
    v1 = store.delete_keys_mor("hour", keys, ["event_type", "bucket_ts"])
    v2 = store.compact_deletes("hour")
    parts = []
    for v in (v0, v1, v2):
        parts.append(
            store.read("hour", v)
            .groupBy()
            .agg(
                F.lit(v).cast("long").alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("doc_count").cast("long").alias("events_total"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed linear classifier scoring over documents
    (ops/quality.py hashed_linear_score): md5-bucket unigram features,
    exact integer logit = sum of broadcast bucket weights, threshold
    keep flag. The deterministic Knuth-multiplicative weight fixture
    stands in for a trained model; the pinned mechanism — hash,
    explode, broadcast join, integer sum — is what scales."""
    from dads_spark.ops import hashed_linear_score

    docs = _t(spark, sf_dir, "documents")
    return hashed_linear_score(docs, n_buckets=256, threshold=0)


def _stage_esd_oracle(sf_dir: str, season: int = 24, k: int = 8) -> str:
    import numpy as _np2
    import pyarrow as _pa

    from dads_spark.oracles import hourly_counts, seasonal_esd_oracle

    ets, ss, ts, vs, us, ms = [], [], [], [], [], []
    sus, nas, gs = [], [], []
    for et, (b, v) in hourly_counts(sf_dir).items():
        rows = seasonal_esd_oracle(b // 3600, v, season=season, k=k)
        for s, ti, vi, ui, mdi, su, na, sig in rows:
            ets.append(et)
            ss.append(s)
            ts.append(ti)
            vs.append(vi)
            us.append(ui)
            ms.append(mdi)
            sus.append(su)
            nas.append(na)
            gs.append(sig)
    return _write_dump(
        "esd_oracle",
        {
            "event_type": _pa.array(ets, type=_pa.string()),
            "step": _np2.array(ss, dtype=_np2.int64),
            "t": _np2.array(ts, dtype=_np2.int64),
            "v": _np2.array(vs, dtype=_np2.int64),
            "u": _np2.array(us, dtype=_np2.int64),
            "md": _np2.array(ms, dtype=_np2.int64),
            "sum_u": _np2.array(sus, dtype=_np2.int64),
            "n_active": _np2.array(nas, dtype=_np2.int64),
            "significant": _np2.array(gs, dtype=_np2.int64),
        },
    )


def q_seasonal_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-hybrid generalized ESD (rollup/esd.py): per-phase
    2*median seasonal removal, then the median/MAD ESD walk whose
    every test is the integer comparison 2*u*1e6 > lambda_q6*md —
    catches MULTIPLE masked outliers that single-pass sigma rules
    miss. The lambda_q6 critical values are published-table constants
    (t-quantile via pure-Python incomplete beta, anchored by t-table
    unit tests). Pinned against the plain-scalar re-derivation in
    oracles.py (sorted-list medians, no numpy)."""
    from dads_spark.rollup import seasonal_esd_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000").alias(
            "hb"
        ),
    ).agg(F.count(F.lit(1)).alias("v"))
    _stage_esd_oracle(sf_dir)
    return seasonal_esd_grouped(hourly, ["event_type"], "hb", "v")


def q_holt_damped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gardner-McKenzie DAMPED-trend Holt residual outliers (phi=0.85)
    over hourly count series — the plateau-safe variant of holt_pinned
    (an undamped trend extrapolates forever and over-alarms on series
    that level off). Same staged-scalar-oracle pin, phi threaded
    through both recurrences in identical expression positions."""
    from dads_spark.rollup import holt_residuals_grouped

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy("event_type", bucket_expr("ts", "hour")).agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    out = holt_residuals_grouped(
        hourly, ["event_type"], "bucket_ts", "v", n_sigma=4.0, phi=0.85
    )
    _stage_holt_oracle(sf_dir, phi=0.85, dump="holt_damped_oracle")
    return _q6_cols(
        out,
        ["event_type", "idx", "value"],
        {"forecast": "fc_q6", "residual": "resid_q6"},
    )


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances from a trusted seed set over the
    deterministic synthetic domain graph the pagerank/trustrank lanes
    share (ops/linkgraph.py bfs_hops): frontier joins + anti-join
    against the settled set, work per round ∝ newly-reached nodes.
    Exact integer hop counts; the oracle is the textbook WITH RECURSIVE
    walk with min(d) per node."""
    from dads_spark.ops import bfs_hops, domain_edges, extract_links

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("src_domain"),
        F.concat(
            F.lit('<p><a href="https://h'),
            ((F.col("doc_id") * 31 + 7) % 97).cast("string"),
            F.lit('.example.com/x">l</a> <a href=\'http://h'),
            ((F.col("doc_id") * 5 + 3) % 11).cast("string"),
            F.lit(".org/y'>m</a></p>"),
        ).alias("html"),
    )
    links = extract_links(pages, "html", "doc_id", keep=("src_domain",))
    edges = domain_edges(links, "src_domain", "link_url")
    return bfs_hops(
        edges, ["h0.example.com", "h50.example.com"], max_hops=15
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: rollup -> gap-fill -> S2G anomaly scores at sf0.001."""
    return q_s2g_hourly_scores(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order IS the driver gate's execution order; the gate
    samples exactly the first 50 entries per round. ROUND-5 ordering
    policy (executing the r4 docstring's rotation note and the r4
    verdict's "Next round #1" directive): positions 1-50 are drawn
    exclusively from the 197 registry entries that had NEVER received
    a driver row through r4 (the union of CORRECTNESS_r01-r04 keys),
    family-weighted in the verdict's stated order -- composed flagship
    pins first, then the storage contracts, the codec family, the
    PromQL family, the ingest family, the graph additions, the
    streaming joins, the r4s12-s14 statistics battery, then the first
    ten of the remainder alphabetically. The registry is FROZEN at 378
    this round (verdict directive: drain, don't grow).

    ROUND-6 ROTATION NOTE (for the next builder): positions 51-197
    below are the 147 still-never-driver-checked entries in
    alphabetical order -- the r6 gate window should be exactly
    positions 51-100 promoted to 1-50 (they are already ordered), and
    r7 drains the final 97. Positions 198+ are the 181 entries with
    r1-r4 driver rows (freshest evidence last to need re-confirmation),
    kept in their r4 relative order; 3 more names carry r1-r4 driver
    rows but are no longer registered. Every displaced entry remains in
    the full local sweep artifacts (both sf0.001 and sf0.01 grids,
    committed per round as the compensating control)."""
    return {
        # -- r5 gate window: flagship compositions --
        "doc_triage": q_doc_triage,
        "series_triage": q_series_triage,
        "log_observability": q_log_observability,
        "fetch_decision": q_fetch_decision,
        "e2e_curation": q_e2e_curation,
        "exp_hist_cascade": q_exp_hist_cascade,
        "topk_rate": q_topk_rate,
        "lww_tier": q_lww_tier,
        "seasonal_conformal": q_seasonal_conformal,
        "anomaly_scorecard": q_anomaly_scorecard,
        "polite_schedule": q_polite_schedule,
        # -- r5 gate window: storage contracts --
        "mor_deletes": q_mor_deletes,
        "compaction_plan": q_compaction_plan,
        "rle_roundtrip_hour": q_rle_roundtrip_hour,
        # -- r5 gate window: codec family --
        "chimp_roundtrip_hour": q_chimp_roundtrip_hour,
        "alp_roundtrip_hour": q_alp_roundtrip_hour,
        "simple8b_roundtrip_hour": q_simple8b_roundtrip_hour,
        "frontcode_urls": q_frontcode_urls,
        "pla_segments": q_pla_segments,
        # -- r5 gate window: PromQL family --
        "promql_rate": q_promql_rate,
        "predict_linear": q_predict_linear,
        "histogram_quantile": q_histogram_quantile,
        "promql_resets": q_promql_resets,
        # -- r5 gate window: ingest family --
        "lww_compact": q_lww_compact,
        "cdc_apply": q_cdc_apply,
        "watermark_tuning": q_watermark_tuning,
        "ooo_stats": q_ooo_stats,
        # -- r5 gate window: graph family --
        "trustrank": q_trustrank,
        "label_propagation": q_label_propagation,
        "kcore": q_kcore,
        "modularity": q_modularity,
        # -- r5 gate window: streaming joins --
        "streaming_left_join": q_streaming_left_join,
        "streaming_enrich": q_streaming_enrich,
        # -- r5 gate window: statistics battery --
        "control_chart": q_control_chart,
        "seasonal_esd": q_seasonal_esd,
        "runs_test": q_runs_test,
        "spearman_corr": q_spearman_corr,
        "wasserstein_drift": q_wasserstein_drift,
        "vopt_histogram": q_vopt_histogram,
        "haar_synopsis": q_haar_synopsis,
        # -- r5 gate window: alphabetical remainder head --
        "ab_test": q_ab_test,
        "acf_period": q_acf_period,
        "alert_hysteresis": q_alert_hysteresis,
        "ams_f2": q_ams_f2,
        "anchor_text": q_anchor_text,
        "ann_sq8": q_ann_sq8,
        "asap_smooth": q_asap_smooth,
        "attribution": q_attribution,
        "benford_digits": q_benford_digits,
        "bfs_hops": q_bfs_hops,
        # ---- position 50 ends here ---------------------------------
        # -- r6 backlog: never-driver-checked, alphabetical ----------
        "bitemporal_asof": q_bitemporal_asof,
        "bitmap_filter": q_bitmap_filter,
        "blockword_scan": q_blockword_scan,
        "bloom_dedup": q_bloom_dedup,
        "bloom_semijoin": q_bloom_semijoin,
        "bmp_decode": q_bmp_decode,
        "bot_detect": q_bot_detect,
        "bpe_encode": q_bpe_encode,
        "bpe_train": q_bpe_train,
        "burstiness": q_burstiness,
        "c4_clean": q_c4_clean,
        "cache_policy": q_cache_policy,
        "cdc_chunking": q_cdc_chunking,
        "cdx_captures": q_cdx_captures,
        "chi2_drift": q_chi2_drift,
        "chunk_documents": q_chunk_documents,
        "clf_parse": q_clf_parse,
        "concentration": q_concentration,
        "conformal_interval": q_conformal_interval,
        "content_sniff": q_content_sniff,
        "correlation_matrix": q_correlation_matrix,
        "counter_repair": q_counter_repair,
        "covisitation": q_covisitation,
        "crawl_budget": q_crawl_budget,
        "croston": q_croston,
        "curriculum_order": q_curriculum_order,
        "data_contract": q_data_contract,
        "decayed_popularity": q_decayed_popularity,
        "degree_assortativity": q_degree_assortativity,
        "delta_attribution": q_delta_attribution,
        "dft_daily": q_dft_daily,
        "drag_discords_tiers": q_drag_discords_tiers,
        "duration_above": q_duration_above,
        "embedding_pca": q_embedding_pca,
        "encoding_advisor": q_encoding_advisor,
        "exp_hist_quantile": q_exp_hist_quantile,
        "exp_histogram": q_exp_histogram,
        "forecast_reconcile": q_forecast_reconcile,
        "funnel_exclusion": q_funnel_exclusion,
        "funnel_windowed": q_funnel_windowed,
        "fuzzy_pairs": q_fuzzy_pairs,
        "gopher_rules": q_gopher_rules,
        "hampel_filter": q_hampel_filter,
        "heaps_growth": q_heaps_growth,
        "hits_scores": q_hits_scores,
        "holt_damped": q_holt_damped,
        "ht_estimate": q_ht_estimate,
        "html_metadata": q_html_metadata,
        "html_tables": q_html_tables,
        "hurst_rs": q_hurst_rs,
        "index_delta_merge": q_index_delta_merge,
        "interval_join": q_interval_join,
        "ip_range_lookup": q_ip_range_lookup,
        "isotonic": q_isotonic,
        "ivm_join": q_ivm_join,
        "jaccard_join": q_jaccard_join,
        "join_size_estimate": q_join_size_estimate,
        "k_anonymity": q_k_anonymity,
        "kmv_distinct": q_kmv_distinct,
        "kmv_intersect": q_kmv_intersect,
        "kmv_sliding": q_kmv_sliding,
        "ks_drift": q_ks_drift,
        "label_cardinality": q_label_cardinality,
        "label_index_select": q_label_index_select,
        "langid_confusion": q_langid_confusion,
        "late_refresh": q_late_refresh,
        "link_prediction": q_link_prediction,
        "link_reciprocity": q_link_reciprocity,
        "mann_kendall": q_mann_kendall,
        "mannwhitney_drift": q_mannwhitney,
        "markov_entropy": q_markov_entropy,
        "maxmin_fair": q_maxmin_fair,
        "merkle_refresh": q_merkle_refresh,
        "merkle_tiers": q_merkle_tiers,
        "mirror_hosts": q_mirror_hosts,
        "motifs_pinned": q_motifs_pinned,
        "multi_seasonal": q_multi_seasonal,
        "multi_touch": q_multi_touch,
        "neyman_allocation": q_neyman_allocation,
        "nonlinearity": q_nonlinearity,
        "ohlc_bars": q_ohlc_bars,
        "page_hinkley": q_page_hinkley,
        "partitioned_prune": q_partitioned_prune,
        "path_rollup": q_path_rollup,
        "peak_prominence": q_peak_prominence,
        "perm_entropy": q_perm_entropy,
        "perplexity_buckets": q_perplexity_buckets,
        "phrase_search_pos": q_phrase_search,
        "pmi_collocations": q_pmi_collocations,
        "png_decode": q_png_decode,
        "politeness_audit": q_politeness_audit,
        "pref_winrate": q_pref_winrate,
        "pruning_stats": q_pruning_stats,
        "psi_drift": q_psi_drift,
        "quality_classifier": q_quality_classifier,
        "quantile_bands": q_quantile_bands,
        "quantile_normalize": q_quantile_normalize,
        "rake_keywords": q_rake_keywords,
        "range_splits": q_range_splits,
        "ranking_eval": q_ranking_eval,
        "rbo": q_rbo,
        "readability": q_readability,
        "redirect_resolve": q_redirect_resolve,
        "rendezvous_shard": q_rendezvous_shard,
        "retention_cost": q_retention_cost,
        "revisit_schedule": q_revisit_schedule,
        "rolling_backtest": q_rolling_backtest,
        "rolling_corr": q_rolling_corr,
        "s2g_detection_eval": q_s2g_detection_eval,
        "salted_join": q_salted_join,
        "sample_entropy": q_sample_entropy,
        "scd2_asof_join": q_scd2_asof_join,
        "schema_evolution": q_schema_evolution,
        "script_mix": q_script_mix,
        "seasonal_strength": q_seasonal_strength,
        "semdedup": q_semdedup,
        "series_churn": q_series_churn,
        "series_health": q_series_health,
        "session_patterns": q_session_patterns,
        "shuffle_skew_report": q_shuffle_skew_report,
        "sitemap_coverage": q_sitemap_coverage,
        "snapshot_diff": q_snapshot_diff,
        "staleness_report": q_staleness_report,
        "streaming_cusum": q_streaming_cusum,
        "streaming_kmv": q_streaming_kmv,
        "streaming_zscore": q_streaming_zscore,
        "survival_risk": q_survival_risk,
        "temporal_split": q_temporal_split,
        "term_dispersion": q_term_dispersion,
        "tier_consistency": q_tier_consistency,
        "token_bucket": q_token_bucket,
        "token_budget": q_token_budget,
        "topk_other": q_topk_other,
        "transition_matrix": q_transition_matrix,
        "trending_terms": q_trending_terms,
        "trigram_search": q_trigram_search,
        "trimmed_mean": q_trimmed_mean,
        "ts_features": q_ts_features,
        "url_templates": q_url_templates,
        "vocab_coverage": q_vocab_coverage,
        "wav_decode": q_wav_decode,
        "weighted_median": q_weighted_median,
        "wet_export": q_wet_export,
        "wow_delta": q_wow_delta,
        "wow_significance": q_wow_significance,
        "zipf_slope": q_zipf_slope,
        "zlib_ratio": q_zlib_ratio,
        # -- driver-checked r1-r4 (r4 relative order preserved) ------
        "tier_snapshots": q_tier_snapshots,
        "snapshot_upsert_delete": q_snapshot_upsert_delete,
        "warc_ingest": q_warc_ingest,
        "html_extract": q_html_extract,
        "robots_policy": q_robots_policy,
        "ann_pq": q_ann_pq,
        "ann_ivf_pq": q_ann_ivf_pq,
        "table_profile": q_table_profile,
        "profile_drift": q_profile_drift,
        "tv_drift": q_tv_drift,
        "bucket_sample": q_bucket_sample,
        "burst_intervals": q_burst_intervals,
        "cm_freq_cascade": q_cm_freq_cascade,
        "compressed_read_range": q_compressed_read_range,
        "domain_cap": q_domain_cap,
        "dtw_distance": q_dtw_distance,
        "duplicate_spans": q_duplicate_spans,
        "mixture_balance": q_mixture_balance,
        "multi_source_rollup": q_multi_source_rollup,
        "ols_trend": q_ols_trend,
        "redact_pii": q_redact_pii,
        "resample_locf": q_resample_locf,
        "retention_downsample": q_retention_downsample,
        "rolling_quantile": q_rolling_quantile,
        "seasonal_naive_error": q_seasonal_naive_error,
        "shingle_containment": q_shingle_containment,
        "stratified_sample": q_stratified_sample,
        "streaming_topk_hopping": q_streaming_topk_hopping,
        "tier_route": q_tier_route,
        "unigram_logprob": q_unigram_logprob,
        "zorder_values": q_zorder_values,
        "serving_path_range": q_serving_path_range,
        "minhash_lsh": q_minhash_lsh,
        "pack_sequences": q_pack_sequences,
        "streaming_tier_backfill": q_streaming_tier_backfill,
        "scd2_user_state": q_scd2_user_state,
        "bigram_logprob": q_bigram_logprob,
        "frontier_schedule": q_frontier_schedule,
        "anomaly_ensemble": q_anomaly_ensemble,
        "weighted_sample": q_weighted_sample,
        "dedup_normalized": q_dedup_normalized,
        "rolling_active_users": q_rolling_active_users,
        "triangle_counts": q_triangle_counts,
        "streaming_scd2": q_streaming_scd2,
        "line_dedup": q_line_dedup,
        "crawl_delta": q_crawl_delta,
        "crawl_churn": q_crawl_churn,
        "hybrid_retrieval": q_hybrid_retrieval,
        "slo_burn": q_slo_burn,
        "dsir_select": q_dsir_select,
        "rollup_hour": q_rollup_hour,
        "rollup_day_cascade": q_rollup_day_cascade,
        "rollup_week_cascade": q_rollup_week_cascade,
        "rollup_hour_salted": q_rollup_hour_salted,
        "gapfill_hour_linear": q_gapfill_hour_linear,
        "gorilla_roundtrip_hour": q_gorilla_roundtrip_hour,
        "streaming_rollup_hour": q_streaming_rollup_hour,
        "topk_per_type": q_topk_per_type,
        "dayofweek_profile": q_dayofweek_profile,
        "distinct_users": q_distinct_users,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_md5": q_minhash_md5,
        "dedup_exact": q_dedup_exact,
        "doc_fingerprint": q_doc_fingerprint,
        "s2g_score_profile": q_s2g_score_profile,
        "array_agg_ordered": q_array_agg_ordered,
        "heavy_hitters": q_heavy_hitters,
        "hopping_rollup": q_hopping_rollup,
        "interval_merge": q_interval_merge,
        "url_canonicalize": q_url_canonicalize,
        "boilerplate_lines": q_boilerplate_lines,
        "dup_clusters": q_dup_clusters,
        "repetition_stats": q_repetition_stats,
        "q12_priority_class": q12_priority_class,
        "q13_customer_distribution": q13_customer_distribution,
        "q15_top_supplier": q15_top_supplier,
        "q16_supplier_part_count": q16_supplier_part_count,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q20_part_promotion": q20_part_promotion,
        "q21_waiting_supplier": q21_waiting_supplier,
        "e2e_web_ingest": q_e2e_web_ingest,
        "link_pagerank": q_link_pagerank,
        "decontaminate": q_decontaminate,
        "token_entropy": q_token_entropy,
        "vocab_oov": q_vocab_oov,
        "autocorrelation": q_autocorrelation,
        "seasonal_decompose": q_seasonal_decompose,
        "inverted_index": q_inverted_index,
        "lttb_downsample": q_lttb_downsample,
        "ewma_anomaly": q_ewma_anomaly,
        "winnow_fingerprints": q_winnow_fingerprints,
        "holt_pinned": q_holt_pinned,
        "cusum_pinned": q_cusum_pinned,
        "matrix_profile_pinned": q_matrix_profile_pinned,
        "drag_discords": q_drag_discords,
        "ann_ivf": q_ann_ivf,
        "simhash_near_pairs": q_simhash_near_pairs,
        "ann_lsh": q_ann_lsh,
        "s2g_graph_edges": q_s2g_graph_edges,
        "resample_linear": q_resample_linear,
        "compact_roundtrip": q_compact_roundtrip,
        "hll_distinct_cascade": q_hll_distinct_cascade,
        "pattern_search": q_pattern_search,
        "funnel_steps": q_funnel_steps,
        "kmeans_clusters": q_kmeans_clusters,
        "minmax_downsample": q_minmax_downsample,
        "theil_sen_trend": q_theil_sen_trend,
        "session_gap_stats": q_session_gap_stats,
        "holt_winters_pinned": q_holt_winters_pinned,
        "domain_blocklist": q_domain_blocklist,
        "pelt_changepoints": q_pelt_changepoints,
        "simhash": q_simhash,
        "streaming_stream_join": q_streaming_stream_join,
        "q1_pricing_summary": q1_pricing_summary,
        "q3_shipping_priority": q3_shipping_priority,
        "q5_region_revenue": q5_region_revenue,
        "q6_revenue_filter": q6_revenue_filter,
        "q7_nation_trade": q7_nation_trade,
        "q10_returned_customers": q10_returned_customers,
        "q14_promo_share": q14_promo_share,
        "q18_big_orders": q18_big_orders,
        "q19_disjunctive_pred": q19_disjunctive_pred,
        "q22_idle_balance": q22_idle_balance,
        "stats_aggregates": q_stats_aggregates,
        "percentiles_value": q_percentiles_value,
        "range_join_clicks": q_range_join_clicks,
        "pivot_lang_share": q_pivot_lang_share,
        "unpivot_tier_metrics": q_unpivot_tier_metrics,
        "histogram_value": q_histogram_value,
        "neardup_cosine": q_neardup_cosine,
        "cube_pricing": q_cube_pricing,
        "setop_segments": q_setop_segments,
        "asof_last_click": q_asof_last_click,
        "date_string_functions": q_date_string_functions,
        "semi_anti_customers": q_semi_anti_customers,
        "window_running_order_total": q_window_running_order_total,
        "sessionize": q_sessionize,
        "json_extract_props": q_json_extract_props,
        "simhash_md5": q_simhash_md5,
        "retention_enforce": q_retention_enforce,
        "streaming_sessionize": q_streaming_sessionize,
        "udaf_geomean": q_udaf_geomean,
        "window_frames_ranking": q_window_frames_ranking,
        "multimodal_metadata": q_multimodal_metadata,
        "bm25_rank": q_bm25_rank,
        "tier_incremental_refresh": q_tier_incremental_refresh,
        "gapfill_hour_locf": q_gapfill_hour_locf,
        "text_quality_ext": q_text_quality_ext,
        "counter_rate": q_counter_rate,
        "time_weighted_avg": q_time_weighted_avg,
        "seasonal_outliers": q_seasonal_outliers,
        "mad_outliers": q_mad_outliers,
        "paa_sax": q_paa_sax,
        "series_xcorr": q_series_xcorr,
        "cohort_retention": q_cohort_retention,
        "top_terms": q_top_terms,
        "deterministic_sample": q_deterministic_sample,
        "hash_split": q_hash_split,
        "streaming_dedup": q_streaming_dedup,
        "session_window_native": q_session_window_native,
        "language_id": q_language_id,
        "knn_bruteforce": q_knn_bruteforce,
        "label_centroids": q_label_centroids,
        "lag_value_delta": q_lag_value_delta,
        "rollup_grouping_sets": q_rollup_grouping_sets,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q4_order_priority": q4_order_priority,
        "q8_market_share": q8_market_share,
        "q9_product_profit": q9_product_profit,
        "q11_important_value": q11_important_value,
        "s2g_hourly_scores": q_s2g_hourly_scores,
        "approx_aggregates": q_approx_aggregates,
        "matrix_profile_discord": q_matrix_profile_discord,
        "holt_residual_outliers": q_holt_residual_outliers,
        "cusum_changepoints": q_cusum_changepoints,
        "quantile_digest": q_quantile_digest,
        "stage_metrics": q_stage_metrics,
        "token_counts": q_token_counts,
        "token_counts_bpe": q_token_counts_bpe,
        "text_quality": q_text_quality,
        "lang_mix": q_lang_mix,
    }


def oracle_sql() -> dict[str, str]:
    d = {
        "link_pagerank": """
            WITH pages AS (
                SELECT doc_id,
                       'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'
                           AS src_domain,
                       '<p><a href="https://h'
                       || CAST((doc_id * 31 + 7) % 97 AS VARCHAR)
                       || '.example.com/x">l</a> <a href=''http://h'
                       || CAST((doc_id * 5 + 3) % 11 AS VARCHAR)
                       || '.org/y''>m</a></p>' AS html
                FROM documents),
            l0 AS (
                SELECT src_domain,
                       unnest(regexp_extract_all(
                           html,
                           'href=["'']((?:https?)://[^"''\\s>]+)["'']', 1))
                           AS link_url
                FROM pages),
            edges AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src_domain AS src,
                           lower(regexp_extract(
                               link_url, '^https?://([^/]+)', 1)) AS dst
                    FROM l0)
                WHERE dst IS NOT NULL AND dst <> '' AND dst <> src),
            nodes AS (
                SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            outdeg AS (
                SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
                FROM edges GROUP BY 1),
            pr0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
            d1 AS (SELECT COALESCE(sum(p.pr), 0) AS dm FROM pr0 p
                   LEFT JOIN outdeg o ON o.src = p.node WHERE o.src IS NULL),
            m1 AS (SELECT e.dst AS node, sum(p.pr / o.outdeg) AS in_mass
                   FROM edges e JOIN outdeg o ON o.src = e.src
                   JOIN pr0 p ON p.node = e.src GROUP BY 1),
            pr1 AS (SELECT n.node,
                           0.15 / nn.n
                           + 0.85 * (COALESCE(m.in_mass, 0) + d1.dm / nn.n)
                               AS pr
                    FROM nodes n CROSS JOIN nn CROSS JOIN d1
                    LEFT JOIN m1 m ON m.node = n.node),
            d2 AS (SELECT COALESCE(sum(p.pr), 0) AS dm FROM pr1 p
                   LEFT JOIN outdeg o ON o.src = p.node WHERE o.src IS NULL),
            m2 AS (SELECT e.dst AS node, sum(p.pr / o.outdeg) AS in_mass
                   FROM edges e JOIN outdeg o ON o.src = e.src
                   JOIN pr1 p ON p.node = e.src GROUP BY 1),
            pr2 AS (SELECT n.node,
                           0.15 / nn.n
                           + 0.85 * (COALESCE(m.in_mass, 0) + d2.dm / nn.n)
                               AS pr
                    FROM nodes n CROSS JOIN nn CROSS JOIN d2
                    LEFT JOIN m2 m ON m.node = n.node),
            d3 AS (SELECT COALESCE(sum(p.pr), 0) AS dm FROM pr2 p
                   LEFT JOIN outdeg o ON o.src = p.node WHERE o.src IS NULL),
            m3 AS (SELECT e.dst AS node, sum(p.pr / o.outdeg) AS in_mass
                   FROM edges e JOIN outdeg o ON o.src = e.src
                   JOIN pr2 p ON p.node = e.src GROUP BY 1),
            pr3 AS (SELECT n.node,
                           0.15 / nn.n
                           + 0.85 * (COALESCE(m.in_mass, 0) + d3.dm / nn.n)
                               AS pr
                    FROM nodes n CROSS JOIN nn CROSS JOIN d3
                    LEFT JOIN m3 m ON m.node = n.node)
            SELECT node, round(pr, 6) AS pr FROM pr3
        """,
        "decontaminate": """
            WITH s AS (
                SELECT doc_id,
                       CASE WHEN md5(CAST(doc_id AS VARCHAR))
                                 < '40000000000000000000000000000000'
                            THEN 'test' ELSE 'train' END AS split,
                       string_split(text, ' ') AS w
                FROM documents),
            i AS (SELECT doc_id, split, w,
                         unnest(range(1, greatest(len(w) - 1, 1))) AS i
                  FROM s),
            g AS (SELECT DISTINCT doc_id, split,
                         array_to_string(w[i:i + 2], ' ') AS gram
                  FROM i),
            t AS (SELECT DISTINCT gram FROM g WHERE split = 'test')
            SELECT g.doc_id, count(*) AS n_hit_grams
            FROM g JOIN t USING (gram)
            WHERE g.split = 'train'
            GROUP BY 1
        """,
        "token_entropy": """
            WITH w AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
            c AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS distinct_tokens,
                   round(ln(CAST(sum(c) AS DOUBLE))
                         - sum(c * ln(c)) / sum(c), 6) AS entropy
            FROM c GROUP BY 1
        """,
        "vocab_oov": """
            WITH w AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents),
            pw AS (SELECT doc_id, w, count(*) AS cnt FROM w GROUP BY 1, 2),
            v AS (
                SELECT w FROM (
                    SELECT w, sum(cnt) AS tot FROM pw GROUP BY 1)
                QUALIFY row_number() OVER (ORDER BY tot DESC, w ASC) <= 64)
            SELECT p.doc_id,
                   CAST(sum(p.cnt) AS BIGINT) AS n_tokens,
                   round(CAST(sum(CASE WHEN v.w IS NULL THEN p.cnt
                                       ELSE 0 END) AS DOUBLE)
                         / sum(p.cnt), 6) AS oov_frac
            FROM pw p LEFT JOIN v ON v.w = p.w
            GROUP BY 1
        """,
        "autocorrelation": """
            WITH b AS (
                SELECT event_type, date_trunc('hour', ts) AS bt,
                       sum(value) AS v
                FROM events GROUP BY 1, 2),
            l AS (SELECT event_type, v,
                         lag(v, 1) OVER w AS l1,
                         lag(v, 2) OVER w AS l2,
                         lag(v, 3) OVER w AS l3
                  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bt)),
            a AS (SELECT event_type, count(*) AS n_buckets,
                         round(corr(v, l1), 6) AS a1,
                         round(corr(v, l2), 6) AS a2,
                         round(corr(v, l3), 6) AS a3
                  FROM l GROUP BY 1)
            SELECT event_type, n_buckets, 1 AS lag, a1 AS acf FROM a
            UNION ALL
            SELECT event_type, n_buckets, 2, a2 FROM a
            UNION ALL
            SELECT event_type, n_buckets, 3, a3 FROM a
        """,
        "seasonal_decompose": """
            WITH b AS (
                SELECT event_type, date_trunc('hour', ts) AS bt,
                       sum(value) AS v
                FROM events GROUP BY 1, 2),
            t AS (SELECT event_type, bt, v,
                         avg(v) OVER (PARTITION BY event_type ORDER BY bt
                                      ROWS BETWEEN 12 PRECEDING
                                      AND 12 FOLLOWING) AS trend
                  FROM b),
            s AS (SELECT event_type, bt, v, trend,
                         avg(v - trend) OVER (
                             PARTITION BY event_type, date_part('hour', bt))
                             AS seasonal
                  FROM t)
            SELECT event_type,
                   strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(v, 6) AS v,
                   round(trend, 6) AS trend,
                   round(seasonal - 1e-9, 6) AS seasonal,
                   round(v - trend - seasonal - 1e-9, 6) AS residual
            FROM s
        """,
        "inverted_index": """
            WITH w AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents),
            pd AS (SELECT term, doc_id, count(*) AS tf FROM w GROUP BY 1, 2)
            SELECT term, count(*) AS doc_freq,
                   CAST(sum(tf) AS BIGINT) AS total_tf,
                   array_to_string(list_sort(list(doc_id)), ',') AS postings
            FROM pd GROUP BY 1 HAVING count(*) >= 4
        """,
        "heavy_hitters": """
            WITH toks AS (
                SELECT unnest(string_split(text, ' ')) AS item
                FROM documents),
            tot AS (SELECT count(*) AS n FROM toks WHERE item <> '')
            SELECT item, count(*) AS cnt
            FROM toks, tot
            WHERE item <> ''
            GROUP BY item, tot.n
            HAVING count(*) >= ceil(0.034 * tot.n)
        """,
        "hopping_rollup": """
            WITH ev AS (
                SELECT event_type, epoch_us(ts) AS t_us, value FROM events),
            expanded AS (
                SELECT event_type, value, t_us,
                       (t_us // 900000000) * 900 - 900 * o.o AS ws
                FROM ev, (SELECT unnest([0, 1, 2, 3]) AS o) o)
            SELECT event_type, ws, count(*) AS n,
                   round(sum(value), 4) AS value_sum,
                   round(min(value), 4) AS value_min,
                   round(max(value), 4) AS value_max
            FROM expanded
            WHERE t_us >= ws * 1000000 AND t_us < (ws + 3600) * 1000000
            GROUP BY 1, 2
        """,
        "interval_merge": """
            WITH iv AS (
                SELECT user_id, epoch_us(ts) // 1000000 AS s,
                       epoch_us(ts) // 1000000 + 1800 AS e
                FROM events),
            m AS (
                SELECT user_id, s, e,
                       max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS pme
                FROM iv),
            fl AS (
                SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END
                          AS ni
                FROM m),
            isl AS (
                SELECT *, sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS island
                FROM fl)
            SELECT user_id, min(s) AS island_start, max(e) AS island_end,
                   count(*) AS n_intervals
            FROM isl GROUP BY user_id, island
        """,
        "url_canonicalize": """
            WITH u AS (
                SELECT doc_id,
                       'https://www.' || source ||
                       CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
                            ELSE '.example.com' END ||
                       CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
                       '/p/' || doc_id::VARCHAR ||
                       CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
                       '?utm_source=feed&z=' || lang || '&a=1' AS url
                FROM documents),
            parts AS (
                SELECT doc_id,
                       lower(regexp_extract(url, '^([a-z]+)://', 1))
                           AS protocol,
                       regexp_replace(regexp_replace(
                           lower(regexp_extract(
                               url, '^[a-z]+://([^/?#]+)', 1)),
                           '^www\\.', ''), ':(80|443)$', '') AS host,
                       regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1)
                           AS rawpath,
                       regexp_extract(url, '\\?([^#]*)', 1) AS rawquery
                FROM u),
            canon AS (
                SELECT doc_id, protocol, host,
                       CASE WHEN rawpath = '' THEN '/'
                            WHEN length(rawpath) > 1
                                 AND rawpath LIKE '%/'
                            THEN substr(rawpath, 1, length(rawpath) - 1)
                            ELSE rawpath END AS path,
                       array_to_string(list_sort(list_filter(
                           string_split(rawquery, '&'),
                           x -> x <> '' AND NOT list_contains(
                               ['utm_source', 'utm_medium', 'utm_campaign',
                                'utm_term', 'utm_content', 'gclid', 'fbclid',
                                'msclkid', 'mc_eid', 'igshid', 'ref_src'],
                               string_split(x, '=')[1]))), '&') AS q,
                       string_split(host, '.') AS labels
                FROM parts)
            SELECT doc_id, host,
                   CASE WHEN host LIKE '%.co.uk'
                            AND len(labels) >= 3
                        THEN array_to_string(
                            list_slice(labels, len(labels) - 2,
                                       len(labels)), '.')
                        WHEN len(labels) >= 2
                        THEN array_to_string(
                            list_slice(labels, len(labels) - 1,
                                       len(labels)), '.')
                        ELSE host END AS site,
                   protocol || '://' || host || path ||
                   CASE WHEN q = '' THEN '' ELSE '?' || q END
                       AS canonical_url
            FROM canon
        """,
        "boilerplate_lines": """
            WITH framed AS (
                SELECT doc_id, source,
                       'nav ' || source || chr(10) || text || chr(10) ||
                       'copyright ' || source AS text
                FROM documents),
            lines AS (
                SELECT source, doc_id,
                       unnest(string_split(text, chr(10))) AS line
                FROM framed)
            SELECT source, line, count(DISTINCT doc_id) AS n_docs
            FROM lines WHERE line <> ''
            GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= 3
        """,
        "rollup_hour": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum,
                   round(min(value), 2) AS value_min,
                   round(max(value), 2) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "rollup_day_cascade": """
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum,
                   round(min(value), 2) AS value_min,
                   round(max(value), 2) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "rollup_week_cascade": """
            SELECT event_type,
                   strftime(date_trunc('week', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "rollup_hour_salted": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum,
                   round(min(value), 2) AS value_min,
                   round(max(value), 2) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "late_refresh": """
            WITH lateb AS (
              SELECT DISTINCT event_type, date_trunc('hour', ts) AS b
              FROM events
              WHERE CAST(concat('0x',
                       substring(md5(CAST(event_id AS VARCHAR)), 1, 13))
                     AS BIGINT) % 8 = 0),
            fullr AS (
              SELECT event_type, date_trunc('hour', ts) AS b,
                     CAST(count(*) AS BIGINT) AS doc_count,
                     CAST(sum(user_id) AS BIGINT) AS value_sum,
                     CAST(min(user_id) AS BIGINT) AS value_min,
                     CAST(max(user_id) AS BIGINT) AS value_max
              FROM events GROUP BY 1, 2)
            SELECT f.event_type,
                   strftime(f.b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   f.doc_count, f.value_sum, f.value_min, f.value_max,
                   (l.b IS NOT NULL) AS refreshed
            FROM fullr f
            LEFT JOIN lateb l
              ON f.event_type = l.event_type AND f.b = l.b
        """,
        "streaming_zscore": """
            WITH e AS (
              SELECT event_id, event_type, user_id % 997 AS x, ts
              FROM events),
            r AS (
              SELECT event_id, event_type, x,
                     CAST(count(*) OVER w - 1 AS BIGINT) AS n_prev,
                     CAST(sum(x) OVER w - x AS BIGINT) AS s_prev,
                     CAST(sum(x * x) OVER w - x * x AS BIGINT) AS q_prev
              FROM e
              WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW))
            SELECT event_id, event_type, CAST(x AS BIGINT) AS x, n_prev,
                   (n_prev * x - s_prev) * (n_prev * x - s_prev)
                     > 9 * (n_prev * q_prev - s_prev * s_prev) AS is_outlier
            FROM r WHERE n_prev >= 30
        """,
        "bloom_dedup": """
            WITH seend AS (
              SELECT DISTINCT text AS k FROM documents WHERE doc_id % 3 <> 0),
            ks AS (SELECT unnest(generate_series(0, 2)) AS i),
            sh AS (
              SELECT k,
                     CAST(concat('0x', substring(md5(k), 1, 13)) AS BIGINT)
                       AS h1,
                     CAST(concat('0x', substring(md5(k), 14, 13)) AS BIGINT)
                       * 2 + 1 AS h2
              FROM seend),
            spos AS (
              SELECT DISTINCT (h1 + i * h2) % 4096 AS p
              FROM sh CROSS JOIN ks),
            nh AS (
              SELECT doc_id, text AS k,
                     CAST(concat('0x', substring(md5(text), 1, 13)) AS BIGINT)
                       AS h1,
                     CAST(concat('0x', substring(md5(text), 14, 13)) AS BIGINT)
                       * 2 + 1 AS h2
              FROM documents),
            npos AS (
              SELECT doc_id, k, (h1 + i * h2) % 4096 AS p
              FROM nh CROSS JOIN ks),
            hit AS (
              SELECT doc_id, k, bool_and(s.p IS NOT NULL) AS bloom_hit
              FROM npos n LEFT JOIN spos s USING (p) GROUP BY 1, 2)
            SELECT h.doc_id, h.bloom_hit,
                   (e.k IS NOT NULL) AS exact_seen,
                   CASE WHEN e.k IS NOT NULL THEN 'seen'
                        WHEN h.bloom_hit THEN 'false_positive'
                        ELSE 'new' END AS status
            FROM hit h LEFT JOIN seend e ON h.k = e.k
        """,
        "hits_scores": """
            WITH pages AS (
                SELECT doc_id,
                       'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'
                           AS src_domain,
                       '<p><a href="https://h'
                       || CAST((doc_id * 31 + 7) % 97 AS VARCHAR)
                       || '.example.com/x">l</a> <a href=''http://h'
                       || CAST((doc_id * 5 + 3) % 11 AS VARCHAR)
                       || '.org/y''>m</a></p>' AS html
                FROM documents),
            l0 AS (
                SELECT src_domain,
                       unnest(regexp_extract_all(
                           html,
                           'href=["'']((?:https?)://[^"''\\s>]+)["'']', 1))
                           AS link_url
                FROM pages),
            edges AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src_domain AS src,
                           lower(regexp_extract(
                               link_url, '^https?://([^/]+)', 1)) AS dst
                    FROM l0)
                WHERE dst IS NOT NULL AND dst <> '' AND dst <> src),
            nodes AS (
                SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
            h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
            a1 AS (SELECT dst AS node, CAST(sum(h) AS BIGINT) AS a
                   FROM edges JOIN h0 ON h0.node = edges.src GROUP BY 1),
            h1 AS (SELECT src AS node, CAST(sum(a) AS BIGINT) AS h
                   FROM edges JOIN a1 ON a1.node = edges.dst GROUP BY 1),
            a2 AS (SELECT dst AS node, CAST(sum(h) AS BIGINT) AS a
                   FROM edges JOIN h1 ON h1.node = edges.src GROUP BY 1),
            h2 AS (SELECT src AS node, CAST(sum(a) AS BIGINT) AS h
                   FROM edges JOIN a2 ON a2.node = edges.dst GROUP BY 1),
            a3 AS (SELECT dst AS node, CAST(sum(h) AS BIGINT) AS a
                   FROM edges JOIN h2 ON h2.node = edges.src GROUP BY 1),
            h3 AS (SELECT src AS node, CAST(sum(a) AS BIGINT) AS h
                   FROM edges JOIN a3 ON a3.node = edges.dst GROUP BY 1)
            SELECT n.node,
                   CAST(coalesce(a3.a, 0) AS BIGINT) AS auth,
                   CAST(coalesce(h3.h, 0) AS BIGINT) AS hub
            FROM nodes n
            LEFT JOIN a3 ON a3.node = n.node
            LEFT JOIN h3 ON h3.node = n.node
        """,
        "anchor_text": """
            WITH pages AS (
              SELECT '<p><a href="https://h'
                     || CAST((doc_id * 31 + 7) % 97 AS VARCHAR)
                     || '.example.com/x">' || split_part(text, ' ', 1)
                     || ' ' || split_part(text, ' ', 2)
                     || '</a><i>x</i><a href=''http://h'
                     || CAST((doc_id * 5 + 3) % 11 AS VARCHAR)
                     || '.org/y''>' || split_part(text, ' ', 3)
                     || '</a></p>' AS html
              FROM documents),
            l AS (
              SELECT unnest(regexp_extract_all(html,
                       '<a [^>]*href=["''](https?://[^"''\\s>]+)["''][^>]*>([^<]*)</a>',
                       1)) AS u,
                     unnest(regexp_extract_all(html,
                       '<a [^>]*href=["''](https?://[^"''\\s>]+)["''][^>]*>([^<]*)</a>',
                       2)) AS a
              FROM pages),
            t AS (
              SELECT lower(regexp_extract(u, '^https?://([^/]+)', 1))
                       AS dst_domain,
                     unnest(string_split(lower(a), ' ')) AS term
              FROM l),
            c AS (
              SELECT dst_domain, term, CAST(count(*) AS BIGINT) AS n
              FROM t WHERE term <> '' GROUP BY 1, 2)
            SELECT dst_domain, term, n, rank FROM (
              SELECT dst_domain, term, n,
                     row_number() OVER (PARTITION BY dst_domain
                                        ORDER BY n DESC, term) AS rank
              FROM c)
            WHERE rank <= 5
        """,
        "multi_source_rollup": """
            WITH h AS (
              SELECT event_type,
                     strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                     count(*) AS n_events,
                     round(sum(value), 2) AS value_sum
              FROM events GROUP BY 1, 2)
            SELECT 'csv' AS fmt, * FROM h
            UNION ALL SELECT 'orc' AS fmt, * FROM h
            UNION ALL SELECT 'json' AS fmt, * FROM h
        """,
        "gapfill_hour_linear": """
            WITH b AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
            rng AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
            dense AS (
              SELECT r.event_type, gs.g AS bucket
              FROM rng r, LATERAL (SELECT unnest(generate_series(r.lo, r.hi, INTERVAL 1 HOUR)) AS g) gs),
            j AS (
              SELECT d.event_type, d.bucket, b.v
              FROM dense d LEFT JOIN b ON b.event_type = d.event_type AND b.bucket = d.bucket),
            w AS (
              SELECT event_type, bucket, v,
                last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
                first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
                first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                  OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
              FROM j)
            SELECT event_type,
                   strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(CASE WHEN v IS NOT NULL THEN v
                         ELSE pv + (nv - pv) * (epoch(bucket) - epoch(pt)) / (epoch(nt) - epoch(pt))
                         END, 4) AS v,
                   (v IS NULL) AS gap_filled
            FROM w
        """,
        "streaming_stream_join": """
            SELECT p.event_id AS purchase_id, c.event_id AS click_id
            FROM events p
            JOIN events c
              ON c.user_id = p.user_id
             AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
             AND epoch_us(c.ts) < epoch_us(p.ts)
            WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        """,
        "tier_incremental_refresh": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum,
                   round(min(value), 2) AS value_min,
                   round(max(value), 2) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "gapfill_hour_locf": """
            WITH b AS (
              SELECT event_type, date_trunc('hour', ts) AS bucket,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
            rng AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1),
            dense AS (
              SELECT r.event_type, gs.g AS bucket
              FROM rng r, LATERAL (SELECT unnest(generate_series(r.lo, r.hi, INTERVAL 1 HOUR)) AS g) gs),
            j AS (
              SELECT d.event_type, d.bucket, b.v
              FROM dense d LEFT JOIN b ON b.event_type = d.event_type AND b.bucket = d.bucket),
            w AS (
              SELECT event_type, bucket, v,
                last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
              FROM j)
            SELECT event_type,
                   strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(pv, 4) AS v,
                   (v IS NULL) AS gap_filled
            FROM w
        """,
        "sessionize": """
            WITH g AS (
              SELECT user_id, event_id, value, epoch_us(ts) AS us,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
              FROM events),
            s AS (
              -- CAST: DuckDB sum() over INTEGER returns HUGEINT (int128);
              -- Spark's window sum is BIGINT — cast so both engines emit int64
              SELECT user_id, event_id, value, us,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g)
            SELECT user_id, session_id, count(*) AS n_events,
                   max(us) - min(us) AS duration_us,
                   round(sum(value), 2) AS value_sum
            FROM s GROUP BY 1, 2
        """,
        "session_window_native": """
            WITH g AS (
              SELECT user_id, event_id, value, epoch_us(ts) AS us,
                     CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                       THEN 1 ELSE 0 END AS new_sess
              FROM events),
            s AS (
              SELECT user_id, value, us,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g)
            SELECT user_id, min(us) AS session_start_us,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM s GROUP BY user_id, session_id
        """,
        "topk_per_type": """
            SELECT event_type, rk, event_id, round(value, 2) AS value FROM (
              SELECT event_type, event_id, value,
                     row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
              FROM events) WHERE rk <= 3
        """,
        "dayofweek_profile": """
            SELECT event_type,
                   count(*) FILTER (WHERE dayname(ts) = 'Monday') AS n_monday,
                   count(*) FILTER (WHERE dayname(ts) = 'Tuesday') AS n_tuesday,
                   count(*) FILTER (WHERE dayname(ts) = 'Wednesday') AS n_wednesday,
                   count(*) FILTER (WHERE dayname(ts) = 'Thursday') AS n_thursday,
                   count(*) FILTER (WHERE dayname(ts) = 'Friday') AS n_friday,
                   count(*) FILTER (WHERE dayname(ts) = 'Saturday') AS n_saturday,
                   count(*) FILTER (WHERE dayname(ts) = 'Sunday') AS n_sunday
            FROM events GROUP BY 1
        """,
        "distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY 1, 2
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
                   o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING'
              AND c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
              AND r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY 1
        """,
        "q6_revenue_filter": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount BETWEEN 0.02 AND 0.06
              AND l_quantity < 24
        """,
        "q10_returned_customers": """
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem, orders, customer, nation
            WHERE l_returnflag = 'R'
              AND l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND c_nationkey = n_nationkey
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "q7_nation_trade": """
            SELECT supp_nation, cust_nation, l_year,
                   sum(volume_e4) / 10000.0 AS revenue,
                   count(*) AS n_rows
            FROM (
              SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                     year(l_shipdate) AS l_year,
                     CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS volume_e4
              FROM lineitem, orders, customer, supplier, nation n1, nation n2
              WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND l_suppkey = s_suppkey
                AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
                AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                                   AND TIMESTAMP '1997-12-31 00:00:00')
            GROUP BY 1, 2, 3
        """,
        "q14_promo_share": """
            SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                       / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
                   count(*) AS n_rows
            FROM lineitem, part
            WHERE l_partkey = p_partkey
              AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'
        """,
        "q18_big_orders": """
            SELECT c_name, c_custkey, o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
                   round(o_totalprice, 2) AS o_totalprice,
                   round(sum_qty, 2) AS sum_qty
            FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300) big
            JOIN orders ON big.l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
        """,
        "q19_disjunctive_pred": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_rows
            FROM lineitem, part
            WHERE l_partkey = p_partkey AND (
                 (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                  AND l_quantity BETWEEN 1 AND 15)
              OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 15
                  AND l_quantity BETWEEN 5 AND 25)
              OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25
                  AND l_quantity BETWEEN 10 AND 35))
        """,
        "q22_idle_balance": """
            SELECT c_mktsegment, count(*) AS n_custs,
                   round(sum(c_acctbal), 2) AS total_bal
            FROM customer c
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey)
            GROUP BY 1
        """,
        "streaming_dedup": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS bucket_ts,
                   count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "top_terms": """
            WITH toks AS (
                SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents),
            tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term <> '' GROUP BY 1, 2),
            dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS doc_freq
                FROM tf GROUP BY 1),
            ranked AS (
                SELECT tf.doc_id, tf.term, tf.tf, d.doc_freq,
                       row_number() OVER (PARTITION BY tf.doc_id
                                          ORDER BY tf.tf DESC, d.doc_freq ASC,
                                                   tf.term ASC) AS rank
                FROM tf JOIN dfreq d USING (term))
            SELECT doc_id, term, tf, doc_freq, rank
            FROM ranked WHERE rank <= 3
        """,
        "deterministic_sample": """
            SELECT lang, doc_id, n_chars
            FROM (SELECT lang, doc_id, n_chars,
                         row_number() OVER (
                             PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                             AS rn
                  FROM documents)
            WHERE rn <= 5
        """,
        "hash_split": """
            SELECT lang,
                   CASE WHEN md5(CAST(doc_id AS VARCHAR))
                             < '40000000000000000000000000000000'
                        THEN 'test' ELSE 'train' END AS split,
                   count(*) AS n_docs
            FROM documents GROUP BY 1, 2
        """,
        "redact_pii": """
            WITH planted AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com from 10.0.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || '.7 ref 123456789' AS text
                FROM documents),
            r1 AS (SELECT doc_id, text,
                          regexp_replace(text,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g') AS t1
                   FROM planted),
            r2 AS (SELECT *, regexp_replace(t1,
                              '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b',
                              '<IP>', 'g') AS t2
                   FROM r1),
            r3 AS (SELECT *, regexp_replace(t2, '\\b\\d{7,}\\b', '<NUM>', 'g')
                          AS t3
                   FROM r2)
            SELECT doc_id, md5(t3) AS redacted_md5,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_email,
                   len(regexp_extract_all(t1,
                       '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_ip,
                   len(regexp_extract_all(t2, '\\b\\d{7,}\\b')) AS n_num
            FROM r3
        """,
        "rolling_quantile": """
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                       sum(value) AS v
                FROM events GROUP BY 1, 2)
            SELECT event_type,
                   strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(quantile_cont(v, 0.9) OVER w, 4) AS rolling_q,
                   count(*) OVER w AS n_in_window
            FROM hourly
            WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                         RANGE BETWEEN INTERVAL 23 HOURS PRECEDING
                               AND CURRENT ROW)
        """,
        "dup_clusters": """
            WITH RECURSIVE toks AS (
                SELECT doc_id AS tid,
                       unnest(list_distinct(string_split(text, ' '))) AS token
                FROM documents),
            sizes AS (SELECT tid, count(*) AS sz FROM toks GROUP BY 1),
            inter AS (
                SELECT a.tid AS id_a, b.tid AS id_b, count(*) AS n
                FROM toks a
                JOIN toks b ON a.token = b.token AND a.tid < b.tid
                GROUP BY 1, 2),
            pairs AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.tid = id_a
                JOIN sizes sb ON sb.tid = id_b
                WHERE n / CAST(sa.sz + sb.sz - n AS DOUBLE) >= 0.95),
            edges AS (SELECT id_a AS a, id_b AS b FROM pairs
                      UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.b, reach.r FROM edges e JOIN reach ON e.a = reach.id)
            SELECT id AS doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1
        """,
        "repetition_stats": """
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            grams AS (
                SELECT doc_id, t[i] || ' ' || t[i + 1] AS ngram
                FROM toks, LATERAL (
                    SELECT unnest(range(1, len(t))) AS i) r
                WHERE len(t) >= 2),
            cnt AS (
                SELECT doc_id, ngram, count(*) AS c
                FROM grams GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_ngrams,
                   CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                       / sum(c) AS dup_ngram_frac,
                   CAST(max(c) AS DOUBLE) / sum(c) AS top_ngram_frac
            FROM cnt GROUP BY 1
        """,
        "stratified_sample": """
            SELECT lang, doc_id, n_chars
            FROM (SELECT lang, doc_id, n_chars,
                         row_number() OVER (
                             PARTITION BY lang
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                             AS rn,
                         count(*) OVER (PARTITION BY lang) AS n
                  FROM documents)
            WHERE rn <= CEIL(n * 0.25)
        """,
        "series_xcorr": """
            WITH bucketed AS (
                SELECT event_type, date_trunc('hour', ts) AS bt, sum(value) AS v
                FROM events WHERE event_type IN ('error', 'purchase')
                GROUP BY 1, 2),
            a AS (SELECT bt, v AS va FROM bucketed WHERE event_type = 'error'),
            b AS (SELECT bt, v AS vb FROM bucketed WHERE event_type = 'purchase'),
            l AS (SELECT CAST(range AS INTEGER) AS lag FROM range(0, 4)),
            pairs AS (
                SELECT l.lag, a.va, b.vb
                FROM l
                JOIN a ON TRUE
                JOIN b ON b.bt = a.bt + to_hours(l.lag))
            SELECT lag, round(corr(va, vb), 6) AS xcorr,
                   count(*) AS n_buckets
            FROM pairs GROUP BY 1
        """,
        "cohort_retention": """
            WITH acts AS (
                SELECT DISTINCT user_id, date_trunc('week', ts) AS bt
                FROM events),
            firsts AS (
                SELECT user_id, min(bt) AS cohort FROM acts GROUP BY 1)
            SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort_ts,
                   (epoch_us(a.bt) - epoch_us(f.cohort)) // 604800000000
                       AS offset,
                   count(DISTINCT a.user_id) AS n_active
            FROM acts a JOIN firsts f USING (user_id)
            GROUP BY 1, 2
        """,
        "counter_rate": """
            WITH d AS (
                SELECT event_type, ts, value,
                       lag(value) OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS prev
                FROM events)
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                       AS bucket_ts,
                   round(sum(CASE WHEN prev IS NULL THEN NULL
                                  WHEN value - prev < 0 THEN value
                                  ELSE value - prev END), 4) AS increase,
                   CAST(sum(CASE WHEN prev IS NOT NULL AND value - prev < 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_resets
            FROM d GROUP BY 1, 2
        """,
        "time_weighted_avg": """
            WITH b AS (
                SELECT event_type, value, epoch_us(ts) AS us,
                       date_trunc('hour', ts) AS bt
                FROM events),
            s AS (
                SELECT event_type, bt, value, us,
                       lead(value) OVER (PARTITION BY event_type, bt
                                         ORDER BY us) AS nv,
                       lead(us) OVER (PARTITION BY event_type, bt
                                      ORDER BY us) AS nus
                FROM b)
            SELECT event_type,
                   strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(CASE WHEN sum(CAST(nus - us AS DOUBLE)) > 0
                              THEN sum((value + nv) / 2.0
                                       * CAST(nus - us AS DOUBLE))
                                   / sum(CAST(nus - us AS DOUBLE))
                              ELSE min(value) END, 4) AS twa,
                   count(*) AS n_points
            FROM s GROUP BY 1, 2
        """,
        "seasonal_outliers": """
            WITH prof AS (
                SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
                       avg(value) AS m, stddev_pop(value) AS s
                FROM events GROUP BY 1, 2)
            SELECT e.event_type,
                   strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   p.hod, round(e.value, 4) AS value,
                   round((e.value - p.m) / p.s, 2) AS z_score
            FROM events e
            JOIN prof p ON e.event_type = p.event_type
                       AND CAST(hour(e.ts) AS INTEGER) = p.hod
            WHERE p.s > 0 AND abs(e.value - p.m) > 3.0 * p.s
        """,
        "mad_outliers": """
            WITH med AS (
                SELECT event_type, median(value) AS med
                FROM events GROUP BY 1),
            mad AS (
                SELECT e.event_type, median(abs(e.value - m.med)) AS mad
                FROM events e JOIN med m USING (event_type) GROUP BY 1)
            SELECT e.event_type,
                   strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                   round(e.value, 4) AS value,
                   round(m.med, 4) AS series_median,
                   round(abs(e.value - m.med) / d.mad, 2) AS mad_score
            FROM events e
            JOIN med m USING (event_type)
            JOIN mad d USING (event_type)
            WHERE d.mad > 0 AND abs(e.value - m.med) > 5.0 * d.mad
        """,
        "paa_sax": """
            WITH framed AS (
                SELECT event_type, value,
                       CAST(round(value * 100) AS BIGINT) AS iv,
                       (row_number() OVER (PARTITION BY event_type
                                           ORDER BY ts, event_id) - 1) // 16
                           AS frame
                FROM events),
            stats AS (
                SELECT event_type,
                       CAST(sum(iv) AS DOUBLE) / (100.0 * count(*)) AS m,
                       stddev_pop(value) AS s
                FROM framed GROUP BY 1),
            paa AS (
                SELECT event_type, frame,
                       CAST(sum(iv) AS DOUBLE) / (100.0 * count(*)) AS p
                FROM framed GROUP BY 1, 2)
            SELECT p.event_type, p.frame, p.p AS paa,
                   CASE WHEN (p.p - s.m) / s.s < -0.6745 THEN 'a'
                        WHEN (p.p - s.m) / s.s < 0.0 THEN 'b'
                        WHEN (p.p - s.m) / s.s < 0.6745 THEN 'c'
                        ELSE 'd' END AS symbol
            FROM paa p JOIN stats s USING (event_type)
        """,
        "q2_min_cost_supplier": """
            SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN part p ON ps.l_partkey = p.p_partkey
            JOIN supplier s ON ps.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE' AND p.p_type = 'LARGE' AND p.p_size = 15
              AND s.s_acctbal = (
                  SELECT max(s2.s_acctbal)
                  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps2
                  JOIN supplier s2 ON ps2.l_suppkey = s2.s_suppkey
                  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
                  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
                  WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_returnflag = 'R')
            GROUP BY 1
        """,
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   round(sum(CASE WHEN sn.n_name = 'NATION_5'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN region ON cn.n_regionkey = r_regionkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        "q9_product_profit": """
            SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(sum(
                       CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT))
                       - 8 * CAST(round(p_retailprice * 100) AS BIGINT)
                           * CAST(l_quantity AS BIGINT)) AS DOUBLE) / 10000.0
                       AS sum_profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2
        """,
        "q11_important_value": """
            WITH per_part AS (
                SELECT l_partkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS value
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'
                GROUP BY 1)
            SELECT l_partkey AS p_partkey, value
            FROM per_part
            WHERE value > (SELECT sum(value) FROM per_part) * 0.005
        """,
        "q12_priority_class": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        """,
        "q13_customer_distribution": """
            SELECT c_count, count(*) AS custdist
            FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
                  FROM customer c
                  LEFT OUTER JOIN orders o
                    ON c.c_custkey = o.o_custkey
                   AND o.o_orderpriority <> '5-LOW'
                  GROUP BY 1)
            GROUP BY 1
        """,
        "q15_top_supplier": """
            WITH revenue AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate < TIMESTAMP '1997-04-01'
                GROUP BY 1)
            SELECT s_suppkey, s_name, total_revenue
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        """,
        "q16_supplier_part_count": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
            JOIN part ON ps.l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 9, 14, 19, 23)
              AND ps.l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2, 3
        """,
        "q17_small_quantity_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand = 'Brand#3'
              AND l.l_quantity < 0.2 * (SELECT avg(l2.l_quantity)
                                        FROM lineitem l2
                                        WHERE l2.l_partkey = p.p_partkey)
        """,
        "q20_part_promotion": """
            SELECT s_suppkey, s_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
              AND s_suppkey IN (
                  SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
                  WHERE p_name LIKE 'red %'
                    AND l_shipdate >= TIMESTAMP '1996-01-01'
                    AND l_shipdate < TIMESTAMP '1997-01-01'
                  GROUP BY l_partkey, l_suppkey
                  HAVING sum(l_quantity) > 100)
        """,
        "q21_waiting_supplier": """
            SELECT s_name, count(*) AS numwait
            FROM (SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
                  FROM lineitem l1
                  JOIN orders ON l1.l_orderkey = o_orderkey
                  WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
                    AND EXISTS (SELECT 1 FROM lineitem l2
                                WHERE l2.l_orderkey = l1.l_orderkey
                                  AND l2.l_suppkey <> l1.l_suppkey)
                    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                                    WHERE l3.l_orderkey = l1.l_orderkey
                                      AND l3.l_suppkey <> l1.l_suppkey
                                      AND l3.l_returnflag = 'R')) w
            JOIN supplier ON w.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_2'
            GROUP BY 1
        """,
        "stats_aggregates": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                   round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_pop_qp,
                   round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_samp_qp,
                   round(stddev_samp(l_discount), 6) AS stddev_disc,
                   round(var_pop(l_tax), 6) AS varpop_tax,
                   count(*) AS n_rows
            FROM lineitem GROUP BY 1
        """,
        "percentiles_value": """
            SELECT event_type,
                   round(quantile_cont(value, 0.25), 4) AS p25,
                   round(quantile_cont(value, 0.5), 4) AS p50,
                   round(quantile_cont(value, 0.75), 4) AS p75,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax
            FROM events GROUP BY 1
        """,
        "range_join_clicks": """
            SELECT p.event_id AS purchase_id, p.user_id AS p_user,
                   count(c.c_us) AS n_clicks_1h,
                   max(c.c_us) AS last_click_us
            FROM (SELECT event_id, user_id, epoch_us(ts) AS p_us
                  FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT user_id, epoch_us(ts) AS c_us
                       FROM events WHERE event_type = 'click') c
              ON p.user_id = c.user_id
             AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
            GROUP BY 1, 2
        """,
        "json_extract_props": """
            SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod10,
                   count(*) AS n_events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
            FROM events GROUP BY 1, 2
        """,
        "pivot_lang_share": """
            SELECT source,
                   count(*) FILTER (WHERE lang = 'de') AS n_de,
                   count(*) FILTER (WHERE lang = 'en') AS n_en,
                   count(*) FILTER (WHERE lang = 'es') AS n_es,
                   count(*) FILTER (WHERE lang = 'fr') AS n_fr,
                   count(*) FILTER (WHERE lang = 'zh') AS n_zh
            FROM documents GROUP BY 1
        """,
        "unpivot_tier_metrics": """
            WITH h AS (
              SELECT event_type,
                     strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                     round(sum(value), 2) AS value_sum,
                     round(min(value), 2) AS value_min,
                     round(max(value), 2) AS value_max
              FROM events GROUP BY 1, 2)
            SELECT event_type, bucket_ts, 'value_sum' AS metric, value_sum AS v FROM h
            UNION ALL
            SELECT event_type, bucket_ts, 'value_min' AS metric, value_min AS v FROM h
            UNION ALL
            SELECT event_type, bucket_ts, 'value_max' AS metric, value_max AS v FROM h
        """,
        "histogram_value": """
            SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bucket,
                   count(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "gorilla_roundtrip_hour": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(sum(value), 2) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "chimp_roundtrip_hour": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(sum(value), 2) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "alp_roundtrip_hour": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round(sum(value), 2) AS value_sum
            FROM events GROUP BY 1, 2
        """,
        "simple8b_roundtrip_hour": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   CAST(count(*) AS BIGINT) AS doc_count
            FROM events GROUP BY 1, 2
        """,
        "rle_roundtrip_hour": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   CAST(count(*) AS BIGINT) AS doc_count
            FROM events GROUP BY 1, 2
        """,
        "rake_keywords": """
            WITH d AS (
              SELECT doc_id,
                     regexp_replace(
                       regexp_replace(
                         ' ' || regexp_replace(
                                  regexp_replace(lower(text),
                                                 '[.!?;,:]+', ' | ', 'g'),
                                  '[^a-z|]+', ' ', 'g') || ' ',
                         ' (?:the|a|an|of|and|or|in|to|is|are|was|for|on|with|as|by|at|be|it|that|this|from) ',
                         ' | ', 'g'),
                       ' (?:the|a|an|of|and|or|in|to|is|are|was|for|on|with|as|by|at|be|it|that|this|from) ',
                       ' | ', 'g') AS marked
              FROM documents),
            p0 AS (
              SELECT doc_id, string_split(marked, '|') AS l FROM d),
            p1 AS (
              SELECT doc_id, unnest(l) AS raw,
                     CAST(generate_subscripts(l, 1) AS BIGINT) AS pidx
              FROM p0),
            pp AS (
              SELECT doc_id, pidx,
                     trim(regexp_replace(raw, ' +', ' ', 'g')) AS phrase
              FROM p1),
            pf AS (SELECT * FROM pp WHERE phrase <> ''),
            w AS (
              SELECT doc_id, pidx, phrase,
                     CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
                     unnest(string_split(phrase, ' ')) AS word
              FROM pf),
            ws AS (
              SELECT doc_id, word,
                     CAST(count(*) AS BIGINT) AS freq,
                     CAST(sum(plen) AS BIGINT) AS deg
              FROM w GROUP BY 1, 2),
            po AS (
              SELECT w.doc_id, w.pidx, w.phrase,
                     CAST(sum((ws.deg * 1000000) // ws.freq)
                          AS BIGINT) AS score_u,
                     CAST(count(*) AS BIGINT) AS n_words
              FROM w JOIN ws ON ws.doc_id = w.doc_id AND ws.word = w.word
              GROUP BY 1, 2, 3),
            c AS (
              SELECT doc_id, phrase,
                     CAST(max(score_u) AS BIGINT) AS score_u,
                     CAST(max(n_words) AS BIGINT) AS n_words,
                     CAST(count(*) AS BIGINT) AS occurrences
              FROM po GROUP BY 1, 2),
            r AS (
              SELECT *,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score_u DESC, phrase)
                         AS rank
              FROM c)
            SELECT doc_id, phrase, n_words, occurrences, score_u,
                   CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 5
        """,
        "streaming_tier_backfill": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum,
                   round(min(value), 2) AS value_min,
                   round(max(value), 2) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "streaming_rollup_hour": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum,
                   round(min(value), 2) AS value_min,
                   round(max(value), 2) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "simhash_md5": """
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
              FROM documents WHERE doc_id < 300),
            tb AS (
              SELECT doc_id, md5(token) AS h, b
              FROM toks, (SELECT unnest(range(64)) AS b)),
            bits AS (
              SELECT doc_id, b,
                     ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
                       >> CAST(b % 4 AS INT)) & 1 AS bit
              FROM tb),
            votes AS (
              SELECT doc_id, b, sum(bit * 2 - 1) AS vote
              FROM bits GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(CASE WHEN vote > 0 AND b >= 32
                       THEN (CAST(1 AS BIGINT) << CAST(b - 32 AS INT)) ELSE 0 END) AS BIGINT) AS simhash_hi,
                   CAST(sum(CASE WHEN vote > 0 AND b < 32
                       THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS BIGINT) AS simhash_lo
            FROM votes GROUP BY 1
        """,
        "minhash_md5": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
              FROM documents WHERE doc_id < 300),
            tx AS (
              SELECT doc_id, CAST({_MH_X.format(fn='strpos')} AS BIGINT) AS x
              FROM (SELECT doc_id, md5(token) AS h FROM toks)),
            tk AS (SELECT doc_id, x, k FROM tx, (SELECT unnest(range({_MH_K})) AS k))
            SELECT doc_id, k,
                   min((([{', '.join(map(str, _MH_A))}])[k + 1] * x
                        + ([{', '.join(map(str, _MH_B))}])[k + 1]) % {_MH_P}) AS mh
            FROM tk GROUP BY 1, 2
        """,
        "bm25_rank": f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id < 300),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN ({', '.join(repr(t) for t in _BM25_TERMS)})
              GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            scored AS (
              SELECT tf.doc_id,
                     ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * ({_BM25_K1} + 1))
                       / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl)) AS s
              FROM tf JOIN dft USING (term) JOIN dl ON dl.doc_id = tf.doc_id, stats),
            ranked AS (
              SELECT doc_id, round(sum(s), 4) AS bm25, count(*) AS n_terms_hit
              FROM scored GROUP BY 1)
            SELECT row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank,
                   doc_id, bm25, n_terms_hit
            FROM ranked ORDER BY bm25 DESC, doc_id LIMIT 50
        """,
        "slo_burn": """
            WITH g AS (
              SELECT user_id % 8 AS service,
                     (epoch_us(ts) // 1000000)
                       - (epoch_us(ts) // 1000000) % 300 AS grain_epoch,
                     CAST(count(*) AS BIGINT) AS n_total,
                     CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_err
              FROM events GROUP BY 1, 2)
            SELECT service, grain_epoch, n_total, n_err,
                   CAST(sum(n_err) OVER w300 AS DOUBLE)
                     / CAST(sum(n_total) OVER w300 AS DOUBLE) / 0.02
                     AS burn_300s,
                   CAST(sum(n_err) OVER w1800 AS DOUBLE)
                     / CAST(sum(n_total) OVER w1800 AS DOUBLE) / 0.02
                     AS burn_1800s,
                   CAST(sum(n_err) OVER w3600 AS DOUBLE)
                     / CAST(sum(n_total) OVER w3600 AS DOUBLE) / 0.02
                     AS burn_3600s,
                   CAST(sum(n_err) OVER w21600 AS DOUBLE)
                     / CAST(sum(n_total) OVER w21600 AS DOUBLE) / 0.02
                     AS burn_21600s,
                   (CAST(sum(n_err) OVER w3600 AS DOUBLE)
                     / CAST(sum(n_total) OVER w3600 AS DOUBLE) / 0.02 > 14.4)
                   AND
                   (CAST(sum(n_err) OVER w300 AS DOUBLE)
                     / CAST(sum(n_total) OVER w300 AS DOUBLE) / 0.02 > 14.4)
                     AS page,
                   (CAST(sum(n_err) OVER w21600 AS DOUBLE)
                     / CAST(sum(n_total) OVER w21600 AS DOUBLE) / 0.02 > 6.0)
                   AND
                   (CAST(sum(n_err) OVER w1800 AS DOUBLE)
                     / CAST(sum(n_total) OVER w1800 AS DOUBLE) / 0.02 > 6.0)
                     AS ticket
            FROM g
            WINDOW
              w300 AS (PARTITION BY service ORDER BY grain_epoch
                       RANGE BETWEEN 0 PRECEDING AND CURRENT ROW),
              w1800 AS (PARTITION BY service ORDER BY grain_epoch
                        RANGE BETWEEN 1500 PRECEDING AND CURRENT ROW),
              w3600 AS (PARTITION BY service ORDER BY grain_epoch
                        RANGE BETWEEN 3300 PRECEDING AND CURRENT ROW),
              w21600 AS (PARTITION BY service ORDER BY grain_epoch
                         RANGE BETWEEN 21300 PRECEDING AND CURRENT ROW)
        """,
        "hybrid_retrieval": f"""
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents WHERE doc_id < 300),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN ({', '.join(repr(t) for t in _BM25_TERMS)})
              GROUP BY 1, 2),
            dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            bscored AS (
              SELECT tf.doc_id,
                     ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * ({_BM25_K1} + 1))
                       / (tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / avgdl)) AS s
              FROM tf JOIN dft USING (term) JOIN dl ON dl.doc_id = tf.doc_id, stats),
            branked AS (
              SELECT doc_id, round(sum(s), 4) AS bm25 FROM bscored GROUP BY 1),
            lexical AS (
              SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
              FROM branked ORDER BY bm25 DESC, doc_id LIMIT 50),
            e AS (
              SELECT vec_id AS doc_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            qv AS (SELECT v AS qvec FROM e WHERE doc_id = 0),
            sc AS (
              SELECT doc_id,
                     list_reduce(list_transform(list_zip(v, qvec),
                                                s -> s[1] * s[2]),
                                 (a, b) -> a + b)
                       / (sqrt(list_reduce(list_transform(v, x -> x * x),
                                           (a, b) -> a + b))
                          * sqrt(list_reduce(list_transform(qvec, x -> x * x),
                                             (a, b) -> a + b))) AS c
              FROM e, qv WHERE doc_id <> 0),
            cq AS (
              SELECT doc_id,
                     CAST(CASE WHEN c >= 0 THEN floor(c * 1e6 + 0.5)
                               ELSE -floor(-c * 1e6 + 0.5) END AS BIGINT) AS q6
              FROM sc),
            dense AS (
              SELECT doc_id, row_number() OVER (ORDER BY q6 DESC, doc_id) AS rank
              FROM cq ORDER BY q6 DESC, doc_id LIMIT 50),
            arms AS (
              SELECT doc_id,
                     CAST(floor(1e9 / (60 + rank) + 0.5) AS BIGINT) AS c
              FROM lexical
              UNION ALL
              SELECT doc_id,
                     CAST(floor(1e9 / (60 + rank) + 0.5) AS BIGINT) AS c
              FROM dense),
            fused AS (
              SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_q9,
                     CAST(count(*) AS BIGINT) AS n_arms
              FROM arms GROUP BY 1)
            SELECT row_number() OVER (ORDER BY rrf_q9 DESC, doc_id) AS rank,
                   doc_id, rrf_q9, n_arms
            FROM fused ORDER BY rrf_q9 DESC, doc_id LIMIT 20
        """,
        "multimodal_metadata": """
            WITH p AS (
              SELECT doc_id,
                     octet_length(CAST(text AS BLOB))
                       + CASE WHEN doc_id % 3 IN (0, 1) THEN 4 ELSE 0 END AS n_bytes,
                     CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
                          WHEN doc_id % 3 = 1 THEN 'image/png'
                          ELSE 'application/octet-stream' END AS sniffed_mime
              FROM documents WHERE doc_id < 400)
            SELECT doc_id, n_bytes, sniffed_mime,
                   CAST((greatest(1, n_bytes // 64) + 9) // 10 AS BIGINT)
                     AS n_sampled_frames
            FROM p
        """,
        "window_frames_ranking": """
            SELECT o_custkey, o_orderkey,
                   dense_rank() OVER w AS price_dense_rank,
                   round(percent_rank() OVER w, 6) AS price_pct_rank,
                   ntile(4) OVER w AS price_quartile,
                   round(sum(o_totalprice) OVER (
                     PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                     AS range_running_total
            FROM orders WHERE o_custkey <= 30
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        """,
        "array_agg_ordered": """
            SELECT o_custkey,
                   array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
                   count(*) AS n_orders
            FROM orders WHERE o_custkey <= 100 GROUP BY 1
        """,
        "udaf_geomean": """
            SELECT event_type,
                   round(exp(avg(ln(1 + abs(value)))), 6) AS geomean_1p,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "retention_enforce": """
            WITH h AS (
              SELECT event_type, date_trunc('hour', ts) AS b,
                     count(*) AS n FROM events GROUP BY 1, 2),
            d AS (SELECT event_type, date_trunc('day', b) AS b,
                         CAST(sum(n) AS BIGINT) AS n FROM h GROUP BY 1, 2),
            w AS (SELECT event_type, date_trunc('week', b) AS b,
                         CAST(sum(n) AS BIGINT) AS n FROM d GROUP BY 1, 2),
            wm AS (SELECT max(b) AS wm FROM h)
            SELECT 'hour' AS tier, count(*) AS n_rows,
                   CAST(sum(n) AS BIGINT) AS doc_total,
                   strftime(min(b), '%Y-%m-%d %H:%M:%S') AS min_bucket,
                   strftime(max(b), '%Y-%m-%d %H:%M:%S') AS max_bucket
            FROM h, wm WHERE epoch(b) >= epoch(wm) - 7 * 86400
            UNION ALL
            SELECT 'day', count(*), CAST(sum(n) AS BIGINT),
                   strftime(min(b), '%Y-%m-%d %H:%M:%S'),
                   strftime(max(b), '%Y-%m-%d %H:%M:%S')
            FROM d, wm WHERE epoch(b) >= epoch(wm) - 30 * 86400
            UNION ALL
            SELECT 'week', count(*), CAST(sum(n) AS BIGINT),
                   strftime(min(b), '%Y-%m-%d %H:%M:%S'),
                   strftime(max(b), '%Y-%m-%d %H:%M:%S')
            FROM w
        """,
        "language_id": """
            WITH t AS (
              SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x != '') AS toks
              FROM documents),
            s AS (
              SELECT doc_id,
                len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it')))
                  / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_en,
                len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu')))
                  / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_de,
                len(list_filter(toks, x -> x IN ('le','la','les','et','de','un','une','est','pour','que')))
                  / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_fr,
                len(list_filter(toks, x -> x IN ('el','la','los','de','y','que','es','un','una','por')))
                  / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_es
              FROM t)
            SELECT doc_id,
                   CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'other'
                        WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                        WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                        WHEN s_fr >= s_es THEN 'fr'
                        ELSE 'es' END AS pred_lang,
                   round(greatest(s_en, s_de, s_fr, s_es), 4) AS confidence
            FROM s
        """,
        "neardup_cosine": """
            WITH e AS (
              SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings WHERE vec_id < 200)
            SELECT id_a, id_b, cosine FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(list_cosine_similarity(a.v, b.v), 6) AS cosine
              FROM e a JOIN e b ON a.vec_id < b.vec_id)
            WHERE cosine >= 0.35
        """,
        "cube_pricing": """
            SELECT l_returnflag, l_linestatus,
                   count(*) AS n_rows,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "setop_segments": """
            (SELECT o_custkey AS c_custkey FROM orders
             GROUP BY 1 HAVING sum(o_totalprice) > 200000
             INTERSECT
             SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
            EXCEPT ALL
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        """,
        "asof_last_click": """
            SELECT event_id, user_id, purchase_us, last_click_us,
                   purchase_us - last_click_us AS gap_us
            FROM (
              SELECT event_id, user_id, event_type,
                     epoch_us(ts) AS purchase_us,
                     max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                       OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS last_click_us
              FROM events)
            WHERE event_type = 'purchase'
        """,
        "date_string_functions": """
            SELECT p_partkey,
                   upper(substring(p_name, 1, 8)) AS name_prefix,
                   length(p_name) AS name_len,
                   concat_ws('-', p_brand, lower(p_type)) AS brand_type,
                   CASE WHEN p_name LIKE '%gold%' THEN 1 ELSE 0 END AS has_gold,
                   p_size % 7 AS size_mod7
            FROM part
        """,
        "semi_anti_customers": """
            SELECT c_mktsegment,
                   count(CASE WHEN e THEN 1 END) AS n_active,
                   count(CASE WHEN NOT e THEN 1 END) AS n_inactive
            FROM (SELECT c_mktsegment,
                         EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS e
                  FROM customer c) GROUP BY 1
        """,
        "window_running_order_total": """
            SELECT o_custkey, o_orderkey,
                   row_number() OVER w AS rn,
                   round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
            FROM orders WHERE o_custkey <= 50
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS rep_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "token_counts": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
                   length(text) AS n_chars
            FROM documents
        """,
        "token_counts_bpe": """
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+')) AS n_bpe_tokens,
                   len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+'))) AS n_bpe_types
            FROM documents
        """,
        "text_quality": """
            WITH t AS (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS n_tokens,
                     len(list_distinct(string_split(text, ' '))) AS n_distinct,
                     length(text) AS n_chars,
                     length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
              FROM documents)
            SELECT doc_id, n_tokens,
                   round((n_chars - (n_tokens - 1)) / CAST(n_tokens AS DOUBLE), 4) AS mean_token_len,
                   round(alpha / CAST(n_chars AS DOUBLE), 4) AS alpha_ratio,
                   round(n_distinct / CAST(n_tokens AS DOUBLE), 4) AS type_token_ratio,
                   round((n_distinct / CAST(n_tokens AS DOUBLE)) * (alpha / CAST(n_chars AS DOUBLE)), 4) AS quality_score
            FROM t
        """,
        "text_quality_ext": """
            SELECT doc_id,
                   length(text) AS n_chars,
                   round(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                         / CAST(length(text) AS DOUBLE), 4) AS punct_ratio,
                   round(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                         / CAST(length(text) AS DOUBLE), 4) AS upper_ratio,
                   round(len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','and','of','to','a','in','is','that','for','it')))
                         / CAST(len(string_split(text, ' ')) AS DOUBLE), 4) AS stopword_ratio
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id, substr(sha256(text), 1, 16) AS fingerprint FROM documents
        """,
        "ngram_jaccard": """
            WITH toks AS (
              SELECT doc_id AS tid, unnest(list_distinct(string_split(text, ' '))) AS token
              FROM documents WHERE doc_id < 100),
            sizes AS (SELECT tid, count(*) AS sz FROM toks GROUP BY 1),
            inter AS (
              SELECT a.tid AS id_a, b.tid AS id_b, count(*) AS n_inter
              FROM toks a JOIN toks b ON a.token = b.token AND a.tid < b.tid
              GROUP BY 1, 2)
            SELECT id_a, id_b, jaccard FROM (
              SELECT id_a, id_b,
                     round(n_inter / CAST(sa.sz + sb.sz - n_inter AS DOUBLE), 4) AS jaccard
              FROM inter
              JOIN sizes sa ON sa.tid = id_a
              JOIN sizes sb ON sb.tid = id_b)
            WHERE jaccard >= 0.8
        """,
        "lang_mix": """
            SELECT source, count(*) AS n_docs,
                   round(count(CASE WHEN lang = 'en' THEN 1 END) / CAST(count(*) AS DOUBLE), 4) AS en_share,
                   count(DISTINCT lang) AS n_langs
            FROM documents GROUP BY 1
        """,
        "label_centroids": """
            SELECT label, CAST(p AS INT) AS dim,
                   round(avg(CAST(embedding[p + 1] AS DOUBLE)), 5) AS centroid_v,
                   count(*) AS n_vecs
            FROM embeddings, (SELECT unnest(range(64)) AS p)
            GROUP BY 1, 2
        """,
        "lag_value_delta": """
            SELECT user_id, event_id,
                   round(value - lag(value) OVER w, 4) AS delta_prev,
                   round(lead(value) OVER w - value, 4) AS delta_next
            FROM events WHERE user_id <= 100
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "rollup_grouping_sets": """
            SELECT o_orderstatus, o_orderpriority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "knn_bruteforce": """
            WITH q AS (
              SELECT vec_id AS query_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
              FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     round(list_cosine_similarity(
                       list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv), 6) AS cosine
              FROM q, embeddings e WHERE e.vec_id != q.query_id),
            ranked AS (
              SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
              FROM scored)
            SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 10
        """,
        "minmax_downsample": """
            WITH s AS (
              SELECT event_type,
                     (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS t,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
            p AS (SELECT event_type, t // 86400 AS pixel, t, v FROM s),
            a AS (
              SELECT event_type, pixel,
                     min(t) AS t_first, max(t) AS t_last,
                     min(v) AS v_min, max(v) AS v_max
              FROM p GROUP BY 1, 2)
            SELECT a.event_type, a.pixel,
                   a.t_first,
                   min(CASE WHEN p.t = a.t_first THEN p.v END) AS v_first,
                   a.t_last,
                   min(CASE WHEN p.t = a.t_last THEN p.v END) AS v_last,
                   min(CASE WHEN p.v = a.v_min THEN p.t END) AS t_min,
                   a.v_min,
                   max(CASE WHEN p.v = a.v_max THEN p.t END) AS t_max,
                   a.v_max
            FROM a JOIN p ON p.event_type = a.event_type AND p.pixel = a.pixel
            GROUP BY a.event_type, a.pixel, a.t_first, a.t_last,
                     a.v_min, a.v_max
        """,
        "theil_sen_trend": """
            WITH s AS (
              SELECT event_type,
                     (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS t,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
            pr AS (
              SELECT a.event_type,
                     (b.v - a.v) * 3600.0 / (b.t - a.t) AS slope
              FROM s a JOIN s b
                ON b.event_type = a.event_type AND b.t > a.t),
            r AS (
              SELECT event_type, slope,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY slope) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM pr),
            np AS (SELECT event_type, count(*) AS n_points FROM s GROUP BY 1)
            SELECT r.event_type, np.n_points, r.n AS n_pairs,
                   CAST(floor(slope * 1e6 + 0.5) AS BIGINT) AS slope_q6
            FROM r JOIN np USING (event_type)
            WHERE rn = (n + 1) // 2
        """,
        "session_gap_stats": """
            WITH g AS (
              SELECT event_type, user_id, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT)
                       - lag(CAST(floor(epoch(ts)) AS BIGINT))
                         OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS gap
              FROM events),
            f AS (SELECT * FROM g WHERE gap IS NOT NULL),
            r AS (
              SELECT event_type, gap, user_id, event_id,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY gap, user_id, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM f)
            SELECT event_type,
                   max(n) AS n_gaps,
                   CAST(sum(gap) AS BIGINT) AS sum_gap_sec,
                   max(CASE WHEN rn = (n + 1) // 2 THEN gap END)
                       AS p50_gap_sec,
                   max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap END)
                       AS p90_gap_sec
            FROM r GROUP BY 1
        """,
        "shingle_containment": """
            WITH toks AS (
              SELECT doc_id AS tid, unnest(list_distinct(string_split(text, ' '))) AS token
              FROM documents WHERE doc_id < 100),
            sizes AS (SELECT tid, count(*) AS sz FROM toks GROUP BY 1),
            inter AS (
              SELECT a.tid AS id_a, b.tid AS id_b, count(*) AS n_inter
              FROM toks a JOIN toks b ON a.token = b.token AND a.tid < b.tid
              GROUP BY 1, 2)
            SELECT id_a, id_b, containment FROM (
              SELECT id_a, id_b,
                     round(n_inter / CAST(least(sa.sz, sb.sz) AS DOUBLE), 4)
                         AS containment
              FROM inter
              JOIN sizes sa ON sa.tid = id_a
              JOIN sizes sb ON sb.tid = id_b)
            WHERE containment >= 0.9
        """,
        "burst_intervals": """
            WITH s AS (
              SELECT event_type,
                     (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS t,
                     CAST(count(*) AS DOUBLE) AS v
              FROM events GROUP BY 1, 2),
            tr AS (
              SELECT event_type, t, v, t // 3600 AS bidx,
                     avg(v) OVER w AS trail_avg,
                     count(*) OVER w AS trail_n
              FROM s
              WINDOW w AS (PARTITION BY event_type ORDER BY t // 3600
                           ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
            fl AS (SELECT * FROM tr
                   WHERE trail_n = 24 AND v > 1.3 * trail_avg),
            isl AS (
              SELECT event_type, t, v, bidx,
                     bidx - row_number() OVER (PARTITION BY event_type
                                               ORDER BY bidx) AS island
              FROM fl)
            SELECT event_type,
                   min(t) AS start_sec,
                   max(t) AS end_sec,
                   count(*) AS n_buckets,
                   max(v) AS peak_v,
                   sum(v) AS sum_v
            FROM isl GROUP BY event_type, island
        """,
        "duplicate_spans": """
            WITH toks AS (
              SELECT doc_id AS id, string_split(text, ' ') AS tk
              FROM documents
              WHERE doc_id < 300 AND len(string_split(text, ' ')) >= 8),
            ix AS (SELECT id, tk, unnest(range(1, len(tk) - 6)) AS i
                   FROM toks),
            g AS (SELECT id, i - 1 AS pos,
                         array_to_string(tk[i:i + 7], ' ') AS gram
                  FROM ix),
            dup AS (SELECT gram FROM (
                      SELECT gram, count(DISTINCT id) AS nd
                      FROM g GROUP BY 1)
                    WHERE nd >= 2),
            h AS (SELECT id, pos FROM g JOIN dup USING (gram)),
            isl AS (
              SELECT id, pos,
                     pos - row_number() OVER (PARTITION BY id
                                              ORDER BY pos) AS island
              FROM h)
            SELECT id AS doc_id, span_start, span_end, span_tokens FROM (
              SELECT id,
                     CAST(min(pos) AS BIGINT) AS span_start,
                     CAST(max(pos) + 8 AS BIGINT) AS span_end,
                     CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_tokens
              FROM isl GROUP BY id, island)
            WHERE span_tokens >= 12
        """,
        "pack_sequences": """
            SELECT lang, doc_id,
                   CAST(n_toks AS BIGINT) AS n_tokens,
                   CAST((cum - n_toks) // 2048 AS BIGINT) AS bin_id,
                   CAST((cum - n_toks) % 2048 AS BIGINT) AS bin_offset,
                   ((cum - n_toks) % 2048 + n_toks > 2048) AS spans_boundary
            FROM (
                SELECT lang, doc_id,
                       len(string_split(text, ' ')) AS n_toks,
                       sum(len(string_split(text, ' '))) OVER (
                           PARTITION BY lang ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM documents)
        """,
        "tv_drift": """
            WITH b AS (
                SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
            ev AS (
                SELECT e.event_type, e.value, epoch_us(e.ts) AS t_us,
                       (epoch_us(e.ts) < b.t0 + 604800000000) AS is_base
                FROM events e JOIN b USING (event_type)),
            bs AS (
                SELECT event_type, min(value) AS v_lo, max(value) AS v_hi
                FROM ev WHERE is_base GROUP BY 1),
            binned AS (
                SELECT ev.*,
                       CASE WHEN v_hi = v_lo THEN 0
                            ELSE least(9, greatest(0, CAST(floor(
                                (value - v_lo) / ((v_hi - v_lo) / 10.0))
                                AS INT)))
                       END AS bin
                FROM ev JOIN bs USING (event_type)),
            mh AS (
                SELECT event_type, bin, count(*) AS m_i
                FROM binned WHERE is_base GROUP BY 1, 2),
            mt AS (SELECT event_type, sum(m_i) AS m_total FROM mh GROUP BY 1),
            nh AS (
                SELECT event_type, (t_us // 86400000000) * 86400 AS ws, bin,
                       count(*) AS n_i
                FROM binned WHERE NOT is_base GROUP BY 1, 2, 3),
            nt AS (
                SELECT event_type, ws, sum(n_i) AS n_total
                FROM nh GROUP BY 1, 2),
            grid AS (
                SELECT nt.event_type, nt.ws, nt.n_total, g.bin
                FROM nt, (SELECT unnest(range(0, 10)) AS bin) g),
            j AS (
                SELECT grid.event_type, grid.ws, grid.n_total, mt.m_total,
                       coalesce(nh.n_i, 0) AS n_i, coalesce(mh.m_i, 0) AS m_i
                FROM grid
                LEFT JOIN nh ON nh.event_type = grid.event_type
                            AND nh.ws = grid.ws AND nh.bin = grid.bin
                LEFT JOIN mh ON mh.event_type = grid.event_type
                            AND mh.bin = grid.bin
                JOIN mt ON mt.event_type = grid.event_type)
            SELECT event_type, CAST(ws AS BIGINT) AS ws,
                   CAST(sum(abs(n_i * m_total - m_i * n_total)) AS BIGINT)
                       AS tv_numer,
                   CAST(n_total AS BIGINT) AS n_period,
                   CAST(m_total AS BIGINT) AS n_baseline
            FROM j GROUP BY event_type, ws, n_total, m_total
        """,
        "wasserstein_drift": """
            WITH b AS (
                SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
            ev AS (
                SELECT e.event_type, e.value, epoch_us(e.ts) AS t_us,
                       (epoch_us(e.ts) < b.t0 + 604800000000) AS is_base
                FROM events e JOIN b USING (event_type)),
            bs AS (
                SELECT event_type, min(value) AS v_lo, max(value) AS v_hi
                FROM ev WHERE is_base GROUP BY 1),
            binned AS (
                SELECT ev.*,
                       CASE WHEN v_hi = v_lo THEN 0
                            ELSE least(9, greatest(0, CAST(floor(
                                (value - v_lo) / ((v_hi - v_lo) / 10.0))
                                AS INT)))
                       END AS bin
                FROM ev JOIN bs USING (event_type)),
            mh AS (
                SELECT event_type, bin, count(*) AS m_i
                FROM binned WHERE is_base GROUP BY 1, 2),
            mt AS (SELECT event_type, sum(m_i) AS m_total FROM mh GROUP BY 1),
            nh AS (
                SELECT event_type, (t_us // 86400000000) * 86400 AS ws, bin,
                       count(*) AS n_i
                FROM binned WHERE NOT is_base GROUP BY 1, 2, 3),
            nt AS (
                SELECT event_type, ws, sum(n_i) AS n_total
                FROM nh GROUP BY 1, 2),
            grid AS (
                SELECT nt.event_type, nt.ws, nt.n_total, g.bin
                FROM nt, (SELECT unnest(range(0, 10)) AS bin) g),
            j AS (
                SELECT grid.event_type, grid.ws, grid.n_total, mt.m_total,
                       grid.bin,
                       coalesce(nh.n_i, 0) AS n_i, coalesce(mh.m_i, 0) AS m_i
                FROM grid
                LEFT JOIN nh ON nh.event_type = grid.event_type
                            AND nh.ws = grid.ws AND nh.bin = grid.bin
                LEFT JOIN mh ON mh.event_type = grid.event_type
                            AND mh.bin = grid.bin
                JOIN mt ON mt.event_type = grid.event_type),
            wj AS (
                SELECT *,
                       sum(n_i) OVER (PARTITION BY event_type, ws
                                      ORDER BY bin) AS cn,
                       sum(m_i) OVER (PARTITION BY event_type, ws
                                      ORDER BY bin) AS cm
                FROM j)
            SELECT event_type, CAST(ws AS BIGINT) AS ws,
                   CAST(sum(abs(cn * m_total - cm * n_total)) AS BIGINT)
                       AS w1_numer,
                   CAST(n_total AS BIGINT) AS n_period,
                   CAST(m_total AS BIGINT) AS n_baseline
            FROM wj GROUP BY event_type, ws, n_total, m_total
        """,
        "domain_blocklist": """
            WITH hosts AS (
                SELECT doc_id,
                       lower(concat(
                           CASE WHEN doc_id % 4 = 0 THEN 'cdn.assets.'
                                WHEN doc_id % 4 = 1 THEN 'm.'
                                ELSE '' END,
                           source,
                           CASE WHEN doc_id % 3 = 0 THEN '.co.uk'
                                ELSE '.example.com' END)) AS host
                FROM documents),
            rules AS (
                SELECT DISTINCT
                       CASE WHEN substring(md5(source), 1, 1) < '8'
                            THEN lower(concat(source, '.example.com'))
                            ELSE lower(concat('assets.', source, '.co.uk'))
                       END AS rule
                FROM documents),
            sfx AS (
                SELECT doc_id, host,
                       unnest(list_transform(
                           range(1, least(len(string_split(host, '.')), 8) + 1),
                           k -> array_to_string(
                               string_split(host, '.')[
                                   len(string_split(host, '.')) - k + 1:],
                               '.'))) AS s
                FROM hosts),
            hit AS (
                SELECT doc_id, s,
                       row_number() OVER (
                           PARTITION BY doc_id ORDER BY len(s) DESC, s) AS rn
                FROM sfx JOIN rules ON sfx.s = rules.rule)
            SELECT h.doc_id, h.host,
                   (hit.s IS NOT NULL) AS blocked,
                   hit.s AS matched_rule
            FROM hosts h
            LEFT JOIN hit ON hit.doc_id = h.doc_id AND hit.rn = 1
        """,
        "zorder_values": _zorder_oracle_sql(),
        "profile_drift": _profile_drift_oracle_sql(),
        "cm_freq_cascade": """
            WITH days AS (
                SELECT event_type,
                       (epoch_us(ts) // 86400000000) * 86400 AS ws,
                       user_id
                FROM events),
            cells AS (
                SELECT event_type, ws, h.hrow,
                       CAST(('0x' || substr(md5(
                           'cm' || h.hrow || ':' || CAST(user_id AS VARCHAR)
                       ), 1, 8)) AS BIGINT) % 256 AS hcol,
                       count(*) AS c
                FROM days, (SELECT unnest(range(0, 4)) AS hrow) h
                GROUP BY 1, 2, 3, 4),
            probes AS (
                SELECT DISTINCT e.event_type, u.user_id, p.hrow,
                       CAST(('0x' || substr(md5(
                           'cm' || p.hrow || ':' || CAST(u.user_id AS VARCHAR)
                       ), 1, 8)) AS BIGINT) % 256 AS hcol
                FROM (SELECT DISTINCT event_type FROM events) e,
                     (SELECT unnest(range(0, 20)) AS user_id) u,
                     (SELECT unnest(range(0, 4)) AS hrow) p),
            buckets AS (SELECT DISTINCT event_type, ws FROM cells),
            est AS (
                SELECT pr.event_type, b.ws, pr.user_id,
                       min(coalesce(cells.c, 0)) AS est
                FROM probes pr
                JOIN buckets b ON b.event_type = pr.event_type
                LEFT JOIN cells ON cells.event_type = pr.event_type
                               AND cells.ws = b.ws
                               AND cells.hrow = pr.hrow
                               AND cells.hcol = pr.hcol
                GROUP BY 1, 2, 3),
            exact AS (
                SELECT event_type, ws, user_id, count(*) AS exact
                FROM days WHERE user_id < 20 GROUP BY 1, 2, 3)
            SELECT est.event_type, CAST(est.ws AS BIGINT) AS ws,
                   est.user_id, CAST(est.est AS BIGINT) AS est,
                   CAST(coalesce(exact.exact, 0) AS BIGINT) AS exact,
                   (est.est >= coalesce(exact.exact, 0)) AS ge_ok
            FROM est
            LEFT JOIN exact ON exact.event_type = est.event_type
                           AND exact.ws = est.ws
                           AND exact.user_id = est.user_id
        """,
        "compressed_read_range": """
            WITH bounds AS (
                SELECT (min(epoch_us(ts)) // 3600000000) * 3600 + 24 * 3600 AS t0,
                       (max(epoch_us(ts)) // 3600000000) * 3600 - 36 * 3600 AS t1
                FROM events),
            h AS (
                SELECT event_type,
                       (epoch_us(ts) // 3600000000) * 3600 AS b,
                       sum(value) AS vs
                FROM events GROUP BY 1, 2)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_buckets,
                   round(sum(vs), 2) AS value_sum
            FROM h, bounds
            WHERE h.b >= bounds.t0 AND h.b < bounds.t1
            GROUP BY 1
        """,
        "snapshot_upsert_delete": """
            WITH b AS (
                SELECT event_id, event_type,
                       (epoch_us(ts) // 3600000000) * 3600 AS hb
                FROM events),
            v0 AS (
                SELECT event_type, hb, count(*) AS dc FROM b
                WHERE event_id % 5 != 0 GROUP BY 1, 2),
            v1 AS (
                SELECT event_type, hb, count(*) AS dc FROM b GROUP BY 1, 2),
            v2 AS (
                SELECT * FROM v1 WHERE event_type != 'click')
            SELECT CAST(0 AS BIGINT) AS version,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(dc) AS BIGINT) AS events_total FROM v0
            UNION ALL
            SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
                   CAST(sum(dc) AS BIGINT) FROM v1
            UNION ALL
            SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                   CAST(sum(dc) AS BIGINT) FROM v2
        """,
        "tier_route": """
            WITH bounds AS (
                SELECT (min(epoch_us(ts)) // 3600000000) * 3600 + 5 * 3600 AS t0,
                       (max(epoch_us(ts)) // 3600000000) * 3600 - 3 * 3600 AS t1
                FROM events)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM events, bounds
            WHERE epoch_us(ts) // 1000000 >= t0
              AND epoch_us(ts) // 1000000 < t1
            GROUP BY 1
        """,
        "triangle_counts": """
            WITH e0 AS (
                SELECT concat('h', CAST(doc_id % 97 AS VARCHAR)) AS src,
                       concat('h', CAST((doc_id * 31 + 7) % 97 AS VARCHAR))
                           AS dst
                FROM documents),
            und AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM e0 WHERE src <> dst),
            deg AS (
                SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT a AS node FROM und
                    UNION ALL SELECT b FROM und) GROUP BY 1),
            tri AS (
                SELECT e1.a AS x, e1.b AS y, e2.b AS z
                FROM und e1
                JOIN und e2 ON e1.b = e2.a
                JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
            pn AS (
                SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
                    SELECT x AS node FROM tri
                    UNION ALL SELECT y FROM tri
                    UNION ALL SELECT z FROM tri) GROUP BY 1)
            SELECT d.node, d.degree,
                   CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
                   CASE WHEN d.degree >= 2
                        THEN round(2.0 * coalesce(pn.triangles, 0)
                                   / (d.degree * (d.degree - 1)), 6)
                        ELSE 0.0 END AS lcc
            FROM deg d LEFT JOIN pn ON d.node = pn.node
        """,
        "weighted_sample": """
            WITH staged AS (
                SELECT doc_id, source,
                       CAST(octet_length(encode(text)) AS DOUBLE) AS w,
                       CAST(concat('0x', substring(
                           md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                           AS h
                FROM documents),
            ranked AS (
                SELECT doc_id, source, w,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY -ln((h + 1) / 4503599627370496.0) / w,
                                    doc_id) AS rn
                FROM staged)
            SELECT doc_id, source, CAST(w AS BIGINT) AS n_bytes
            FROM ranked WHERE rn <= 20
        """,
        "dedup_normalized": """
            WITH n AS (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(lower(text),
                            '[^a-z0-9 \t\n\r\f]', '', 'g'),
                            '[ \t\n\r\f]+', ' ', 'g')) AS t
                FROM documents)
            SELECT min(doc_id) AS rep_id,
                   CAST(count(*) AS BIGINT) AS dup_count
            FROM n GROUP BY t
        """,
        "line_dedup": """
            WITH pages AS (
                SELECT doc_id,
                       '=== site ' || source || ' header banner ===' || chr(10)
                       || text || chr(10)
                       || 'subscribe to our newsletter today' || chr(10)
                       || 'id ' || CAST(doc_id AS VARCHAR) AS text
                FROM documents),
            lines AS (
                SELECT doc_id,
                       generate_subscripts(ls, 1) - 1 AS pos,
                       unnest(ls) AS line
                FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                      FROM pages)),
            firsts AS (
                SELECT line, doc_id AS fdoc, pos AS fpos
                FROM (SELECT line, doc_id, pos,
                             row_number() OVER (PARTITION BY line
                                 ORDER BY doc_id, pos) AS rn
                      FROM lines WHERE length(line) >= 20)
                WHERE rn = 1),
            kept AS (
                SELECT l.doc_id, l.pos, l.line
                FROM lines l LEFT JOIN firsts f ON l.line = f.line
                WHERE length(l.line) < 20
                   OR (f.fdoc = l.doc_id AND f.fpos = l.pos)),
            agg AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text
                FROM kept GROUP BY doc_id)
            SELECT d.doc_id, COALESCE(a.text, '') AS text
            FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        """,
        "crawl_delta": """
            WITH c2t AS (
                SELECT doc_id, source, text AS t1,
                       CASE WHEN doc_id % 9 = 0
                            THEN 'replacement content for document '
                                 || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 5 = 0
                            THEN text || ' appended update paragraph marker'
                            ELSE text END AS t2
                FROM documents),
            snap AS (
                SELECT 'https://' || source || '/page/'
                           || CAST(doc_id AS VARCHAR) AS url,
                       TIMESTAMP '2024-03-01' AS crawl_ts, t1 AS text
                FROM c2t WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT 'https://' || source || '/page/'
                           || CAST(doc_id AS VARCHAR),
                       TIMESTAMP '2024-03-08', t2
                FROM c2t
                UNION ALL
                SELECT 'https://' || source || '/page/'
                           || CAST(doc_id AS VARCHAR),
                       TIMESTAMP '2024-03-15',
                       CASE WHEN doc_id % 6 = 0 THEN substr(t2, 1, 120)
                            ELSE t2 END
                FROM c2t WHERE doc_id % 11 <> 5),
            spine AS (
                SELECT crawl_ts, row_number() OVER (ORDER BY crawl_ts) AS k
                FROM (SELECT DISTINCT crawl_ts FROM snap)),
            obs AS (
                SELECT s.url, sp.k, s.text,
                       list_distinct(string_split(s.text, ' ')) AS toks
                FROM snap s JOIN spine sp USING (crawl_ts)),
            scored AS (
                SELECT url, k, text, toks,
                       lag(text) OVER w AS ptext,
                       lag(toks) OVER w AS ptoks,
                       lead(k) OVER w AS nk
                FROM obs WINDOW w AS (PARTITION BY url ORDER BY k)),
            classified AS (
                SELECT url, k, nk,
                       CASE WHEN ptext IS NULL THEN 'new'
                            WHEN text = ptext THEN 'unchanged'
                            WHEN CAST(len(list_intersect(toks, ptoks)) AS DOUBLE)
                                 / CAST(len(list_distinct(list_concat(toks, ptoks)))
                                        AS DOUBLE) >= 0.5
                            THEN 'changed_minor'
                            ELSE 'changed_major' END AS status,
                       CASE WHEN ptext IS NOT NULL AND text <> ptext
                            THEN CAST(len(list_intersect(toks, ptoks)) AS DOUBLE)
                                 / CAST(len(list_distinct(list_concat(toks, ptoks)))
                                        AS DOUBLE) END AS jaccard
                FROM scored),
            kmax AS (SELECT max(k) AS k_max FROM spine),
            gone AS (
                SELECT url, k + 1 AS k, 'gone' AS status,
                       CAST(NULL AS DOUBLE) AS jaccard
                FROM classified, kmax
                WHERE (nk IS NULL AND k < k_max) OR nk > k + 1),
            allrows AS (
                SELECT url, k, status, jaccard FROM classified
                UNION ALL
                SELECT url, k, status, jaccard FROM gone)
            SELECT a.url, strftime(sp.crawl_ts, '%Y-%m-%d') AS crawl_day,
                   a.status, a.jaccard
            FROM allrows a JOIN spine sp USING (k)
        """,
        "crawl_churn": """
            WITH c2t AS (
                SELECT doc_id, source, text AS t1,
                       CASE WHEN doc_id % 9 = 0
                            THEN 'replacement content for document '
                                 || CAST(doc_id AS VARCHAR)
                            WHEN doc_id % 5 = 0
                            THEN text || ' appended update paragraph marker'
                            ELSE text END AS t2
                FROM documents),
            snap AS (
                SELECT 'https://' || source || '/page/'
                           || CAST(doc_id AS VARCHAR) AS url,
                       TIMESTAMP '2024-03-01' AS crawl_ts, t1 AS text
                FROM c2t WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT 'https://' || source || '/page/'
                           || CAST(doc_id AS VARCHAR),
                       TIMESTAMP '2024-03-08', t2
                FROM c2t
                UNION ALL
                SELECT 'https://' || source || '/page/'
                           || CAST(doc_id AS VARCHAR),
                       TIMESTAMP '2024-03-15',
                       CASE WHEN doc_id % 6 = 0 THEN substr(t2, 1, 120)
                            ELSE t2 END
                FROM c2t WHERE doc_id % 11 <> 5),
            spine AS (
                SELECT crawl_ts, row_number() OVER (ORDER BY crawl_ts) AS k
                FROM (SELECT DISTINCT crawl_ts FROM snap)),
            obs AS (
                SELECT s.url, sp.k, s.text,
                       list_distinct(string_split(s.text, ' ')) AS toks
                FROM snap s JOIN spine sp USING (crawl_ts)),
            scored AS (
                SELECT url, k, text, toks,
                       lag(text) OVER w AS ptext,
                       lag(toks) OVER w AS ptoks,
                       lead(k) OVER w AS nk
                FROM obs WINDOW w AS (PARTITION BY url ORDER BY k)),
            classified AS (
                SELECT url, k, nk,
                       CASE WHEN ptext IS NULL THEN 'new'
                            WHEN text = ptext THEN 'unchanged'
                            WHEN CAST(len(list_intersect(toks, ptoks)) AS DOUBLE)
                                 / CAST(len(list_distinct(list_concat(toks, ptoks)))
                                        AS DOUBLE) >= 0.5
                            THEN 'changed_minor'
                            ELSE 'changed_major' END AS status
                FROM scored),
            kmax AS (SELECT max(k) AS k_max FROM spine),
            gone AS (
                SELECT url, k + 1 AS k, 'gone' AS status
                FROM classified, kmax
                WHERE (nk IS NULL AND k < k_max) OR nk > k + 1),
            allrows AS (
                SELECT url, k, status FROM classified
                UNION ALL
                SELECT url, k, status FROM gone),
            agg AS (
                SELECT regexp_extract(a.url, '^https://([^/]+)/', 1) AS domain,
                       strftime(sp.crawl_ts, '%Y-%m-%d') AS crawl_day,
                       CAST(count(*) FILTER (status = 'new') AS BIGINT)
                           AS n_new,
                       CAST(count(*) FILTER (status = 'unchanged') AS BIGINT)
                           AS n_unchanged,
                       CAST(count(*) FILTER (status = 'changed_minor') AS BIGINT)
                           AS n_minor,
                       CAST(count(*) FILTER (status = 'changed_major') AS BIGINT)
                           AS n_major,
                       CAST(count(*) FILTER (status = 'gone') AS BIGINT)
                           AS n_gone
                FROM allrows a JOIN spine sp USING (k)
                GROUP BY 1, 2)
            SELECT domain, crawl_day, n_new, n_unchanged, n_minor, n_major,
                   n_gone,
                   CASE WHEN n_new + n_unchanged + n_minor + n_major > 0
                        THEN CAST(n_minor + n_major AS DOUBLE)
                             / CAST(n_new + n_unchanged + n_minor + n_major
                                    AS DOUBLE) END AS churn
            FROM agg
        """,
        "rolling_active_users": """
            WITH pairs AS (
                SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u
                FROM events),
            dau AS (SELECT d, count(DISTINCT u) AS dau FROM pairs GROUP BY 1),
            spine AS (SELECT DISTINCT d FROM pairs),
            wau AS (
                SELECT a.d, count(DISTINCT b.u) AS wau
                FROM spine a JOIN pairs b
                  ON b.d <= a.d AND b.d > a.d - INTERVAL 7 DAY
                GROUP BY 1)
            SELECT strftime(dau.d, '%Y-%m-%d') AS d,
                   CAST(dau AS BIGINT) AS dau,
                   CAST(wau AS BIGINT) AS wau
            FROM dau JOIN wau ON dau.d = wau.d
        """,
        "scd2_user_state": """
            WITH ordered AS (
                SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
                       lag(event_type) OVER
                           (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS prev
                FROM events),
            changes AS (
                SELECT user_id, event_type, tus, event_id FROM ordered
                WHERE prev IS DISTINCT FROM event_type)
            SELECT user_id, event_type,
                   CAST(tus AS BIGINT) AS valid_from,
                   CAST(lead(tus) OVER
                        (PARTITION BY user_id ORDER BY tus, event_id)
                        AS BIGINT) AS valid_to,
                   lead(tus) OVER
                       (PARTITION BY user_id ORDER BY tus, event_id)
                       IS NULL AS is_current
            FROM changes
        """,
"streaming_scd2": """
            WITH ordered AS (
                SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
                       lag(event_type) OVER
                           (PARTITION BY user_id
                            ORDER BY epoch_us(ts), event_id) AS prev
                FROM events),
            changes AS (
                SELECT user_id, event_type, tus, event_id FROM ordered
                WHERE prev IS DISTINCT FROM event_type)
            SELECT user_id, event_type,
                   CAST(tus AS BIGINT) AS valid_from,
                   CAST(lead(tus) OVER
                        (PARTITION BY user_id ORDER BY tus, event_id)
                        AS BIGINT) AS valid_to,
                   lead(tus) OVER
                       (PARTITION BY user_id ORDER BY tus, event_id)
                       IS NULL AS is_current
            FROM changes
        """,
        "bigram_logprob": """
            WITH l AS (SELECT doc_id, string_split(text, ' ') AS l
                       FROM documents),
            bg AS (
                SELECT doc_id, bgp[1] AS w1, bgp[2] AS w2 FROM (
                    SELECT doc_id,
                           unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS bgp
                    FROM l)),
            db AS (SELECT doc_id, w1, w2, count(*) AS dc
                   FROM bg GROUP BY 1, 2, 3),
            lm AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY 1, 2),
            ctx AS (SELECT w1, sum(cb) AS ctx FROM lm GROUP BY 1),
            vt AS (SELECT count(DISTINCT w) AS v FROM (
                       SELECT unnest(string_split(text, ' ')) AS w
                       FROM documents)),
            nl AS (SELECT w1, w2,
                          CAST(floor(-ln((cb + 1) / CAST(ctx + v AS DOUBLE))
                                     * 1e6 + 0.5) AS BIGINT) AS neglp_q6
                   FROM lm JOIN ctx USING (w1), vt)
            SELECT doc_id,
                   CAST(sum(dc) AS BIGINT) AS n_bigrams,
                   CAST(sum(dc * neglp_q6) AS BIGINT) AS sum_neglp_q6,
                   CAST(floor(sum(dc * neglp_q6) / CAST(sum(dc) AS DOUBLE)
                              + 0.5) AS BIGINT) AS avg_neglp_q6
            FROM db JOIN nl USING (w1, w2) GROUP BY 1
        """,
        "frontier_schedule": """
            WITH f AS (
                SELECT concat(source, '.example.com') AS host,
                       concat('https://', source, '.example.com/p/',
                              CAST(doc_id AS VARCHAR)) AS url,
                       CAST(doc_id % 10 AS BIGINT) AS priority,
                       (instr('0123456789abcdef',
                              substring(md5(concat(source, '.example.com')),
                                        1, 1)) - 1) % 4 AS worker
                FROM documents),
            staged AS (
                SELECT host, url, priority, worker,
                       CAST((row_number() OVER
                             (PARTITION BY host
                              ORDER BY priority DESC, url) - 1) * 30
                            AS BIGINT) AS fetch_offset_sec
                FROM f)
            SELECT host, url, CAST(worker AS BIGINT) AS worker,
                   fetch_offset_sec,
                   CAST(row_number() OVER
                        (PARTITION BY worker
                         ORDER BY fetch_offset_sec, priority DESC, url)
                        AS BIGINT) AS fetch_order
            FROM staged
        """,
        "anomaly_ensemble": """
            WITH prof AS (
                SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
                       avg(value) AS m, stddev_pop(value) AS s
                FROM events GROUP BY 1, 2),
            med AS (SELECT event_type, median(value) AS med
                    FROM events GROUP BY 1),
            madt AS (SELECT e.event_type,
                            median(abs(e.value - m.med)) AS mad
                     FROM events e JOIN med m USING (event_type)
                     GROUP BY 1),
            d AS (SELECT event_type, event_id, ts, value,
                         value - lag(value) OVER
                             (PARTITION BY event_type
                              ORDER BY ts, event_id) AS dlt
                  FROM events),
            scale AS (SELECT event_type, avg(abs(dlt)) AS sc
                      FROM d GROUP BY 1),
            f AS (
                SELECT d.event_type, d.event_id,
                       strftime(d.ts, '%Y-%m-%d %H:%M:%S') AS ts,
                       round(d.value, 4) AS value,
                       (p.s > 0 AND abs(d.value - p.m) > 3.0 * p.s)
                           AS is_seasonal,
                       (a.mad > 0 AND abs(d.value - m.med) > 5.0 * a.mad)
                           AS is_robust,
                       (d.dlt IS NOT NULL AND sc.sc > 0
                        AND abs(d.dlt) > 8.0 * sc.sc) AS is_shock
                FROM d
                JOIN prof p ON d.event_type = p.event_type
                           AND CAST(hour(d.ts) AS INTEGER) = p.hod
                JOIN med m ON d.event_type = m.event_type
                JOIN madt a ON d.event_type = a.event_type
                JOIN scale sc ON d.event_type = sc.event_type)
            SELECT event_type, event_id, ts, value,
                   is_seasonal, is_robust, is_shock,
                   CAST(CAST(is_seasonal AS INT) + CAST(is_robust AS INT)
                        + CAST(is_shock AS INT) AS BIGINT) AS n_votes
            FROM f
            WHERE CAST(is_seasonal AS INT) + CAST(is_robust AS INT)
                  + CAST(is_shock AS INT) >= 2
        """,
        # serving_path_range serves the SAME range as tier_route but with
        # the hour fringe decoded from the Gorilla blob store — the raw
        # aggregate is the common exactness contract for both read paths
        "serving_path_range": """
            WITH bounds AS (
                SELECT (min(epoch_us(ts)) // 3600000000) * 3600 + 5 * 3600 AS t0,
                       (max(epoch_us(ts)) // 3600000000) * 3600 - 3 * 3600 AS t1
                FROM events)
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS value_sum
            FROM events, bounds
            WHERE epoch_us(ts) // 1000000 >= t0
              AND epoch_us(ts) // 1000000 < t1
            GROUP BY 1
        """,
        "html_extract": """
            WITH pages AS (
                SELECT doc_id,
                       concat('<html><head><script>var x=1;</script>',
                              '<style>p{margin:0}</style></head><body><h1>Doc ',
                              CAST(doc_id AS VARCHAR), '</h1><p>', text,
                              '</p><br><div>footer &amp; end</div></body></html>'
                       ) AS html
                FROM documents),
            x AS (
                SELECT doc_id,
                  regexp_replace(regexp_replace(html,
                    '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
                    '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS s
                FROM pages),
            x2 AS (
                SELECT doc_id, regexp_replace(s,
                    '(?i)</?(p|div|li|tr|h[1-6]|blockquote)\\b[^>]*>|<br\\s*/?>',
                    chr(10), 'g') AS s
                FROM x),
            x3 AS (
                SELECT doc_id,
                       regexp_replace(s, '(?s)<[^>]*>', ' ', 'g') AS s
                FROM x2),
            x4 AS (
                SELECT doc_id,
                  replace(replace(replace(replace(replace(
                      s, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                      '&#39;', ''''), '&amp;', '&') AS s
                FROM x3),
            x5 AS (
                SELECT doc_id,
                  regexp_replace(regexp_replace(regexp_replace(
                      s, '[ \\t]+', ' ', 'g'),
                      ' ?\\n ?', chr(10), 'g'),
                      '\\n{2,}', chr(10), 'g') AS s
                FROM x4)
            SELECT doc_id,
                   regexp_replace(s, '^\\s+|\\s+$', '', 'g') AS text_extracted
            FROM x5
        """,
        "e2e_web_ingest": """
            WITH pages AS (
                SELECT doc_id, source,
                       concat(source, '.example.com') AS host,
                       concat('https://', source, '.example.com/p/',
                              CAST(doc_id AS VARCHAR)) AS url,
                       1704067200 + doc_id AS ts_sec,
                       text
                FROM documents),
            kept AS (
                SELECT * FROM pages
                WHERE substring(md5(source), 1, 1) >= '4'),
            dedup AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY text ORDER BY url) AS rn
                    FROM kept)
                WHERE rn = 1)
            SELECT host,
                   CAST((ts_sec // 3600) * 3600 AS BIGINT) AS ws,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM dedup GROUP BY 1, 2
        """,
        "warc_ingest": """
            SELECT concat('https://', source, '.example.com/p/',
                          CAST(doc_id AS VARCHAR)) AS url,
                   CAST(1704067200 + doc_id AS BIGINT) AS ws,
                   -- UTF-8 BYTE count, not character count: the Spark
                   -- side counts bytes of the record body, and length()
                   -- on VARCHAR would silently depend on the documents
                   -- table staying pure ASCII (round-4 ADVICE fix)
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
            FROM documents
        """,
        "robots_policy": """
            SELECT doc_id,
                   concat(source, '.example.com') AS host,
                   concat(
                       CASE WHEN doc_id % 4 = 0 THEN '/private/'
                            WHEN doc_id % 4 = 1 THEN '/private/ok/'
                            WHEN doc_id % 4 = 2 THEN '/pub/'
                            ELSE '/tmp/' END,
                       CAST(doc_id AS VARCHAR)) AS path,
                   CASE
                       WHEN substring(md5(source), 1, 1) >= '8' THEN TRUE
                       WHEN doc_id % 4 = 1 THEN TRUE   -- allow /private/ok wins (longer)
                       WHEN doc_id % 4 = 0 THEN FALSE  -- disallow /private
                       WHEN doc_id % 4 = 3 THEN FALSE  -- disallow /tmp
                       ELSE TRUE                        -- /pub: no rule matches
                   END AS crawl_allowed
            FROM documents
        """,
        "domain_cap": """
            SELECT doc_id, source, n_chars FROM (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC,
                                    md5(CAST(doc_id AS VARCHAR)), doc_id
                       ) AS rn
                FROM documents)
            WHERE rn <= 12
        """,
        "seasonal_naive_error": """
            WITH h AS (
                SELECT event_type,
                       (epoch_us(ts) // 3600000000) * 3600 AS b,
                       count(*) AS y
                FROM events GROUP BY 1, 2),
            l AS (
                SELECT event_type, y,
                       lag(y, 1) OVER (
                           PARTITION BY event_type ORDER BY b) AS y1,
                       lag(y, 24) OVER (
                           PARTITION BY event_type ORDER BY b) AS ys
                FROM h)
            SELECT event_type,
                   CAST(sum(abs(y - ys)) AS BIGINT) AS sae_seasonal,
                   CAST(count(ys) AS BIGINT) AS n_seasonal,
                   CAST(sum(abs(y - y1)) AS BIGINT) AS sae_naive,
                   CAST(count(y1) AS BIGINT) AS n_naive
            FROM l GROUP BY 1
        """,
        "tier_snapshots": """
            WITH b AS (
                SELECT event_id, event_type,
                       (epoch_us(ts) // 3600000000) * 3600 AS hb
                FROM events),
            v0 AS (
                SELECT event_type, hb, count(*) AS dc FROM b
                WHERE event_id % 5 != 0 GROUP BY 1, 2),
            v1 AS (
                SELECT event_type, hb, count(*) AS dc FROM b GROUP BY 1, 2)
            SELECT CAST(0 AS BIGINT) AS version,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(dc) AS BIGINT) AS events_total
            FROM v0
            UNION ALL
            SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
                   CAST(sum(dc) AS BIGINT)
            FROM v1
        """,
        "mor_deletes": """
            WITH b AS (
                SELECT event_type,
                       epoch_us(ts) // 3600000000 AS hb
                FROM events),
            tier AS (
                SELECT event_type, hb, count(*) AS dc FROM b GROUP BY 1, 2),
            kept AS (
                SELECT * FROM tier WHERE hb % 7 != 0)
            SELECT CAST(0 AS BIGINT) AS version,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(dc) AS BIGINT) AS events_total
            FROM tier
            UNION ALL
            SELECT CAST(1 AS BIGINT), CAST(count(*) AS BIGINT),
                   CAST(sum(dc) AS BIGINT)
            FROM kept
            UNION ALL
            SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                   CAST(sum(dc) AS BIGINT)
            FROM kept
        """,
        "ols_trend": """
            WITH h AS (
                SELECT event_type,
                       (epoch_us(ts) // 3600000000) * 3600 AS b,
                       count(*) AS y
                FROM events GROUP BY 1, 2),
            r AS (
                SELECT event_type, y,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY b) - 1 AS x
                FROM h),
            a AS (
                SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                       sum(x * y) AS sxy, sum(x * x) AS sxx
                FROM r GROUP BY 1)
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   CAST(n * sxy - sx * sy AS BIGINT) AS slope_numer,
                   CAST(n * sxx - sx * sx AS BIGINT) AS slope_denom,
                   CAST(sy * (n * sxx - sx * sx)
                        - sx * (n * sxy - sx * sy) AS BIGINT) AS icept_numer,
                   CAST(n * (n * sxx - sx * sx) AS BIGINT) AS icept_denom
            FROM a
        """,
        "table_profile": """
            WITH s AS (SELECT count(*) AS n FROM events)
            SELECT p.* FROM s, LATERAL (
                SELECT 'event_id' AS "column", s.n AS n_rows,
                       (SELECT count(*) FROM events WHERE event_id IS NULL) AS n_null,
                       (SELECT count(DISTINCT event_id) FROM events) AS n_distinct,
                       (SELECT min(CAST(event_id AS VARCHAR)) FROM events) AS min_s,
                       (SELECT max(CAST(event_id AS VARCHAR)) FROM events) AS max_s,
                       (SELECT CAST(sum(coalesce(length(CAST(event_id AS VARCHAR)), 0)) AS BIGINT)
                        FROM events) AS total_len
                UNION ALL
                SELECT 'event_type', s.n,
                       (SELECT count(*) FROM events WHERE event_type IS NULL),
                       (SELECT count(DISTINCT event_type) FROM events),
                       (SELECT min(event_type) FROM events),
                       (SELECT max(event_type) FROM events),
                       (SELECT CAST(sum(coalesce(length(event_type), 0)) AS BIGINT) FROM events)
                UNION ALL
                SELECT 'user_id', s.n,
                       (SELECT count(*) FROM events WHERE user_id IS NULL),
                       (SELECT count(DISTINCT user_id) FROM events),
                       (SELECT min(CAST(user_id AS VARCHAR)) FROM events),
                       (SELECT max(CAST(user_id AS VARCHAR)) FROM events),
                       (SELECT CAST(sum(coalesce(length(CAST(user_id AS VARCHAR)), 0)) AS BIGINT)
                        FROM events)
                UNION ALL
                SELECT 'props', s.n,
                       (SELECT count(*) FROM events WHERE props IS NULL),
                       (SELECT count(DISTINCT props) FROM events),
                       (SELECT min(props) FROM events),
                       (SELECT max(props) FROM events),
                       (SELECT CAST(sum(coalesce(length(props), 0)) AS BIGINT) FROM events)
            ) p
        """,
        "mixture_balance": """
            WITH w(lang, wt) AS (
                VALUES ('en', 8), ('de', 3), ('fr', 3), ('es', 3), ('zh', 2)),
            c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
            m AS (SELECT min(coalesce(n, 0) // wt) AS m
                  FROM w LEFT JOIN c USING (lang)),
            q AS (SELECT w.lang, w.wt * m.m AS take FROM w, m),
            r AS (
                SELECT doc_id, lang,
                       row_number() OVER (
                           PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents)
            SELECT r.doc_id, r.lang
            FROM r JOIN q USING (lang) WHERE r.rn <= q.take
        """,
        "streaming_topk_hopping": """
            WITH ev AS (
                SELECT event_type, epoch_us(ts) AS t_us FROM events),
            expanded AS (
                SELECT event_type, t_us,
                       (t_us // 900000000) * 900 - 900 * o.o AS ws
                FROM ev, (SELECT unnest([0, 1, 2, 3]) AS o) o),
            counts AS (
                SELECT event_type, ws, count(*) AS n
                FROM expanded
                WHERE t_us >= ws * 1000000 AND t_us < (ws + 3600) * 1000000
                GROUP BY 1, 2),
            ranked AS (
                SELECT event_type, CAST(ws AS BIGINT) AS ws,
                       CAST(n AS BIGINT) AS n,
                       CAST(row_number() OVER (
                           PARTITION BY ws
                           ORDER BY n DESC, event_type) AS BIGINT) AS rnk
                FROM counts)
            SELECT event_type, ws, n, rnk FROM ranked WHERE rnk <= 3
        """,
        "compact_roundtrip": """
            SELECT event_type,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(*) AS n_events,
                   round(sum(value), 2) AS value_sum,
                   round(min(value), 2) AS value_min,
                   round(max(value), 2) AS value_max
            FROM events GROUP BY 1, 2
        """,
        "hll_distinct_cascade": """
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   count(DISTINCT user_id) AS exact_distinct,
                   TRUE AS within_5pct
            FROM events GROUP BY 1, 2
        """,
        "retention_downsample": """
            WITH hr AS (
              SELECT event_type,
                     (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
                         AS bsec,
                     count(*) AS doc_count,
                     sum(value) AS vs, min(value) AS vmin, max(value) AS vmax
              FROM events GROUP BY 1, 2),
            dy AS (
              SELECT event_type, (bsec // 86400) * 86400 AS bsec,
                     CAST(sum(doc_count) AS BIGINT) AS doc_count,
                     sum(vs) AS vs, min(vmin) AS vmin, max(vmax) AS vmax
              FROM hr GROUP BY 1, 2),
            cut AS (
              SELECT ((max(bsec) - 1209600) // 86400) * 86400 AS cut_sec
              FROM hr)
            SELECT event_type, bsec AS bucket_sec, 'hour' AS resolution,
                   doc_count,
                   round(vs, 2) AS value_sum,
                   round(vmin, 2) AS value_min,
                   round(vmax, 2) AS value_max
            FROM hr, cut WHERE bsec >= cut_sec
            UNION ALL
            SELECT event_type, bsec, 'day', doc_count,
                   round(vs, 2), round(vmin, 2), round(vmax, 2)
            FROM dy, cut WHERE bsec < cut_sec
        """,
        "unigram_logprob": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents),
            dt AS (SELECT doc_id, w, count(*) AS dc FROM tok GROUP BY 1, 2),
            v AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
            tot AS (SELECT count(*) AS t FROM tok),
            nl AS (
              SELECT w,
                     CAST(floor(-ln(cw / CAST(t AS DOUBLE)) * 1e6 + 0.5)
                          AS BIGINT) AS neglp_q6
              FROM v, tot)
            SELECT doc_id,
                   CAST(sum(dc) AS BIGINT) AS n_tokens,
                   CAST(sum(dc * neglp_q6) AS BIGINT) AS sum_neglp_q6,
                   CAST(floor(sum(dc * neglp_q6)
                              / CAST(sum(dc) AS DOUBLE) + 0.5) AS BIGINT)
                       AS avg_neglp_q6
            FROM dt JOIN nl USING (w) GROUP BY 1
        """,
        "bucket_sample": """
            WITH b AS (
              SELECT event_type,
                     (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
                         AS bucket_sec,
                     event_id
              FROM events),
            r AS (
              SELECT *,
                     row_number() OVER (
                       PARTITION BY event_type, bucket_sec
                       ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
                         AS rnk
              FROM b)
            SELECT event_type, bucket_sec, event_id, rnk
            FROM r WHERE rnk <= 5
        """,
        "tier_consistency": """
            WITH hr AS (
              SELECT event_type, date_trunc('hour', ts) AS bt,
                     count(*) AS n, min(value) AS mn, max(value) AS mx
              FROM events GROUP BY 1, 2),
            dc AS (
              SELECT event_type,
                     CAST(floor(epoch(date_trunc('day', bt))) AS BIGINT)
                         AS day_sec,
                     CAST(sum(n) AS BIGINT) AS n_cascade,
                     min(mn) AS min_cascade, max(mx) AS max_cascade
              FROM hr GROUP BY 1, 2),
            dd AS (
              SELECT event_type,
                     CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
                         AS day_sec,
                     count(*) AS n_direct,
                     min(value) AS min_direct, max(value) AS max_direct
              FROM events GROUP BY 1, 2)
            SELECT event_type, day_sec, n_cascade, n_direct,
                   (n_cascade IS NOT DISTINCT FROM n_direct
                    AND min_cascade IS NOT DISTINCT FROM min_direct
                    AND max_cascade IS NOT DISTINCT FROM max_direct)
                       AS consistent
            FROM dc FULL OUTER JOIN dd USING (event_type, day_sec)
        """,
        "promql_rate": """
            WITH s AS (
              SELECT event_type, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_e,
                     CAST(floor(value * 10) AS BIGINT) AS inc
              FROM events),
            c AS (
              SELECT event_type, event_id, ts_e,
                     CAST(sum(inc) OVER (PARTITION BY event_type
                                         ORDER BY ts_e, event_id)
                          % 100000 AS BIGINT) AS v,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY ts_e, event_id) AS rn
              FROM s),
            p AS (
              SELECT *,
                     lag(ts_e) OVER (PARTITION BY event_type ORDER BY rn)
                         AS prev_ts,
                     lag(v) OVER (PARTITION BY event_type ORDER BY rn)
                         AS prev_v
              FROM c),
            e AS (
              SELECT p.*,
                     ((ts_e + 3599) // 3600) * 3600 + j.j * 3600 AS eval_ts
              FROM p, (SELECT unnest([0, 1]) AS j) j
              WHERE ((ts_e + 3599) // 3600) * 3600 + j.j * 3600
                    < ts_e + 7200),
            a AS (
              SELECT event_type, eval_ts,
                     count(*) AS n_samples,
                     min(ts_e) AS first_ts, max(ts_e) AS last_ts,
                     arg_min(v, rn) AS first_v, arg_max(v, rn) AS last_v,
                     CAST(sum(CASE WHEN prev_ts IS NOT NULL
                                    AND prev_ts > eval_ts - 7200
                                    AND prev_v > v THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_resets,
                     CAST(sum(CASE WHEN prev_ts IS NOT NULL
                                    AND prev_ts > eval_ts - 7200
                                    AND prev_v > v THEN prev_v
                              ELSE 0 END) AS BIGINT) AS drops
              FROM e GROUP BY 1, 2),
            f AS (
              SELECT event_type, eval_ts, n_samples, n_resets,
                     last_v - first_v + drops AS raw_delta, first_v,
                     CAST(last_ts - first_ts AS DOUBLE) AS si,
                     CAST(first_ts - (eval_ts - 7200) AS DOUBLE) AS dts,
                     CAST(eval_ts - last_ts AS DOUBLE) AS dte,
                     CAST(last_ts - first_ts AS DOUBLE)
                       / CAST(n_samples - 1 AS DOUBLE) AS avg_iv
              FROM a
              WHERE n_samples >= 2 AND last_ts > first_ts),
            g AS (
              SELECT *,
                     CASE WHEN raw_delta > 0 AND first_v >= 0
                           AND si * (CAST(first_v AS DOUBLE)
                                     / CAST(raw_delta AS DOUBLE)) < dts
                          THEN si * (CAST(first_v AS DOUBLE)
                                     / CAST(raw_delta AS DOUBLE))
                          ELSE dts END AS dts_eff
              FROM f),
            h AS (
              SELECT *,
                     si + (CASE WHEN dts_eff < avg_iv * 1.1 THEN dts_eff
                                ELSE avg_iv / 2.0 END)
                        + (CASE WHEN dte < avg_iv * 1.1 THEN dte
                                ELSE avg_iv / 2.0 END) AS ext
              FROM g)
            SELECT event_type, eval_ts, n_samples, n_resets, raw_delta,
                   CAST(raw_delta AS DOUBLE) * (ext / si) AS increase,
                   (CAST(raw_delta AS DOUBLE) * (ext / si)) / 7200.0 AS rate
            FROM h
        """,
        "forecast_reconcile": """
            WITH d AS (
              SELECT event_type,
                     CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) AS day
              FROM events),
            m AS (SELECT max(day) AS maxd FROM d),
            ch AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS cnt
              FROM d, m WHERE day > maxd - 7 GROUP BY 1),
            tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS child_sum FROM ch),
            par AS (
              SELECT count(*) / 14.0 AS parent_fc
              FROM d, m WHERE day > maxd - 14)
            SELECT ch.event_type, ch.cnt,
                   ch.cnt / 7.0 AS base_fc,
                   ch.cnt / CAST(tot.child_sum AS DOUBLE) AS share,
                   par.parent_fc
                     * (ch.cnt / CAST(tot.child_sum AS DOUBLE))
                     AS reconciled
            FROM ch, tot, par
        """,
        "acf_period": """
            WITH ev AS (
              SELECT event_type,
                     CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h
              FROM events),
            b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
            grid AS (
              SELECT t.event_type, g.g AS h_idx
              FROM (SELECT DISTINCT event_type FROM ev) t, b,
                   (SELECT unnest(generate_series(0,
                        (SELECT CAST(h1 - h0 AS BIGINT) FROM b))) AS g) g),
            c AS (
              SELECT event_type, h - (SELECT h0 FROM b) AS h_idx,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM ev GROUP BY 1, 2),
            x AS (
              SELECT grid.event_type, grid.h_idx,
                     coalesce(c.cnt, 0) AS v
              FROM grid LEFT JOIN c USING (event_type, h_idx)),
            st AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(v) AS BIGINT) AS s
              FROM x GROUP BY 1),
            y AS (
              SELECT x.event_type, x.h_idx,
                     CAST(st.n * x.v - st.s AS BIGINT) AS y, st.n
              FROM x JOIN st USING (event_type)),
            den AS (
              SELECT event_type, CAST(sum(y * y) AS BIGINT) AS acf_den,
                     any_value(n) AS n_buckets
              FROM y GROUP BY 1),
            nk AS (
              SELECT a.event_type, k.k AS lag,
                     CAST(sum(a.y * b2.y) AS BIGINT) AS num
              FROM y a,
                   (SELECT unnest(generate_series(2, 48)) AS k) k,
                   y b2
              WHERE b2.event_type = a.event_type
                AND b2.h_idx = a.h_idx + k.k
              GROUP BY 1, 2),
            best AS (
              SELECT event_type, lag, num,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY num DESC, lag) AS rn
              FROM nk)
            SELECT best.event_type, den.n_buckets,
                   CAST(best.lag AS BIGINT) AS period,
                   best.num AS acf_num, den.acf_den
            FROM best JOIN den USING (event_type)
            WHERE best.rn = 1 AND den.acf_den > 0
        """,
        "curriculum_order": """
            WITH t AS (
              SELECT doc_id,
                     ntile(4) OVER (ORDER BY n_chars DESC,
                                    md5(CAST(doc_id AS VARCHAR)),
                                    doc_id) AS tier
              FROM documents)
            SELECT doc_id, tier,
                   CAST((row_number() OVER (
                           PARTITION BY tier
                           ORDER BY md5('shuffle:'
                                        || CAST(doc_id AS VARCHAR)),
                                    doc_id) - 1) * 4 + tier
                        AS BIGINT) AS pos
            FROM t
        """,
        "temporal_split": """
            WITH r AS (
              SELECT event_type, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_l,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY ts, event_id) AS rn,
                     count(*) OVER (PARTITION BY event_type)
                         * 80 // 100 AS cut
              FROM events),
            w2 AS (
              SELECT *, max(CASE WHEN rn <= cut THEN ts_l END)
                            OVER (PARTITION BY event_type) AS cut_ts
              FROM r)
            SELECT event_type, event_id,
                   CASE WHEN rn <= cut THEN 'train'
                        WHEN ts_l <= cut_ts + 7200 THEN 'embargo'
                        ELSE 'test' END AS split
            FROM w2
        """,
        "predict_linear": """
            WITH s AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_e,
                     CAST(floor(value * 1000) AS BIGINT) AS v
              FROM events),
            e AS (
              SELECT s.*,
                     ((ts_e + 3599) // 3600) * 3600 + j.j * 3600 AS eval_ts
              FROM s, (SELECT unnest([0, 1]) AS j) j
              WHERE ((ts_e + 3599) // 3600) * 3600 + j.j * 3600
                    < ts_e + 7200),
            a AS (
              SELECT event_type, eval_ts,
                     CAST(count(*) AS BIGINT) AS n_samples,
                     CAST(sum(ts_e - eval_ts) AS BIGINT) AS sx,
                     CAST(sum(v) AS BIGINT) AS sy,
                     CAST(sum((ts_e - eval_ts) * v) AS BIGINT) AS sxy,
                     CAST(sum((ts_e - eval_ts) * (ts_e - eval_ts))
                          AS BIGINT) AS sxx
              FROM e GROUP BY 1, 2),
            f AS (
              SELECT * FROM a
              WHERE n_samples >= 2 AND n_samples * sxx <> sx * sx),
            g AS (
              SELECT event_type, eval_ts, n_samples,
                     (CAST(n_samples AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n_samples AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
                     CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
              FROM f)
            SELECT event_type, eval_ts, n_samples, slope,
                   ((syd - slope * sxd) / CAST(n_samples AS DOUBLE))
                   + slope * 1800.0 AS predicted
            FROM g
        """,
        "trustrank": """
            WITH pages AS (
                SELECT doc_id,
                       'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'
                           AS src_domain,
                       '<p><a href="https://h'
                       || CAST((doc_id * 31 + 7) % 97 AS VARCHAR)
                       || '.example.com/x">l</a> <a href=''http://h'
                       || CAST((doc_id * 5 + 3) % 11 AS VARCHAR)
                       || '.org/y''>m</a></p>' AS html
                FROM documents),
            l0 AS (
                SELECT src_domain,
                       unnest(regexp_extract_all(
                           html,
                           'href=["'']((?:https?)://[^"''\\s>]+)["'']', 1))
                           AS link_url
                FROM pages),
            edges AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src_domain AS src,
                           lower(regexp_extract(
                               link_url, '^https?://([^/]+)', 1)) AS dst
                    FROM l0)
                WHERE dst IS NOT NULL AND dst <> '' AND dst <> src),
            nodes AS (
                SELECT src AS node FROM edges
                UNION SELECT dst FROM edges),
            sd AS (
                SELECT n.node,
                       CASE WHEN n.node IN ('h1.example.com',
                                            'h7.example.com', 'h2.org')
                            THEN CAST(1 AS DOUBLE) / 3 ELSE 0.0 END AS s
                FROM nodes n),
            outdeg AS (
                SELECT src, CAST(count(*) AS DOUBLE) AS outdeg
                FROM edges GROUP BY 1),
            t0 AS (SELECT node, s, s AS tr FROM sd),
            d1 AS (SELECT COALESCE(sum(p.tr), 0) AS dm FROM t0 p
                   LEFT JOIN outdeg o ON o.src = p.node WHERE o.src IS NULL),
            m1 AS (SELECT e.dst AS node, sum(p.tr / o.outdeg) AS in_mass
                   FROM edges e JOIN outdeg o ON o.src = e.src
                   JOIN t0 p ON p.node = e.src GROUP BY 1),
            t1 AS (SELECT n.node, n.s,
                          0.15 * n.s
                          + 0.85 * (COALESCE(m.in_mass, 0) + d1.dm * n.s)
                              AS tr
                   FROM sd n CROSS JOIN d1
                   LEFT JOIN m1 m ON m.node = n.node),
            d2 AS (SELECT COALESCE(sum(p.tr), 0) AS dm FROM t1 p
                   LEFT JOIN outdeg o ON o.src = p.node WHERE o.src IS NULL),
            m2 AS (SELECT e.dst AS node, sum(p.tr / o.outdeg) AS in_mass
                   FROM edges e JOIN outdeg o ON o.src = e.src
                   JOIN t1 p ON p.node = e.src GROUP BY 1),
            t2 AS (SELECT n.node, n.s,
                          0.15 * n.s
                          + 0.85 * (COALESCE(m.in_mass, 0) + d2.dm * n.s)
                              AS tr
                   FROM sd n CROSS JOIN d2
                   LEFT JOIN m2 m ON m.node = n.node),
            d3 AS (SELECT COALESCE(sum(p.tr), 0) AS dm FROM t2 p
                   LEFT JOIN outdeg o ON o.src = p.node WHERE o.src IS NULL),
            m3 AS (SELECT e.dst AS node, sum(p.tr / o.outdeg) AS in_mass
                   FROM edges e JOIN outdeg o ON o.src = e.src
                   JOIN t2 p ON p.node = e.src GROUP BY 1),
            t3 AS (SELECT n.node, n.s,
                          0.15 * n.s
                          + 0.85 * (COALESCE(m.in_mass, 0) + d3.dm * n.s)
                              AS tr
                   FROM sd n CROSS JOIN d3
                   LEFT JOIN m3 m ON m.node = n.node)
            SELECT node, round(tr, 6) AS tr FROM t3
        """,
        "decayed_popularity": """
            WITH s AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_e
              FROM events),
            m AS (SELECT max(ts_e) AS ref FROM s),
            a AS (
              SELECT event_type,
                     CAST(floor((ref - ts_e) / 3600) AS BIGINT) AS age_b
              FROM s, m),
            f AS (
              SELECT event_type,
                     CAST(floor(age_b / 24) AS BIGINT) AS age_hl
              FROM a WHERE age_b >= 0 AND age_b < 672),
            g AS (
              SELECT event_type,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(sum(CAST(1 AS BIGINT) << (28 - age_hl))
                          AS BIGINT) AS score_scaled
              FROM f GROUP BY 1)
            SELECT event_type, n_events, score_scaled,
                   CAST(score_scaled AS DOUBLE) / 268435456.0 AS score
            FROM g
        """,
        "quantile_normalize": """
            WITH b AS (
              SELECT event_type, event_id, value AS v FROM events),
            r AS (
              SELECT event_type, event_id, v,
                     CAST(row_number() OVER (PARTITION BY event_type
                                             ORDER BY v, event_id)
                          AS BIGINT) AS rank_in_group,
                     CAST(count(*) OVER (PARTITION BY event_type)
                          AS BIGINT) AS group_n
              FROM b),
            n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b),
            g AS (
              SELECT CAST(row_number() OVER (ORDER BY v, event_type,
                                             event_id)
                          AS BIGINT) AS target_rank,
                     v AS normalized
              FROM b),
            t AS (
              SELECT r.*,
                     (rank_in_group * nn + group_n - 1) // group_n
                         AS target_rank
              FROM r, n)
            SELECT t.event_type, t.event_id, t.v AS value,
                   t.rank_in_group, t.group_n, t.target_rank, g.normalized
            FROM t JOIN g ON g.target_rank = t.target_rank
        """,
        "label_propagation": """
            WITH pages AS (
                SELECT doc_id,
                       'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'
                           AS src_domain,
                       '<p><a href="https://h'
                       || CAST((doc_id * 31 + 7) % 97 AS VARCHAR)
                       || '.example.com/x">l</a> <a href=''http://h'
                       || CAST((doc_id * 5 + 3) % 11 AS VARCHAR)
                       || '.org/y''>m</a></p>' AS html
                FROM documents),
            l0x AS (
                SELECT src_domain,
                       unnest(regexp_extract_all(
                           html,
                           'href=["'']((?:https?)://[^"''\\s>]+)["'']', 1))
                           AS link_url
                FROM pages),
            edges AS (
                SELECT DISTINCT src, dst FROM (
                    SELECT src_domain AS src,
                           lower(regexp_extract(
                               link_url, '^https?://([^/]+)', 1)) AS dst
                    FROM l0x)
                WHERE dst IS NOT NULL AND dst <> '' AND dst <> src),
            und AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst),
            nbr AS (
                SELECT a AS node, b AS nbr FROM und
                UNION ALL SELECT b, a FROM und),
            l0 AS (SELECT DISTINCT node, node AS label FROM nbr),
            c1 AS (
                SELECT n.node, l.label AS nlbl,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM nbr n JOIN l0 l ON l.node = n.nbr GROUP BY 1, 2),
            l1 AS (
                SELECT node, nlbl AS label FROM (
                    SELECT node, nlbl,
                           row_number() OVER (PARTITION BY node
                                              ORDER BY cnt DESC, nlbl) AS rn
                    FROM c1) WHERE rn = 1),
            c2 AS (
                SELECT n.node, l.label AS nlbl,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM nbr n JOIN l1 l ON l.node = n.nbr GROUP BY 1, 2),
            l2 AS (
                SELECT node, nlbl AS label FROM (
                    SELECT node, nlbl,
                           row_number() OVER (PARTITION BY node
                                              ORDER BY cnt DESC, nlbl) AS rn
                    FROM c2) WHERE rn = 1),
            c3 AS (
                SELECT n.node, l.label AS nlbl,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM nbr n JOIN l2 l ON l.node = n.nbr GROUP BY 1, 2),
            l3 AS (
                SELECT node, nlbl AS label FROM (
                    SELECT node, nlbl,
                           row_number() OVER (PARTITION BY node
                                              ORDER BY cnt DESC, nlbl) AS rn
                    FROM c3) WHERE rn = 1)
            SELECT node, label FROM l3
        """,
        "attribution": """
            WITH b AS (
              SELECT user_id AS "user", event_id AS eid,
                     event_type AS etype,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_e
              FROM events),
            c AS (
              SELECT *,
                     last_value(CASE WHEN etype IN ('click', 'view')
                                     THEN struct_pack(
                                         src_ts := ts_e, src_id := eid,
                                         src_type := etype)
                                END IGNORE NULLS)
                       OVER (PARTITION BY "user" ORDER BY ts_e, eid
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS ls,
                     CAST(sum(CASE WHEN etype IN ('click', 'view')
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY "user" ORDER BY ts_e
                             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS n_sources_window
              FROM b),
            f AS (
              SELECT *, (ls.src_ts >= ts_e - 86400) AS inw
              FROM c WHERE etype IN ('purchase', 'signup'))
            SELECT "user", eid AS conv_id, etype AS conv_type,
                   ts_e AS conv_ts,
                   CASE WHEN inw THEN ls.src_id END AS src_id,
                   CASE WHEN inw THEN ls.src_type END AS src_type,
                   CASE WHEN inw THEN ls.src_ts END AS src_ts,
                   n_sources_window
            FROM f
        """,
    }
    # the stateful streaming sessionizer emits exactly the batch sessions;
    # its oracle IS the batch sessionize SQL
    d["streaming_sessionize"] = d["sessionize"]
    # the flagship's numeric pin: the oracle side is the Spark-free
    # pyarrow/NumPy recomputation q_s2g_score_profile stages to parquet
    # BEFORE returning its DataFrame (the driver runs the Spark side first,
    # so the dump always reflects the gate's sf_dir)
    d["s2g_score_profile"] = f"""
        SELECT event_type, window_idx, q6
        FROM read_parquet('{_s2g_dump_path()}')
    """
    # session-3 staged twins: each query entry recomputes its expected
    # output with the Spark-free scalar kernels in dads_spark/oracles.py
    # and stages it BEFORE returning its DataFrame (the driver runs the
    # Spark side first), so these value hashes pin the sequential-
    # recurrence operators' numbers end-to-end.
    d["lttb_downsample"] = f"""
        SELECT event_type, bucket_ts, v
        FROM read_parquet('{_dump_path("lttb_oracle")}')
    """
    d["ewma_anomaly"] = f"""
        SELECT event_type, bucket_ts, v, ewma_q6, resid_q6
        FROM read_parquet('{_dump_path("ewma_oracle")}')
    """
    d["holt_pinned"] = f"""
        SELECT event_type, idx, value, fc_q6, resid_q6
        FROM read_parquet('{_dump_path("holt_oracle")}')
    """
    d["holt_damped"] = f"""
        SELECT event_type, idx, value, fc_q6, resid_q6
        FROM read_parquet('{_dump_path("holt_damped_oracle")}')
    """
    d["seasonal_esd"] = f"""
        SELECT event_type, step, t, v, u, md, sum_u, n_active,
               significant
        FROM read_parquet('{_dump_path("esd_oracle")}')
    """
    d["vopt_histogram"] = f"""
        SELECT event_type, bucket, t_start, t_end, n, sum_v, sum2_v,
               cost_q3
        FROM read_parquet('{_dump_path("vopt_oracle")}')
    """
    d["haar_synopsis"] = f"""
        SELECT event_type, rank, level, pos, coef, energy
        FROM read_parquet('{_dump_path("haar_oracle")}')
    """

    # anomaly_scorecard: the composed detector fusion — the chart SQL
    # verbatim (as in d["control_chart"]) + the two staged dumps
    d["anomaly_scorecard"] = f"""
        WITH h AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS t,
                   CAST(count(*) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
        m AS (
            SELECT event_type, t, v,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(sum(v) OVER w AS BIGINT) AS s,
                   CAST(sum(v * v) OVER w AS BIGINT) AS q
            FROM h WINDOW w AS (PARTITION BY event_type)),
        b AS (
            SELECT event_type, t, v,
                   n * v - s AS dev,
                   n * q - s * s AS a,
                   CASE WHEN lag(v) OVER o IS NULL THEN 0
                        WHEN v > lag(v) OVER o THEN 1 ELSE 0 END AS inc,
                   CASE WHEN lag(v) OVER o IS NULL THEN 0
                        WHEN v < lag(v) OVER o THEN 1 ELSE 0 END AS dec
            FROM m WINDOW o AS (PARTITION BY event_type ORDER BY t)),
        r AS (
            SELECT event_type,
                   CASE WHEN dev * dev > 9 * a THEN 1 ELSE 0 END AS r1,
                   CASE WHEN sum(CASE WHEN dev > 0 THEN 1 ELSE 0 END)
                            OVER w9 = 9
                          OR sum(CASE WHEN dev < 0 THEN 1 ELSE 0 END)
                            OVER w9 = 9
                        THEN 1 ELSE 0 END AS r2,
                   CASE WHEN sum(inc) OVER w5 = 5
                          OR sum(dec) OVER w5 = 5
                        THEN 1 ELSE 0 END AS r3,
                   CASE WHEN sum(CASE WHEN dev > 0
                                       AND dev * dev > 4 * a
                                      THEN 1 ELSE 0 END) OVER w3 >= 2
                          OR sum(CASE WHEN dev < 0
                                       AND dev * dev > 4 * a
                                      THEN 1 ELSE 0 END) OVER w3 >= 2
                        THEN 1 ELSE 0 END AS r4
            FROM b WINDOW
                w9 AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                w5 AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                w3 AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
        cc AS (
            SELECT event_type,
                   CAST(sum(r1) AS BIGINT) AS n_r1,
                   CAST(sum(r2) AS BIGINT) AS n_r2,
                   CAST(sum(r3) AS BIGINT) AS n_r3,
                   CAST(sum(r4) AS BIGINT) AS n_r4
            FROM r GROUP BY 1),
        esd AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_esd
            FROM read_parquet('{_dump_path("esd_oracle")}')
            WHERE significant = 1 GROUP BY 1),
        ho AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_holt
            FROM read_parquet('{_dump_path("holt_damped_oracle")}')
            GROUP BY 1),
        base AS (SELECT DISTINCT event_type FROM events)
        SELECT base.event_type,
               coalesce(cc.n_r1, 0) AS n_r1,
               coalesce(cc.n_r2, 0) AS n_r2,
               coalesce(cc.n_r3, 0) AS n_r3,
               coalesce(cc.n_r4, 0) AS n_r4,
               coalesce(esd.n_esd, 0) AS n_esd,
               coalesce(ho.n_holt, 0) AS n_holt
        FROM base
        LEFT JOIN cc USING (event_type)
        LEFT JOIN esd USING (event_type)
        LEFT JOIN ho USING (event_type)
    """

    # streaming_left_join: stream==batch with the final-watermark null
    # cutoff mirrored relationally (see q_streaming_left_join)
    d["streaming_left_join"] = """
        WITH p AS (
            SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts
            FROM events WHERE event_type = 'purchase'),
        c AS (
            SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
            FROM events WHERE event_type = 'click'),
        wm AS (
            SELECT least((SELECT max(p_ts) FROM p),
                         (SELECT max(c_ts) FROM c))
                   - INTERVAL 2 HOUR AS w),
        j AS (
            SELECT p.p_id, p.p_ts, c.c_id
            FROM p LEFT JOIN c
              ON p_user = c_user
             AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts)
        SELECT p_id, c_id FROM j WHERE c_id IS NOT NULL
        UNION ALL
        SELECT p_id, CAST(NULL AS BIGINT) AS c_id
        FROM j WHERE c_id IS NULL AND p_ts < (SELECT w FROM wm)
    """

    # compaction_plan: size-tiered policy over the staged per-file
    # stats — tier = max(k : 2^k <= rows) via the powers join, merge
    # when a tier holds >= 4 files
    d["compaction_plan"] = f"""
        WITH s AS (
            SELECT row_number() OVER () AS fid, n_rows
            FROM read_parquet('{_dump_path("compactplan_stats")}')),
        p AS (SELECT unnest(range(41)) AS k),
        t AS (
            SELECT fid, n_rows, CAST(max(k) AS BIGINT) AS size_tier
            FROM s JOIN p ON (CAST(1 AS BIGINT) << k) <= n_rows
            GROUP BY 1, 2)
        SELECT size_tier,
               CAST(count(*) AS BIGINT) AS n_files,
               CAST(sum(n_rows) AS BIGINT) AS total_rows,
               CAST(min(n_rows) AS BIGINT) AS min_rows,
               CAST(max(n_rows) AS BIGINT) AS max_rows,
               CAST(CASE WHEN count(*) >= 4 THEN 1 ELSE 0 END AS BIGINT)
                   AS compact
        FROM t GROUP BY 1
    """

    # funnel_exclusion: next-B/next-X min-over-following frames with
    # the (t, type) tiebreak mirrored exactly
    d["funnel_exclusion"] = """
        WITH b AS (
            SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t
            FROM events
            WHERE event_type IN ('click', 'purchase', 'error')),
        a AS (
            SELECT u, ty, t,
                   min(CASE WHEN ty = 'purchase' THEN t END)
                       OVER (PARTITION BY u ORDER BY t, ty
                             ROWS BETWEEN 1 FOLLOWING
                               AND UNBOUNDED FOLLOWING) AS nb,
                   min(CASE WHEN ty = 'error' THEN t END)
                       OVER (PARTITION BY u ORDER BY t, ty
                             ROWS BETWEEN 1 FOLLOWING
                               AND UNBOUNDED FOLLOWING) AS nx
            FROM b),
        ar AS (SELECT * FROM a WHERE ty = 'click'),
        fl AS (
            SELECT u,
                   (nb IS NOT NULL
                    AND nb - t <= CAST(7200 AS BIGINT) * 1000000)
                       AS in_time,
                   (nx IS NULL OR nx > nb) AS clean
            FROM ar)
        SELECT u AS user_id,
               CAST(count(*) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN in_time AND clean THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_converted,
               CAST(sum(CASE WHEN in_time AND NOT clean THEN 1
                             ELSE 0 END) AS BIGINT) AS n_blocked,
               CAST(sum(CASE WHEN NOT in_time THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_timeout
        FROM fl GROUP BY 1
    """

    # ams_f2: linear second-moment sketch — md5-parity eps signs,
    # exact integer sums/squares/floor-division; exact F2 alongside
    d["ams_f2"] = """
        WITH js AS (SELECT unnest(range(80)) AS j),
        sk AS (
            SELECT event_type, js.j,
                   CAST(sum(1 - 2 * ((instr('0123456789abcdef',
                        substring(md5(concat(CAST(js.j AS VARCHAR), ':',
                                             CAST(user_id AS VARCHAR))),
                                  1, 1)) - 1) % 2)) AS BIGINT) AS s
            FROM events, js GROUP BY 1, 2),
        gm AS (
            SELECT event_type, j // 16 AS g,
                   CAST(sum(s * s) // 16 AS BIGINT) AS gmean
            FROM sk GROUP BY 1, 2),
        est AS (
            SELECT event_type, gmean AS f2_est
            FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                ORDER BY gmean, g) AS rn
                  FROM gm)
            WHERE rn = 3),
        ex AS (
            SELECT event_type,
                   CAST(sum(f * f) AS BIGINT) AS f2_exact,
                   CAST(sum(f) AS BIGINT) AS n_rows
            FROM (SELECT event_type, CAST(user_id AS VARCHAR) AS v,
                         count(*) AS f
                  FROM events GROUP BY 1, 2)
            GROUP BY 1)
        SELECT event_type, n_rows, f2_est, f2_exact
        FROM est JOIN ex USING (event_type)
    """

    # polite_schedule: per-host Crawl-delay politeness — the oracle
    # derives delays from the synthesis rule (md5 digit % 3), never
    # re-parsing, so agreement pins the parser + scheduler composition
    d["polite_schedule"] = """
        WITH h AS (
            SELECT DISTINCT concat(source, '.example.com') AS host
            FROM documents),
        dl AS (
            SELECT host,
                   CASE (instr('0123456789abcdef',
                               substring(md5(host), 1, 1)) - 1) % 3
                        WHEN 0 THEN 1000
                        WHEN 1 THEN 2000
                        ELSE 500 END AS delay_ms
            FROM h),
        f AS (
            SELECT concat(source, '.example.com') AS host,
                   concat('https://', source, '.example.com/p/',
                          CAST(doc_id AS VARCHAR)) AS url,
                   CAST(doc_id % 10 AS BIGINT) AS priority,
                   (instr('0123456789abcdef',
                          substring(md5(concat(source, '.example.com')),
                                    1, 1)) - 1) % 4 AS worker
            FROM documents),
        staged AS (
            SELECT f.host, f.url, f.priority, f.worker,
                   CAST((row_number() OVER
                         (PARTITION BY f.host
                          ORDER BY f.priority DESC, f.url) - 1)
                        * dl.delay_ms AS BIGINT) AS fetch_offset_ms
            FROM f JOIN dl ON dl.host = f.host)
        SELECT host, url, CAST(worker AS BIGINT) AS worker,
               fetch_offset_ms,
               CAST(row_number() OVER
                    (PARTITION BY worker
                     ORDER BY fetch_offset_ms, priority DESC, url)
                    AS BIGINT) AS fetch_order
        FROM staged
    """

    # spearman_corr: doubled-midrank Spearman — exact long moments
    # carry the pin, rho_q6 one fixed-shape float (sqrt factored)
    d["spearman_corr"] = """
        WITH h AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS hb,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        r AS (
            SELECT event_type,
                   CAST(2 * rank() OVER (PARTITION BY event_type
                                         ORDER BY x)
                        + count(*) OVER (PARTITION BY event_type, x)
                        - 1 AS BIGINT) AS ra,
                   CAST(2 * rank() OVER (PARTITION BY event_type
                                         ORDER BY y)
                        + count(*) OVER (PARTITION BY event_type, y)
                        - 1 AS BIGINT) AS rb
            FROM h),
        m AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(ra) AS BIGINT) AS sa,
                   CAST(sum(rb) AS BIGINT) AS sb,
                   CAST(sum(ra * rb) AS BIGINT) AS sab,
                   CAST(sum(ra * ra) AS BIGINT) AS saa,
                   CAST(sum(rb * rb) AS BIGINT) AS sbb
            FROM r GROUP BY 1),
        f AS (
            SELECT event_type, n,
                   n * sab - sa * sb AS num,
                   n * saa - sa * sa AS var_a,
                   n * sbb - sb * sb AS var_b
            FROM m)
        SELECT event_type, n, num, var_a, var_b,
               CASE WHEN var_a > 0 AND var_b > 0 THEN
                   CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                        * floor(abs(CAST(num AS DOUBLE)
                                    / (sqrt(CAST(var_a AS DOUBLE))
                                       * sqrt(CAST(var_b AS DOUBLE))))
                                * 1e6 + 0.5) AS BIGINT)
               END AS rho_q6
        FROM f
    """

    # runs_test: Wald-Wolfowitz above/below-median runs — exact R,
    # n1, n0 carry the pin; z_q6 fixed-shape on exact longs
    d["runs_test"] = """
        WITH h AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS t,
                   CAST(count(*) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
        rk AS (
            SELECT event_type, t, v,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY v, t) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM h),
        mid AS (
            SELECT event_type,
                   CASE WHEN count(*) = 1 THEN 2 * sum(v)
                        ELSE sum(v) END AS med2
            FROM rk
            WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
            GROUP BY 1),
        sided AS (
            SELECT rk.event_type, rk.t,
                   CASE WHEN 2 * rk.v > mid.med2 THEN 1 ELSE 0 END
                       AS side
            FROM rk JOIN mid USING (event_type)
            WHERE 2 * rk.v != mid.med2),
        runs AS (
            SELECT event_type, side,
                   CASE WHEN lag(side) OVER (PARTITION BY event_type
                                             ORDER BY t) IS NULL
                         OR lag(side) OVER (PARTITION BY event_type
                                            ORDER BY t) != side
                        THEN 1 ELSE 0 END AS new_run
            FROM sided),
        agg AS (
            SELECT event_type,
                   CAST(sum(new_run) AS BIGINT) AS n_runs,
                   CAST(sum(side) AS BIGINT) AS n_above,
                   CAST(count(*) - sum(side) AS BIGINT) AS n_below
            FROM runs GROUP BY 1)
        SELECT event_type, n_runs, n_above, n_below,
               CASE WHEN n_above > 0 AND n_below > 0
                     AND n_above + n_below > 1
                     AND 2 * n_above * n_below > n_above + n_below THEN
                   CAST((CASE WHEN CAST(n_runs AS DOUBLE)
                                   - (1 + CAST(2 * n_above * n_below
                                               AS DOUBLE)
                                          / CAST(n_above + n_below
                                                 AS DOUBLE)) < 0
                              THEN -1 ELSE 1 END)
                        * floor(abs(
                            (CAST(n_runs AS DOUBLE)
                             - (1 + CAST(2 * n_above * n_below
                                         AS DOUBLE)
                                    / CAST(n_above + n_below
                                           AS DOUBLE)))
                            / sqrt(CAST(2 * n_above * n_below
                                        AS DOUBLE)
                                   * (CAST(2 * n_above * n_below
                                           AS DOUBLE)
                                      - CAST(n_above + n_below
                                             AS DOUBLE))
                                   / (CAST(n_above + n_below
                                           AS DOUBLE)
                                      * CAST(n_above + n_below
                                             AS DOUBLE)
                                      * (CAST(n_above + n_below
                                              AS DOUBLE) - 1))))
                          * 1e6 + 0.5) AS BIGINT)
               END AS z_q6
        FROM agg
    """

    # neyman_allocation: isqrt(N*q - s^2) weights + Hamilton seats —
    # the float sqrt is corrected by two integer comparisons on both
    # engines, so the floor can never flip on a libm ulp
    d["neyman_allocation"] = """
        WITH m AS (
            SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(length(text)) AS BIGINT) AS s,
                   CAST(sum(CAST(length(text) AS BIGINT)
                            * length(text)) AS BIGINT) AS q
            FROM documents GROUP BY 1),
        aw AS (
            SELECT lang, n_rows, n_rows * q - s * s AS a FROM m),
        w0 AS (
            SELECT *, CAST(floor(sqrt(CAST(a AS DOUBLE))) AS BIGINT)
                       AS c0
            FROM aw),
        w1 AS (
            SELECT *, CASE WHEN (c0 + 1) * (c0 + 1) <= a THEN c0 + 1
                           ELSE c0 END AS c1
            FROM w0),
        wt AS (
            SELECT lang, n_rows, a,
                   CASE WHEN c1 * c1 > a THEN c1 - 1 ELSE c1 END AS w
            FROM w1),
        tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wt),
        st AS (
            SELECT lang, n_rows, a, w,
                   CAST(500 * w // tw AS BIGINT) AS base,
                   CAST(500 * w % tw AS BIGINT) AS rem
            FROM wt, tot),
        lv AS (SELECT 500 - CAST(sum(base) AS BIGINT) AS leftn FROM st),
        rk AS (
            SELECT *, row_number() OVER (ORDER BY rem DESC, lang ASC)
                       AS rn
            FROM st)
        SELECT lang, n_rows, a, w, base,
               CAST(CASE WHEN rn <= (SELECT leftn FROM lv)
                          AND rem > 0 THEN 1 ELSE 0 END AS BIGINT)
                   AS extra,
               base + CAST(CASE WHEN rn <= (SELECT leftn FROM lv)
                                 AND rem > 0 THEN 1 ELSE 0 END
                           AS BIGINT) AS alloc
        FROM rk
    """

    # chunk_documents: 64-token / 16-overlap windows, md5-pinned
    # reassembly, stub chunks dropped — stride 48
    d["chunk_documents"] = """
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS w,
                   generate_subscripts(string_split(text, ' '), 1) - 1
                       AS p
            FROM documents),
        a AS (
            SELECT doc_id, p, w,
                   unnest(range(
                       greatest(0, CAST(ceil((p - 63) / 48.0)
                                        AS BIGINT)),
                       (p // 48) + 1)) AS chunk_id
            FROM tok),
        f AS (
            SELECT * FROM a
            WHERE p >= chunk_id * 48 AND p < chunk_id * 48 + 64),
        g AS (
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(min(p) AS BIGINT) AS first_pos,
                   CAST(max(p) AS BIGINT) AS last_pos,
                   md5(string_agg(w, ' ' ORDER BY p)) AS chunk_md5
            FROM f GROUP BY 1, 2)
        SELECT doc_id, chunk_id, n_tokens, first_pos, last_pos,
               chunk_md5
        FROM g
        WHERE chunk_id = 0 OR last_pos >= (chunk_id - 1) * 48 + 64
    """

    # streaming_enrich: stream-static broadcast enrichment == batch SQL
    d["streaming_enrich"] = """
        SELECT CAST(n.n_regionkey AS BIGINT) AS region,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(e.user_id) AS BIGINT) AS uid_sum
        FROM events e
        JOIN nation n ON e.user_id % 25 = n.n_nationkey
        GROUP BY 1
    """

    # quality_classifier: hashed linear scoring — md5-prefix buckets
    # (the dsir discipline), Knuth-multiplicative weight fixture,
    # exact integer logits, threshold keep flag
    d["quality_classifier"] = """
        WITH tok AS (
            SELECT doc_id,
                   CAST(concat('0x', substring(md5(w), 1, 13)) AS BIGINT)
                     % 256 AS b
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS w
                  FROM documents)),
        per_doc AS (
            SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c
            FROM tok GROUP BY 1, 2),
        wt AS (
            SELECT b, (b * 2654435761) % 2001 - 1000 AS w
            FROM (SELECT unnest(range(256)) AS b)),
        doc AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(sum(c * w) AS BIGINT) AS logit
            FROM per_doc JOIN wt USING (b) GROUP BY 1)
        SELECT doc_id, n_tokens, logit, logit > 0 AS keep
        FROM doc
    """
    d["cusum_pinned"] = f"""
        SELECT event_type, idx, direction
        FROM read_parquet('{_dump_path("cusum_oracle")}')
    """
    d["pelt_changepoints"] = f"""
        SELECT event_type, cp_rank, cp_idx, n
        FROM read_parquet('{_dump_path("pelt_oracle")}')
    """
    d["matrix_profile_pinned"] = f"""
        SELECT event_type, rank, idx, mp_q6
        FROM read_parquet('{_dump_path("mp_oracle")}')
    """
    d["motifs_pinned"] = f"""
        SELECT event_type, rank, idx_a, idx_b, mp_q6
        FROM read_parquet('{_dump_path("motifs_oracle")}')
    """
    d["kcore"] = f"""
        SELECT node, core
        FROM read_parquet('{_dump_path("kcore_oracle")}')
    """
    d["trigram_search"] = """
        SELECT doc_id,
               CAST(strpos(lower(text), 'value table') AS BIGINT) AS pos
        FROM documents
        WHERE strpos(lower(text), 'value table') > 0
    """
    d["html_metadata"] = """
        WITH h AS (
          SELECT doc_id,
            '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
            || '</title>'
            || CASE WHEN doc_id % 3 = 0
                    THEN '<meta name="description" content="summary '
                         || CAST(doc_id AS VARCHAR) || '">'
                    WHEN doc_id % 3 = 1
                    THEN '<meta content=''rev ' || CAST(doc_id AS VARCHAR)
                         || ''' name=''description''>'
                    ELSE '' END
            || CASE WHEN doc_id % 2 = 0
                    THEN '<link rel="canonical" href="https://c.example/'
                         || CAST(doc_id AS VARCHAR) || '">'
                    ELSE '' END
            || CASE WHEN doc_id % 7 = 0
                    THEN '<meta name=''robots'' content=''noindex,nofollow''>'
                    ELSE '' END
            || CASE WHEN doc_id % 5 = 0
                    THEN '<script type="application/ld+json">{}</script>'
                    ELSE '' END
            || '</head><body>x</body></html>' AS html
          FROM documents),
        m AS (
          SELECT doc_id,
            NULLIF(regexp_extract(html,
                '(?is)<title[^>]*>(.*?)</title', 1), '') AS t0,
            COALESCE(
              NULLIF(regexp_extract(html,
                '(?is)<meta[^>]*name=["'']description["''][^>]*content=["'']([^"'']*)',
                1), ''),
              NULLIF(regexp_extract(html,
                '(?is)<meta[^>]*content=["'']([^"'']*)["''][^>]*name=["'']description["'']',
                1), '')) AS meta_description,
            COALESCE(
              NULLIF(regexp_extract(html,
                '(?is)<link[^>]*rel=["'']canonical["''][^>]*href=["'']([^"'']*)',
                1), ''),
              NULLIF(regexp_extract(html,
                '(?is)<link[^>]*href=["'']([^"'']*)["''][^>]*rel=["'']canonical["'']',
                1), '')) AS canonical_url,
            (regexp_matches(html,
                '(?is)<meta[^>]*name=["'']robots["''][^>]*content=["''][^"'']*noindex')
             OR regexp_matches(html,
                '(?is)<meta[^>]*content=["''][^"'']*noindex[^"'']*["''][^>]*name=["'']robots["'']'))
                AS noindex,
            CAST(len(regexp_extract_all(html,
                '(?is)<script[^>]*type=["'']application/ld\\+json["'']'))
                AS BIGINT) AS n_jsonld
          FROM h)
        SELECT doc_id,
               CASE WHEN t0 IS NOT NULL THEN
                 regexp_replace(regexp_replace(t0, '\\s+', ' ', 'g'),
                                '^ | $', '', 'g') END AS title,
               meta_description, canonical_url, noindex, n_jsonld
        FROM m
    """
    d["ip_range_lookup"] = """
        WITH e AS (
          SELECT event_id,
                 CAST((user_id * 2654435761) % 4294967296 AS BIGINT) AS ip
          FROM events),
        r AS (
          SELECT n_name AS geo,
                 CAST(n_nationkey AS BIGINT) * 171798691 AS lo,
                 CAST(n_nationkey AS BIGINT) * 171798691 + 120000000 AS hi
          FROM nation)
        SELECT e.event_id, e.ip, r.geo
        FROM e JOIN r ON e.ip BETWEEN r.lo AND r.hi
    """
    d["transition_matrix"] = """
        WITH p AS (
          SELECT lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_type,
                 event_type AS type
          FROM events),
        c AS (
          SELECT prev_type, type, CAST(count(*) AS BIGINT) AS n
          FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        SELECT prev_type, type, n,
               CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT)
                   AS row_total
        FROM c
    """
    d["shuffle_skew_report"] = """
        WITH k AS (
          SELECT md5(CAST(user_id AS VARCHAR)) AS h,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1)
        SELECT substr(h, 1, 2) AS bucket,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(max(n) AS BIGINT) AS max_key_rows
        FROM k GROUP BY 1
    """
    d["wow_delta"] = """
        WITH c AS (
          SELECT event_type,
                 CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600
                     AS bucket_sec,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        j AS (
          SELECT COALESCE(a.event_type, b.event_type) AS event_type,
                 COALESCE(a.bucket_sec, b.bucket_sec + 604800)
                     AS bucket_ts,
                 COALESCE(a.n, 0) AS n_cur,
                 COALESCE(b.n, 0) AS n_prev
          FROM c a FULL OUTER JOIN c b
            ON a.event_type = b.event_type
           AND a.bucket_sec = b.bucket_sec + 604800)
        SELECT event_type, bucket_ts,
               CAST(n_cur AS BIGINT) AS n_cur,
               CAST(n_prev AS BIGINT) AS n_prev,
               CAST(n_cur - n_prev AS BIGINT) AS delta
        FROM j
    """
    d["ab_test"] = """
        WITH b AS (
          SELECT event_type,
                 substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4','5','6','7') AS in_a,
                 (value > 50) AS s
          FROM events),
        a AS (
          SELECT event_type,
                 CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_a,
                 CAST(sum(CASE WHEN in_a AND s THEN 1 ELSE 0 END)
                      AS BIGINT) AS x_a,
                 CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_b,
                 CAST(sum(CASE WHEN NOT in_a AND s THEN 1 ELSE 0 END)
                      AS BIGINT) AS x_b
          FROM b GROUP BY 1),
        f AS (
          SELECT *,
                 CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
                 CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
                 CAST(x_a + x_b AS DOUBLE)
                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pool
          FROM a),
        g AS (
          SELECT *,
                 sqrt(pool * (1.0 - pool)
                      * (1.0 / CAST(n_a AS DOUBLE)
                         + 1.0 / CAST(n_b AS DOUBLE))) AS denom
          FROM f)
        SELECT event_type, n_a, x_a, n_b, x_b,
               CASE WHEN n_a > 0 THEN pa END AS rate_a,
               CASE WHEN n_b > 0 THEN pb END AS rate_b,
               CASE WHEN n_a > 0 AND n_b > 0 AND denom > 0
                    THEN (pa - pb) / denom END AS z
        FROM g
    """
    d["series_churn"] = """
        WITH a AS (
          SELECT DISTINCT event_type AS metric, user_id AS series,
                 CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400
                     AS day_sec
          FROM events),
        f AS (
          SELECT *, min(day_sec) OVER (PARTITION BY metric, series)
                        AS first_day
          FROM a)
        SELECT metric, day_sec,
               CAST(count(*) AS BIGINT) AS n_active,
               CAST(sum(CASE WHEN day_sec = first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_new,
               CAST(count(*)
                    - sum(CASE WHEN day_sec = first_day THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_returning
        FROM f GROUP BY 1, 2
    """
    d["histogram_quantile"] = """
        WITH les AS (
          SELECT unnest([1.0, 5.0, 25.0, 125.0,
                         CAST('inf' AS DOUBLE)]) AS le),
        b AS (
          SELECT event_type,
                 CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600
                     AS bucket_sec,
                 le,
                 CAST(sum(CASE WHEN value <= le THEN 1 ELSE 0 END)
                      AS BIGINT) AS cum
          FROM events CROSS JOIN les
          GROUP BY 1, 2, 3),
        w AS (
          SELECT event_type, bucket_sec, le, cum,
                 lag(le)  OVER win AS prev_le,
                 lag(cum) OVER win AS prev_cum,
                 max(cum) OVER (PARTITION BY event_type, bucket_sec)
                     AS total
          FROM b
          WINDOW win AS (PARTITION BY event_type, bucket_sec ORDER BY le)),
        s AS (
          SELECT *, 0.9 * CAST(total AS DOUBLE) AS rnk
          FROM w WHERE total > 0)
        SELECT event_type, bucket_sec,
               total AS n_obs,
               CASE
                 WHEN le = CAST('inf' AS DOUBLE) THEN prev_le
                 WHEN prev_le IS NULL AND le <= 0 THEN le
                 ELSE coalesce(prev_le, 0.0)
                      + (le - coalesce(prev_le, 0.0))
                        * ((rnk - CAST(coalesce(prev_cum, 0) AS DOUBLE))
                           / (CAST(cum AS DOUBLE)
                              - CAST(coalesce(prev_cum, 0) AS DOUBLE)))
               END AS quantile
        FROM s
        WHERE CAST(cum AS DOUBLE) >= rnk
          AND (prev_cum IS NULL OR CAST(prev_cum AS DOUBLE) < rnk)
    """
    d["correlation_matrix"] = """
        WITH g AS (
          SELECT event_type AS m,
                 CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) * 3600 AS b,
                 CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                     AS x
          FROM events GROUP BY 1, 2),
        p AS (
          SELECT a.m AS metric_a, bb.m AS metric_b, a.x AS xa, bb.x AS xb
          FROM g a JOIN g bb ON a.b = bb.b AND a.m < bb.m),
        mom AS (
          SELECT metric_a, metric_b,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 sum(xa) AS sx, sum(xb) AS sy, sum(xa * xb) AS sxy,
                 sum(xa * xa) AS sxx, sum(xb * xb) AS syy
          FROM p GROUP BY 1, 2)
        SELECT metric_a, metric_b, n_buckets,
               (CAST(n_buckets AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n_buckets AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n_buckets AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                   AS r
        FROM mom
        WHERE n_buckets * sxx <> sx * sx AND n_buckets * syy <> sy * sy
    """
    d["label_index_select"] = """
        WITH cat AS (
          SELECT DISTINCT event_type,
                 user_id % 8 AS shard,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) % 5
                     AS kband
          FROM events)
        SELECT event_type || ':' || CAST(shard AS VARCHAR)
                 || ':' || CAST(kband AS VARCHAR) AS series_id,
               event_type, shard, kband
        FROM cat
        WHERE event_type = 'click' AND kband = 2 AND shard <> 3
    """
    d["redirect_resolve"] = """
        WITH RECURSIVE e AS (
          SELECT 'https://ex.com/p' || CAST(doc_id AS VARCHAR) AS src,
                 'https://ex.com/p' || CAST(doc_id - 1 AS VARCHAR) AS dst
          FROM documents WHERE doc_id % 10 <> 0
          UNION ALL
          SELECT 'https://ex.com/p' || CAST(doc_id AS VARCHAR),
                 'https://ex.com/p' || CAST(doc_id + 9 AS VARCHAR)
          FROM documents WHERE doc_id % 100 = 0),
        m AS (SELECT src AS u, min(dst) AS p FROM e GROUP BY 1),
        walk AS (
          SELECT u AS src, p AS cur, CAST(1 AS BIGINT) AS hops FROM m
          UNION ALL
          SELECT w.src, m.p, w.hops + 1
          FROM walk w JOIN m ON w.cur = m.u
          WHERE w.hops < 32),
        term AS (
          SELECT w.src, w.cur AS terminal, w.hops
          FROM walk w ANTI JOIN m ON w.cur = m.u)
        SELECT m.u AS src, t.terminal, t.hops AS n_hops,
               CAST(CASE WHEN t.src IS NULL THEN 0 ELSE 1 END AS INT)
                   AS resolved
        FROM m LEFT JOIN term t ON m.u = t.src
    """
    d["quantile_bands"] = """
        WITH les AS (
          SELECT unnest([1.0, 5.0, 25.0, 125.0,
                         CAST('inf' AS DOUBLE)]) AS le),
        qs AS (SELECT CAST(unnest([0.5, 0.9, 0.99]) AS DOUBLE) AS q),
        b AS (
          SELECT event_type,
                 CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400
                     AS day_sec,
                 le,
                 CAST(sum(CASE WHEN value <= le THEN 1 ELSE 0 END)
                      AS BIGINT) AS cum
          FROM events CROSS JOIN les
          GROUP BY 1, 2, 3),
        w AS (
          SELECT event_type, day_sec, le, cum,
                 lag(le)  OVER win AS prev_le,
                 lag(cum) OVER win AS prev_cum,
                 max(cum) OVER (PARTITION BY event_type, day_sec) AS total
          FROM b
          WINDOW win AS (PARTITION BY event_type, day_sec ORDER BY le)),
        s AS (
          SELECT w.*, q, q * CAST(total AS DOUBLE) AS rnk
          FROM w CROSS JOIN qs WHERE total > 0)
        SELECT event_type, day_sec, q,
               total AS n_obs,
               CASE
                 WHEN le = CAST('inf' AS DOUBLE) THEN prev_le
                 WHEN prev_le IS NULL AND le <= 0 THEN le
                 ELSE coalesce(prev_le, 0.0)
                      + (le - coalesce(prev_le, 0.0))
                        * ((rnk - CAST(coalesce(prev_cum, 0) AS DOUBLE))
                           / (CAST(cum AS DOUBLE)
                              - CAST(coalesce(prev_cum, 0) AS DOUBLE)))
               END AS quantile
        FROM s
        WHERE CAST(cum AS DOUBLE) >= rnk
          AND (prev_cum IS NULL OR CAST(prev_cum AS DOUBLE) < rnk)
    """
    d["staleness_report"] = """
        WITH b AS (
          SELECT event_type AS metric, user_id AS series,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
          FROM events),
        g AS (
          SELECT *, lag(ts_s) OVER (PARTITION BY metric, series
                                    ORDER BY ts_s) AS prev
          FROM b),
        p AS (
          SELECT metric, series,
                 max(ts_s) AS last_ts_sec,
                 CAST(count(*) AS BIGINT) AS n_samples,
                 CAST(sum(CASE WHEN ts_s - prev > 259200 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_gaps
          FROM g GROUP BY 1, 2),
        n AS (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS now_s
              FROM events)
        SELECT metric, series, last_ts_sec, n_samples, n_gaps,
               CAST(CASE WHEN now_s - last_ts_sec > 259200
                         THEN 1 ELSE 0 END AS INT) AS stale
        FROM p CROSS JOIN n
    """
    d["winnow_fingerprints"] = f"""
        SELECT doc_id, fingerprint
        FROM read_parquet('{_dump_path("winnow_oracle")}')
    """
    d["drag_discords"] = f"""
        SELECT event_type, range_start, range_end, peak_q6
        FROM read_parquet('{_dump_path("drag_oracle")}')
    """
    d["holt_winters_pinned"] = f"""
        SELECT event_type, idx, value, fc_q6, resid_q6
        FROM read_parquet('{_dump_path("hw_oracle")}')
    """
    d["dtw_distance"] = f"""
        SELECT key_a, key_b, n_a, n_b, dtw_q6
        FROM read_parquet('{_dump_path("dtw_oracle")}')
    """
    d["minhash_lsh"] = f"""
        SELECT id_a, id_b, est_jaccard
        FROM read_parquet('{_dump_path("minhash_oracle")}')
    """
    # dsir_select: DuckDB does the whole relational half (tokenize, hash
    # bucket, count, join, integer sum, top-n); only the 256-row bucket
    # quanta come from the Spark-free pyarrow/hashlib/math staging
    # (_stage_dsir_quanta) — ln() is evaluated once, in CPython, for both
    # sides, killing the cross-engine last-ulp rounding flake
    d["dsir_select"] = f"""
        WITH tok AS (
          SELECT doc_id,
                 CAST(concat('0x', substring(md5(w), 1, 13)) AS BIGINT)
                   % 256 AS b
          FROM (SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w
                FROM documents)),
        per_doc AS (
          SELECT doc_id, b, count(*) AS dc FROM tok GROUP BY 1, 2),
        lrs AS (
          SELECT b, lr FROM read_parquet('{_dump_path("dsir_quanta_oracle")}')),
        doc AS (
          SELECT doc_id, CAST(sum(dc) AS BIGINT) AS n_tokens,
                 CAST(sum(dc * lr) AS BIGINT) AS lw_q6
          FROM per_doc JOIN lrs USING (b) GROUP BY 1)
        SELECT doc_id, n_tokens, lw_q6,
               row_number() OVER (ORDER BY lw_q6 DESC, doc_id) <= 150
                 AS selected
        FROM doc
    """
    d["simhash_near_pairs"] = f"""
        SELECT id_a, id_b, hamming
        FROM read_parquet('{_dump_path("simhash_pairs_oracle")}')
    """
    d["simhash"] = f"""
        SELECT doc_id, simhash
        FROM read_parquet('{_dump_path("simhash_oracle")}')
    """
    d["ann_ivf"] = f"""
        SELECT query_id, neighbor_id, rank, cosine
        FROM read_parquet('{_dump_path("ann_ivf_oracle")}')
    """
    d["ann_lsh"] = f"""
        SELECT query_id, neighbor_id, rank, cosine
        FROM read_parquet('{_dump_path("ann_lsh_oracle")}')
    """
    d["ann_pq"] = f"""
        SELECT query_id, neighbor_id, rank, score_q6
        FROM read_parquet('{_dump_path("ann_pq_oracle")}')
    """
    d["ann_ivf_pq"] = f"""
        SELECT query_id, neighbor_id, rank, score_q6
        FROM read_parquet('{_dump_path("ann_ivf_pq_oracle")}')
    """
    d["s2g_graph_edges"] = f"""
        SELECT event_type, from_seg, from_idx, to_seg, to_idx, weight
        FROM read_parquet('{_dump_path("s2g_edges_oracle")}')
    """

    # grid resampling: the SAME relational formulation in ANSI SQL (grid
    # generate_series + sample/grid union + two window passes + identical
    # interpolation expression tree) — a true independent-engine oracle,
    # not a staged dump
    def _resample_sql(step: int, locf: bool) -> str:
        value = (
            "pv"
            if locf
            else (
                "CASE WHEN pt = t OR nt = pt THEN pv "
                "ELSE pv + (nv - pv) * (CAST(t - pt AS DOUBLE) / (nt - pt)) END"
            )
        )
        return f"""
            WITH s AS (
              SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t,
                     sum(value) AS sv
              FROM events GROUP BY 1, 2
            ),
            b AS (
              SELECT event_type,
                     (min(t) + {step - 1}) // {step} * {step} AS g0,
                     max(t) // {step} * {step} AS g1
              FROM s GROUP BY 1
            ),
            g AS (
              SELECT event_type, unnest(generate_series(g0, g1, {step})) AS t
              FROM b WHERE g0 <= g1
            ),
            u AS (
              SELECT event_type, t, CAST(NULL AS DOUBLE) AS sv, TRUE AS isg FROM g
              UNION ALL
              SELECT event_type, t, sv, FALSE FROM s
            ),
            w AS (
              SELECT event_type, t, isg,
                last_value(sv IGNORE NULLS) OVER pw AS pv,
                last_value(CASE WHEN NOT isg THEN t END IGNORE NULLS) OVER pw AS pt,
                first_value(sv IGNORE NULLS) OVER nw AS nv,
                first_value(CASE WHEN NOT isg THEN t END IGNORE NULLS) OVER nw AS nt
              FROM u
              WINDOW pw AS (PARTITION BY event_type ORDER BY t, isg
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     nw AS (PARTITION BY event_type ORDER BY t, isg
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_type,
                   strftime(to_timestamp(t), '%Y-%m-%d %H:%M:%S') AS bucket_ts,
                   round({value}, 6) AS v,
                   CAST(pt = t AS INT) AS exact
            FROM w WHERE isg
        """

    d["resample_linear"] = _resample_sql(3600, locf=False)
    d["resample_locf"] = _resample_sql(5400, locf=True)
    d["pattern_search"] = f"""
        SELECT event_type, rank, window_idx, dist_q6
        FROM read_parquet('{_dump_path("pattern_oracle")}')
    """
    d["funnel_steps"] = """
        WITH u1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY 1
        ),
        u2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN u1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > u1.t1 GROUP BY 1
        ),
        u3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN u2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > u2.t2 GROUP BY 1
        )
        SELECT 1 AS step, 'view' AS event_type, count(*) AS users FROM u1
        UNION ALL SELECT 2, 'click', count(*) FROM u2
        UNION ALL SELECT 3, 'purchase', count(*) FROM u3
    """
    d["kmeans_clusters"] = f"""
        SELECT vec_id, cluster, sim_q6
        FROM read_parquet('{_dump_path("kmeans_oracle")}')
    """
    # Gopher quality flags over the staged multi-line corpus: every rule an
    # integer inequality, mirrored expression-for-expression (LIKE prefixes
    # = startswith; (L - len(replace))/3 is exactly integral so the BIGINT
    # cast agrees across DuckDB round / Spark truncate).
    d["gopher_rules"] = f"""
        WITH b AS (
          SELECT doc_id, text,
                 string_split(text, ' ') AS toks,
                 string_split(text, chr(10)) AS lns,
                 length(text) AS l,
                 length(replace(text, '#', '')) AS lh,
                 length(replace(text, '...', '')) AS le
          FROM read_parquet('{_dump_path("weblines_src")}')),
        m AS (
          SELECT doc_id,
                 len(toks) AS n_words,
                 l - (len(toks) - 1) AS swc,
                 CAST((l - lh) + (l - le) / 3 AS BIGINT) AS n_symbols,
                 len(lns) AS n_lines,
                 len(list_filter(lns, x -> x LIKE '- %' OR x LIKE '* %'
                                        OR x LIKE '• %')) AS n_bullet,
                 len(list_filter(lns, x -> x LIKE '%...')) AS n_ell,
                 len(list_filter(toks,
                                 x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                 (CAST(list_contains(toks, 'the') AS INT)
                  + CAST(list_contains(toks, 'be') AS INT)
                  + CAST(list_contains(toks, 'to') AS INT)
                  + CAST(list_contains(toks, 'of') AS INT)
                  + CAST(list_contains(toks, 'and') AS INT)
                  + CAST(list_contains(toks, 'that') AS INT)
                  + CAST(list_contains(toks, 'have') AS INT)
                  + CAST(list_contains(toks, 'with') AS INT)) AS sw
          FROM b)
        SELECT doc_id, n_words,
               (n_words >= 20 AND n_words <= 100000) AS flag_word_count,
               (swc >= 3 * n_words AND swc <= 10 * n_words)
                   AS flag_mean_word_len,
               (10 * n_symbols <= n_words) AS flag_symbol_ratio,
               (10 * n_bullet < 9 * n_lines) AS flag_bullet_lines,
               (10 * n_ell <= 3 * n_lines) AS flag_ellipsis_lines,
               (5 * n_alpha >= 4 * n_words) AS flag_alpha_words,
               (sw >= 2) AS flag_stopwords,
               ((n_words >= 20 AND n_words <= 100000)
                AND (swc >= 3 * n_words AND swc <= 10 * n_words)
                AND (10 * n_symbols <= n_words)
                AND (10 * n_bullet < 9 * n_lines)
                AND (10 * n_ell <= 3 * n_lines)
                AND (5 * n_alpha >= 4 * n_words)
                AND (sw >= 2)) AS keep
        FROM m
    """
    d["c4_clean"] = f"""
        WITH b AS (
          SELECT doc_id, text, string_split(text, chr(10)) AS lns
          FROM read_parquet('{_dump_path("weblines_src")}')),
        k AS (
          SELECT doc_id, text, len(lns) AS n_lines,
                 list_filter(lns, x ->
                     (x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?'
                      OR x LIKE '%"')
                     AND len(string_split(x, ' ')) >= 5
                     AND NOT contains(lower(x), 'javascript')) AS kept
          FROM b)
        SELECT doc_id, n_lines, len(kept) AS n_kept_lines,
               (len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{{')) AS keep_doc,
               COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
        FROM k
    """
    # CCNet terciles: the unigram_logprob CTE chain + per-language ntile on
    # the integer (avg_neglp_q6, doc_id) key — ANSI ntile on both engines.
    d["perplexity_buckets"] = """
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        dt AS (SELECT doc_id, w, count(*) AS dc FROM tok GROUP BY 1, 2),
        v AS (SELECT w, count(*) AS cw FROM tok GROUP BY 1),
        tot AS (SELECT count(*) AS t FROM tok),
        nl AS (
          SELECT w,
                 CAST(floor(-ln(cw / CAST(t AS DOUBLE)) * 1e6 + 0.5)
                      AS BIGINT) AS neglp_q6
          FROM v, tot),
        s AS (
          SELECT doc_id,
                 CAST(floor(sum(dc * neglp_q6)
                            / CAST(sum(dc) AS DOUBLE) + 0.5) AS BIGINT)
                     AS avg_neglp_q6
          FROM dt JOIN nl USING (w) GROUP BY 1),
        j AS (
          SELECT s.doc_id, d.lang, s.avg_neglp_q6
          FROM s JOIN documents d USING (doc_id)),
        r AS (
          SELECT doc_id, lang, avg_neglp_q6,
                 ntile(3) OVER (PARTITION BY lang
                                ORDER BY avg_neglp_q6, doc_id) AS bucket
          FROM j)
        SELECT doc_id, lang, avg_neglp_q6, bucket,
               CASE WHEN bucket = 1 THEN 'head'
                    WHEN bucket = 3 THEN 'tail'
                    ELSE 'middle' END AS bucket_name
        FROM r
    """
    d["semdedup"] = f"""
        SELECT vec_id, cluster, dropped, witness_id
        FROM read_parquet('{_dump_path("semdedup_oracle")}')
    """
    d["bpe_train"] = f"""
        SELECT "rank", "left", "right", merged, pair_count
        FROM read_parquet('{_dump_path("bpe_train_oracle")}')
    """
    d["bpe_encode"] = f"""
        SELECT doc_id, n_words, n_chars, n_bpe_tokens, compression_q6
        FROM read_parquet('{_dump_path("bpe_encode_oracle")}')
    """
    # PMI in sum-of-logs form — the identical expression the Spark side
    # evaluates, over the same exact integer counts
    d["pmi_collocations"] = """
        WITH tok AS (SELECT string_split(text, ' ') AS ts FROM documents),
        pairs AS (
          SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS p
          FROM tok),
        b0 AS (SELECT p[1] AS w1, p[2] AS w2 FROM pairs),
        b AS (SELECT w1, w2, count(*) AS n_xy FROM b0
              WHERE length(w1) > 0 AND length(w2) > 0 GROUP BY 1, 2),
        tot AS (SELECT sum(n_xy) AS t FROM b),
        l AS (SELECT w1, sum(n_xy) AS n_x FROM b GROUP BY 1),
        r AS (SELECT w2, sum(n_xy) AS n_y FROM b GROUP BY 1)
        SELECT b.w1, b.w2, b.n_xy,
               CAST(floor((ln(CAST(n_xy AS DOUBLE)) + ln(CAST(t AS DOUBLE))
                    - ln(CAST(n_x AS DOUBLE)) - ln(CAST(n_y AS DOUBLE)))
                    * 1e6 + 0.5) AS BIGINT) AS pmi_q6
        FROM b JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN tot
        WHERE n_xy >= 5
    """
    d["ohlc_bars"] = """
        WITH b AS (
          SELECT event_type,
                 (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
                     AS bucket_sec,
                 ts, event_id, value
          FROM events),
        w AS (
          SELECT *,
                 row_number() OVER (PARTITION BY event_type, bucket_sec
                                    ORDER BY ts, event_id) AS rn,
                 row_number() OVER (PARTITION BY event_type, bucket_sec
                                    ORDER BY ts DESC, event_id DESC) AS rrn
          FROM b)
        SELECT event_type, bucket_sec,
               max(CASE WHEN rn = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rrn = 1 THEN value END) AS close,
               count(*) AS n
        FROM w GROUP BY 1, 2
    """
    d["phrase_search_pos"] = """
        WITH tok AS (
          SELECT doc_id,
                 generate_subscripts(ts, 1) - 1 AS pos,
                 unnest(ts) AS w
          FROM (SELECT doc_id, string_split(text, ' ') AS ts
                FROM documents)),
        l AS (
          SELECT doc_id, pos, w,
                 lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                 lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
          FROM tok)
        SELECT doc_id, count(*) AS n_matches, min(pos) AS first_pos
        FROM l
        WHERE w = 'slow' AND w1 = 'hash' AND w2 = 'batch'
        GROUP BY 1
    """
    # PSI over the tv_drift grid: identical CTE chain, ln-based finalizer
    # with per-bin nano-unit quantization before the exact integer sum
    d["psi_drift"] = """
        WITH b AS (
            SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
        ev AS (
            SELECT e.event_type, e.value, epoch_us(e.ts) AS t_us,
                   (epoch_us(e.ts) < b.t0 + 604800000000) AS is_base
            FROM events e JOIN b USING (event_type)),
        bs AS (
            SELECT event_type, min(value) AS v_lo, max(value) AS v_hi
            FROM ev WHERE is_base GROUP BY 1),
        binned AS (
            SELECT ev.*,
                   CASE WHEN v_hi = v_lo THEN 0
                        ELSE least(9, greatest(0, CAST(floor(
                            (value - v_lo) / ((v_hi - v_lo) / 10.0))
                            AS INT)))
                   END AS bin
            FROM ev JOIN bs USING (event_type)),
        mh AS (
            SELECT event_type, bin, count(*) AS m_i
            FROM binned WHERE is_base GROUP BY 1, 2),
        mt AS (SELECT event_type, sum(m_i) AS m_total FROM mh GROUP BY 1),
        nh AS (
            SELECT event_type, (t_us // 86400000000) * 86400 AS ws, bin,
                   count(*) AS n_i
            FROM binned WHERE NOT is_base GROUP BY 1, 2, 3),
        nt AS (
            SELECT event_type, ws, sum(n_i) AS n_total
            FROM nh GROUP BY 1, 2),
        grid AS (
            SELECT nt.event_type, nt.ws, nt.n_total, g.bin
            FROM nt, (SELECT unnest(range(0, 10)) AS bin) g),
        j AS (
            SELECT grid.event_type, grid.ws,
                   CAST(grid.n_total AS BIGINT) AS n_total,
                   CAST(mt.m_total AS BIGINT) AS m_total,
                   CAST(coalesce(nh.n_i, 0) AS BIGINT) AS n_i,
                   CAST(coalesce(mh.m_i, 0) AS BIGINT) AS m_i
            FROM grid
            LEFT JOIN nh ON nh.event_type = grid.event_type
                        AND nh.ws = grid.ws AND nh.bin = grid.bin
            LEFT JOIN mh ON mh.event_type = grid.event_type
                        AND mh.bin = grid.bin
            JOIN mt ON mt.event_type = grid.event_type),
        t AS (
            SELECT event_type, ws, n_total, m_total,
                   CAST(floor(
                       (CAST(n_i + 1 AS DOUBLE) / CAST(n_total + 10 AS DOUBLE)
                        - CAST(m_i + 1 AS DOUBLE) / CAST(m_total + 10 AS DOUBLE))
                       * (ln(CAST(n_i + 1 AS DOUBLE) * CAST(m_total + 10 AS DOUBLE))
                          - ln(CAST(m_i + 1 AS DOUBLE) * CAST(n_total + 10 AS DOUBLE)))
                       * 1e9 + 0.5) AS BIGINT) AS term_q9
            FROM j)
        SELECT event_type, CAST(ws AS BIGINT) AS ws,
               CAST(sum(term_q9) AS BIGINT) AS psi_q9,
               n_total AS n_period,
               m_total AS n_baseline
        FROM t GROUP BY event_type, ws, n_total, m_total
    """
    # blocked fuzzy join: same blocking + integer levenshtein, no floats
    d["fuzzy_pairs"] = """
        WITH h AS (
          SELECT lower(source || CASE WHEN doc_id % 3 = 0
                                      THEN '.exampel.com'
                                      ELSE '.example.com' END) AS host,
                 min(doc_id) AS hid
          FROM documents GROUP BY 1),
        e AS (
          SELECT hid, host,
                 lower(substring(host, 1, 3)) AS pfx,
                 length(host) // 4 AS lb
          FROM h),
        blocked AS (
          SELECT hid, host, pfx, unnest([lb, lb - 1]) AS blk FROM e),
        cand AS (
          SELECT DISTINCT a.hid AS id_a, b.hid AS id_b,
                 a.host AS str_a, b.host AS str_b
          FROM blocked a JOIN blocked b USING (pfx, blk)
          WHERE a.hid < b.hid)
        SELECT id_a, id_b, str_a, str_b,
               levenshtein(str_a, str_b) AS dist
        FROM cand
        WHERE levenshtein(str_a, str_b) <= 2
    """
    d["embedding_pca"] = f"""
        SELECT vec_id, pc1_q6, pc2_q6, pc3_q6, pc4_q6
        FROM read_parquet('{_dump_path("embedding_pca_oracle")}')
    """
    d["snapshot_diff"] = """
        WITH b AS (
            SELECT event_id, event_type,
                   (epoch_us(ts) // 3600000000) * 3600 AS hb
            FROM events),
        v0 AS (
            SELECT event_type, hb, count(*) AS dc FROM b
            WHERE event_id % 5 != 0 GROUP BY 1, 2),
        v1 AS (
            SELECT event_type, hb, count(*) AS dc FROM b GROUP BY 1, 2)
        SELECT CASE WHEN v0.hb IS NULL THEN 'added'
                    WHEN v1.hb IS NULL THEN 'removed'
                    WHEN v0.dc = v1.dc THEN 'unchanged'
                    ELSE 'changed' END AS change,
               coalesce(v0.event_type, v1.event_type) AS event_type,
               CAST(coalesce(v0.hb, v1.hb) AS BIGINT) AS hb,
               v0.dc AS old_doc_count,
               v1.dc AS new_doc_count
        FROM v0 FULL OUTER JOIN v1
          ON v0.event_type = v1.event_type AND v0.hb = v1.hb
    """
    # Flesch reading ease: three exact integer counts, one fixed float
    # closed form quantized to q3 (sign*floor(|x|*1e3+0.5)) — identical
    # expression both engines; 'g' flag makes DuckDB regexp_replace global
    # like Spark's
    d["readability"] = f"""
        WITH c AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 greatest(1, length(text)
                          - length(translate(text, '.!?', ''))) AS n_sentences,
                 regexp_replace(lower(text), '[aeiouy]+', '#', 'g') AS coll
          FROM read_parquet('{_dump_path("weblines_src")}')),
        m AS (
          SELECT doc_id, n_words, n_sentences,
                 length(coll) - length(replace(coll, '#', '')) AS n_syllables
          FROM c),
        s AS (
          SELECT *,
                 206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CAST(n_syllables AS DOUBLE)
                           / CAST(n_words AS DOUBLE)) AS score
          FROM m)
        SELECT doc_id, n_words,
               CAST(n_sentences AS INT) AS n_sentences,
               CAST(n_syllables AS INT) AS n_syllables,
               CAST(sign(score) * floor(abs(score) * 1e3 + 0.5) AS BIGINT)
                   AS flesch_q3
        FROM s
    """
    # streaming CUSUM == SQL window: r via floor(sqrt)+Newton step (exact
    # isqrt, matching the stream's math.isqrt), then cumsum + running min
    d["streaming_cusum"] = """
        WITH e AS (
          SELECT event_id, event_type, user_id % 997 AS x, ts FROM events),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) AS rn
          FROM e),
        base AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS b,
                 CAST(sum(x) AS BIGINT) AS s,
                 CAST(sum(x * x) AS BIGINT) AS q
          FROM rk WHERE rn <= 30 GROUP BY 1),
        rr AS (
          SELECT event_type, b, s, b * q - s * s AS sd2,
                 CAST(floor(sqrt(CAST(b * q - s * s AS DOUBLE))) AS BIGINT)
                     AS r0
          FROM base WHERE b = 30 AND b * q - s * s > 0),
        rx AS (
          SELECT event_type, b, s,
                 CASE WHEN r0 * r0 > sd2 THEN r0 - 1
                      WHEN (r0 + 1) * (r0 + 1) <= sd2 THEN r0 + 1
                      ELSE r0 END AS r
          FROM rr),
        post AS (
          SELECT rk.event_id, rk.event_type, rk.ts, rk.rn,
                 2 * (rx.b * rk.x - rx.s) AS d2, rx.r
          FROM rk JOIN rx USING (event_type) WHERE rk.rn > 30),
        w AS (
          SELECT event_id, event_type, ts, r,
                 sum(d2 - r) OVER wdw AS pu,
                 sum(-d2 - r) OVER wdw AS pn
          FROM post
          WINDOW wdw AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        f AS (
          SELECT event_id, event_type, r,
                 CAST(pu - least(CAST(0 AS BIGINT), min(pu) OVER wdw)
                      AS BIGINT) AS sp,
                 CAST(pn - least(CAST(0 AS BIGINT), min(pn) OVER wdw)
                      AS BIGINT) AS sn
          FROM w
          WINDOW wdw AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT event_id, event_type, sp, sn,
               sp > 10 * r AS alarm_up,
               sn > 10 * r AS alarm_down
        FROM f
    """
    # trending terms: first vs last crawl of the SAME snapshot derivation
    # crawl_delta mirrors; Laplace log-ratio in sum-of-logs micro-units
    d["trending_terms"] = """
        WITH c2t AS (
            SELECT doc_id, source, text AS t1,
                   CASE WHEN doc_id % 9 = 0
                        THEN 'replacement content for document '
                             || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 5 = 0
                        THEN text || ' appended update paragraph marker'
                        ELSE text END AS t2
            FROM documents),
        old_t AS (
            SELECT unnest(string_split(t1, ' ')) AS term
            FROM c2t WHERE doc_id % 7 <> 0),
        new_t AS (
            SELECT unnest(string_split(
                       CASE WHEN doc_id % 6 = 0 THEN substr(t2, 1, 120)
                            ELSE t2 END, ' ')) AS term
            FROM c2t WHERE doc_id % 11 <> 5),
        oc AS (SELECT term, count(*) AS c_old FROM old_t
               WHERE length(term) > 0 GROUP BY 1),
        nc AS (SELECT term, count(*) AS c_new FROM new_t
               WHERE length(term) > 0 GROUP BY 1),
        j AS (
            SELECT coalesce(oc.term, nc.term) AS term,
                   CAST(coalesce(c_old, 0) AS BIGINT) AS c_old,
                   CAST(coalesce(c_new, 0) AS BIGINT) AS c_new
            FROM oc FULL OUTER JOIN nc ON oc.term = nc.term),
        tot AS (
            SELECT sum(c_old) AS n_old, sum(c_new) AS n_new,
                   count(*) AS v
            FROM j)
        SELECT term, c_old, c_new,
               CAST(floor((ln(CAST(c_new + 1 AS DOUBLE))
                           + ln(CAST(n_old + v AS DOUBLE))
                           - ln(CAST(c_old + 1 AS DOUBLE))
                           - ln(CAST(n_new + v AS DOUBLE))) * 1e6 + 0.5)
                    AS BIGINT) AS trend_q6
        FROM j CROSS JOIN tot
        WHERE c_old + c_new >= 10
    """
    # pruning stats: reproduce the deterministic 64-point chunk layout in
    # SQL and classify each chunk against the same mid-range window
    d["pruning_stats"] = """
        WITH bounds AS (
            SELECT ((CAST(floor(min(epoch(ts))) AS BIGINT) // 3600) * 3600
                    + 24 * 3600) * 1000000 AS t0,
                   ((CAST(floor(max(epoch(ts))) AS BIGINT) // 3600) * 3600
                    - 36 * 3600) * 1000000 AS t1
            FROM events),
        h AS (
            SELECT DISTINCT event_type,
                   (epoch_us(ts) // 3600000000) * 3600000000 AS b_us
            FROM events),
        rk AS (
            SELECT event_type, b_us,
                   (row_number() OVER (PARTITION BY event_type
                                       ORDER BY b_us) - 1) // 64 AS chunk
            FROM h),
        blobs AS (
            SELECT event_type, chunk,
                   min(b_us) AS t_min_us, max(b_us) AS t_max_us,
                   count(*) AS n_points
            FROM rk GROUP BY 1, 2),
        cl AS (
            SELECT event_type, n_points,
                   (t_max_us >= t0 AND t_min_us < t1) AS survives,
                   (t_min_us >= t0 AND t_max_us < t1) AS is_full
            FROM blobs CROSS JOIN bounds)
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_blobs,
               CAST(sum(CASE WHEN NOT survives THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pruned,
               CAST(sum(CASE WHEN is_full THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_full,
               CAST(sum(CASE WHEN survives AND NOT is_full THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_edge,
               CAST(sum(n_points) AS BIGINT) AS points_total,
               CAST(sum(CASE WHEN survives THEN n_points ELSE 0 END)
                    AS BIGINT) AS points_decoded
        FROM cl GROUP BY 1
    """
    d["asap_smooth"] = f"""
        SELECT event_type, n_points, w_opt, roughness_q6, kurtosis_q6
        FROM read_parquet('{_dump_path("asap_oracle")}')
    """
    # point-in-time SCD2 enrichment: intervals over the non-purchase
    # stream, purchases range-joined to the containing interval
    d["scd2_asof_join"] = """
        WITH ordered AS (
            SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
                   lag(event_type) OVER
                       (PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) AS prev
            FROM events WHERE event_type <> 'purchase'),
        changes AS (
            SELECT user_id, event_type, tus, event_id FROM ordered
            WHERE prev IS DISTINCT FROM event_type),
        dim AS (
            SELECT user_id, event_type AS browse_state,
                   CAST(tus AS BIGINT) AS valid_from,
                   CAST(lead(tus) OVER
                        (PARTITION BY user_id ORDER BY tus, event_id)
                        AS BIGINT) AS valid_to
            FROM changes),
        facts AS (
            SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS tus
            FROM events WHERE event_type = 'purchase')
        SELECT f.event_id, f.user_id, d.browse_state,
               d.valid_from AS state_valid_from
        FROM facts f LEFT JOIN dim d
          ON f.user_id = d.user_id
         AND f.tus >= d.valid_from
         AND (d.valid_to IS NULL OR f.tus < d.valid_to)
    """
    # hysteresis alerting: gaps-and-islands runs, in-run positions, an
    # alternation filter over the fire/clear event stream — pure windows
    d["alert_hysteresis"] = """
        WITH h AS (
            SELECT event_type,
                   (epoch_us(ts) // 3600000000) * 3600000000 AS b_us,
                   count(*) AS doc_count
            FROM events GROUP BY 1, 2),
        t0 AS (SELECT event_type, min(b_us) AS t0_us FROM h GROUP BY 1),
        base AS (
            SELECT h.event_type, count(*) AS b, sum(doc_count) AS s
            FROM h JOIN t0 USING (event_type)
            WHERE h.b_us < t0.t0_us + 7 * 86400000000 GROUP BY 1),
        fl AS (
            SELECT h.event_type, h.b_us, h.doc_count,
                   (2 * base.b * h.doc_count > 3 * base.s) AS breach,
                   row_number() OVER (PARTITION BY h.event_type
                                      ORDER BY h.b_us) AS rn
            FROM h JOIN base USING (event_type)),
        fl2 AS (
            SELECT *, rn - row_number() OVER (
                       PARTITION BY event_type, breach ORDER BY b_us) AS grp
            FROM fl),
        ev AS (
            SELECT event_type, b_us, breach,
                   row_number() OVER (PARTITION BY event_type, breach, grp
                                      ORDER BY b_us) AS pos
            FROM fl2),
        evf AS (
            SELECT event_type, b_us, breach FROM ev
            WHERE (breach AND pos = 3) OR (NOT breach AND pos = 2)),
        alt AS (
            SELECT *, lag(breach) OVER (PARTITION BY event_type
                                        ORDER BY b_us) AS prev
            FROM evf),
        kept AS (
            SELECT event_type, b_us, breach,
                   lead(b_us) OVER (PARTITION BY event_type
                                    ORDER BY b_us) AS next_us
            FROM alt WHERE prev IS NULL OR prev <> breach)
        SELECT event_type,
               CAST(b_us // 1000000 AS BIGINT) AS fired_s,
               CAST(next_us // 1000000 AS BIGINT) AS cleared_s
        FROM kept WHERE breach
    """
    # rolling-origin backtest: folds from the series end, wall-clock
    # seasonal self-join, exact integer errors + one quantized ratio
    d["rolling_backtest"] = """
        WITH h AS (
            SELECT event_type,
                   (epoch_us(ts) // 3600000000) * 3600000000 AS b_us,
                   count(*) AS y
            FROM events GROUP BY 1, 2),
        o AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY b_us DESC) AS rnd,
                   lag(y) OVER (PARTITION BY event_type
                                ORDER BY b_us) AS yprev
            FROM h),
        cur AS (
            SELECT event_type, b_us, y, yprev,
                   CAST((rnd - 1) // 24 AS INT) + 1 AS fold
            FROM o WHERE rnd <= 96),
        j AS (
            SELECT cur.*, p.y AS ysea
            FROM cur LEFT JOIN h p
              ON p.event_type = cur.event_type
             AND p.b_us + 604800000000 = cur.b_us),
        per AS (
            SELECT event_type, fold,
                   CAST(sum(CASE WHEN ysea IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_scored,
                   CAST(sum(CASE WHEN ysea IS NOT NULL
                                 THEN abs(y - ysea) ELSE 0 END)
                        AS BIGINT) AS sae_seasonal,
                   CAST(sum(CASE WHEN yprev IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_persist,
                   CAST(sum(CASE WHEN yprev IS NOT NULL
                                 THEN abs(y - yprev) ELSE 0 END)
                        AS BIGINT) AS sae_persist
            FROM j GROUP BY 1, 2)
        SELECT event_type, fold, n_scored, sae_seasonal, n_persist,
               sae_persist,
               CASE WHEN sae_persist > 0 AND n_scored > 0
                    THEN CAST(floor(1e6 * CAST(sae_seasonal AS DOUBLE)
                                    * CAST(n_persist AS DOUBLE)
                                    / (CAST(sae_persist AS DOUBLE)
                                       * CAST(n_scored AS DOUBLE)) + 0.5)
                              AS BIGINT)
               END AS skill_q6
        FROM per
    """
    d["data_contract"] = """
        WITH a AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS v1,
                   CAST(count(event_id) - count(DISTINCT event_id)
                        AS BIGINT) AS v2,
                   CAST(sum(CASE WHEN value IS NOT NULL AND value < 0.0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v3,
                   CAST(sum(CASE WHEN value IS NOT NULL AND value > 50.0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v4,
                   CAST(sum(CASE WHEN event_type IS NOT NULL
                                 AND event_type NOT IN
                                     ('view', 'click', 'purchase')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v5,
                   CAST(sum(CASE WHEN event_type IS NOT NULL
                                 AND NOT regexp_matches(event_type,
                                                        '^[a-z_]+$')
                                 THEN 1 ELSE 0 END) AS BIGINT) AS v6,
                   CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS v7,
                   CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS v8
            FROM events)
        SELECT r.rule_id, r.col AS "column", r.chk AS "check",
               a.n AS n_rows, r.v AS n_violations, r.v = 0 AS passed
        FROM a, LATERAL (VALUES
            ('r1', 'event_id', 'not_null', a.v1),
            ('r2', 'event_id', 'unique', a.v2),
            ('r3', 'value', 'min', a.v3),
            ('r4', 'value', 'max', a.v4),
            ('r5', 'event_type', 'in_set', a.v5),
            ('r6', 'event_type', 'rlike', a.v6),
            ('r7', 'user_id', 'not_null', a.v7),
            ('r8', 'ts', 'not_null', a.v8)
        ) AS r(rule_id, col, chk, v)
    """
    d["covisitation"] = """
        WITH ui AS (
            SELECT DISTINCT user_id,
                   CAST(json_extract(props, '$.k') AS INT) AS page
            FROM events),
        deg AS (
            SELECT user_id, count(*) AS d FROM ui GROUP BY 1),
        kept AS (
            SELECT ui.user_id, ui.page
            FROM ui JOIN deg USING (user_id) WHERE deg.d <= 50)
        SELECT a.page AS item_a, b.page AS item_b,
               CAST(count(*) AS BIGINT) AS weight
        FROM kept a JOIN kept b
          ON a.user_id = b.user_id AND a.page < b.page
        GROUP BY 1, 2 HAVING count(*) >= 25
    """
    # incremental index == from-scratch index of the LAST crawl
    d["index_delta_merge"] = """
        WITH c2t AS (
            SELECT doc_id, source,
                   CASE WHEN doc_id % 9 = 0
                        THEN 'replacement content for document '
                             || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 5 = 0
                        THEN text || ' appended update paragraph marker'
                        ELSE text END AS t2
            FROM documents),
        c3 AS (
            SELECT 'https://' || source || '/page/'
                       || CAST(doc_id AS VARCHAR) AS doc_key,
                   CASE WHEN doc_id % 6 = 0 THEN substr(t2, 1, 120)
                        ELSE t2 END AS text
            FROM c2t WHERE doc_id % 11 <> 5),
        pairs AS (
            SELECT term, doc_key, count(*) AS tf
            FROM (SELECT doc_key,
                         unnest(string_split(text, ' ')) AS term
                  FROM c3)
            GROUP BY 1, 2)
        SELECT term,
               CAST(count(*) AS BIGINT) AS doc_freq,
               CAST(sum(tf) AS BIGINT) AS total_tf,
               array_to_string(list_sort(list(doc_key)), ',') AS postings
        FROM pairs GROUP BY 1 HAVING count(*) >= 3
    """
    # Hampel: windowed list -> lower median -> MAD from the same window
    d["hampel_filter"] = """
        WITH h AS (
            SELECT event_type,
                   (epoch_us(ts) // 3600000000) * 3600 AS ws,
                   CAST(count(*) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        a AS (
            SELECT event_type, ws, y,
                   list_sort(list(y) OVER wdw) AS arr
            FROM h
            WINDOW wdw AS (PARTITION BY event_type ORDER BY ws
                           ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)),
        m AS (
            SELECT event_type, ws, y, arr,
                   arr[(len(arr) + 1) // 2] AS med
            FROM a),
        d2 AS (
            SELECT event_type, ws, y, med,
                   list_sort(list_transform(arr, v -> abs(v - med))) AS dev
            FROM m)
        SELECT event_type, CAST(ws AS BIGINT) AS ws, y,
               CAST(med AS BIGINT) AS med,
               CAST(dev[(len(dev) + 1) // 2] AS BIGINT) AS mad,
               abs(y - med) > 3 * dev[(len(dev) + 1) // 2] AS is_spike
        FROM d2
    """
    # WAV decode round trip: stats recomputed from the sample FORMULA
    d["wav_decode"] = """
        WITH s AS (
            SELECT d.doc_id AS media_id,
                   ((d.doc_id * 31 + g.i * 17) % 65536) - 32768 AS v
            FROM documents d
            CROSS JOIN (SELECT unnest(range(0, 1000)) AS i) g)
        SELECT media_id,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(1 AS BIGINT) AS n_channels,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(v) AS BIGINT) AS sum_amp,
               CAST(sum(v * v) AS BIGINT) AS sum_sq,
               CAST(max(abs(v)) AS BIGINT) AS peak
        FROM s GROUP BY 1
    """
    # BMP decode round trip: channel stats from the pixel formula
    d["png_decode"] = """
        WITH px AS (
            SELECT d.doc_id AS media_id,
                   (d.doc_id * 13 + r.r * 3 + c.c * 7) % 256 AS vr,
                   (d.doc_id * 13 + r.r * 3 + c.c * 7 + 17) % 256 AS vg,
                   (d.doc_id * 13 + r.r * 3 + c.c * 7 + 34) % 256 AS vb
            FROM documents d
            CROSS JOIN (SELECT unnest(range(0, 12)) AS r) r
            CROSS JOIN (SELECT unnest(range(0, 18)) AS c) c)
        SELECT media_id,
               CAST(18 AS BIGINT) AS width,
               CAST(12 AS BIGINT) AS height,
               CAST(sum(vr) AS BIGINT) AS sum_r,
               CAST(sum(vg) AS BIGINT) AS sum_g,
               CAST(sum(vb) AS BIGINT) AS sum_b,
               CAST(max(2 * vg + vr + vb) AS BIGINT) AS max_lum
        FROM px GROUP BY 1
    """
    # magic-byte sniff: the oracle knows only the fixture's type cycle
    d["content_sniff"] = """
        SELECT doc_id AS media_id,
               CASE doc_id % 8
                 WHEN 0 THEN 'png'  WHEN 1 THEN 'bmp'
                 WHEN 2 THEN 'wav'  WHEN 3 THEN 'pdf'
                 WHEN 4 THEN 'gzip' WHEN 5 THEN 'zip'
                 WHEN 6 THEN 'html' ELSE 'gif'
               END AS sniffed_type
        FROM documents
    """
    # sitemap coverage: recomputed from the synthesis rules, no XML
    d["sitemap_coverage"] = """
        WITH loc AS (
          SELECT doc_id, source,
                 'https://' || source || '.example.com/p?a=1&id='
                   || CAST(doc_id AS VARCHAR) AS u
          FROM documents),
        declared AS (
          SELECT u AS url,
                 CASE WHEN doc_id % 5 = 0 THEN '2025-01-01T00:00:00'
                      ELSE '2023-06-01T00:00:00' END AS lastmod
          FROM loc WHERE doc_id % 3 <> 0
          UNION ALL
          SELECT u || '-ghost' AS url, NULL AS lastmod
          FROM loc WHERE doc_id % 7 = 0),
        d AS (
          SELECT url, max(lastmod) AS lastmod, TRUE AS decl
          FROM declared GROUP BY 1),
        p AS (
          SELECT u AS url,
                 max(TIMESTAMP '2024-01-01 00:00:00'
                     + to_hours(doc_id)) AS last_crawl_ts
          FROM loc GROUP BY 1),
        j AS (
          SELECT coalesce(d.url, p.url) AS url, d.lastmod, d.decl,
                 p.last_crawl_ts
          FROM d FULL OUTER JOIN p ON d.url = p.url)
        SELECT url,
               CASE
                 WHEN last_crawl_ts IS NULL THEN 'gap'
                 WHEN decl IS NULL THEN 'orphan'
                 WHEN lastmod IS NOT NULL
                      AND lastmod > strftime(last_crawl_ts,
                                             '%Y-%m-%dT%H:%M:%S')
                   THEN 'stale'
                 ELSE 'ok'
               END AS status,
               lastmod,
               CAST(floor(epoch(last_crawl_ts)) AS BIGINT)
                   AS last_crawl_epoch
        FROM j
    """
    # resets()/changes(): pair chain + bounded grid, mirrored
    d["promql_resets"] = """
        WITH s AS (
          SELECT event_type, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_e,
                 CAST(floor(value * 10) AS BIGINT) AS v
          FROM events),
        p AS (
          SELECT *,
                 lag(ts_e) OVER w AS prev_ts,
                 lag(v) OVER w AS prev_v
          FROM s
          WINDOW w AS (PARTITION BY event_type ORDER BY ts_e, event_id)),
        e AS (
          SELECT p.*,
                 ((ts_e + 3599) // 3600) * 3600 + j.j * 3600 AS eval_ts
          FROM p, (SELECT unnest([0, 1]) AS j) j
          WHERE ((ts_e + 3599) // 3600) * 3600 + j.j * 3600
                < ts_e + 7200)
        SELECT event_type, eval_ts,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(CASE WHEN prev_ts IS NOT NULL
                              AND prev_ts > eval_ts - 7200
                              AND v < prev_v THEN 1 ELSE 0 END)
                    AS BIGINT) AS resets,
               CAST(sum(CASE WHEN prev_ts IS NOT NULL
                              AND prev_ts > eval_ts - 7200
                              AND v <> prev_v THEN 1 ELSE 0 END)
                    AS BIGINT) AS changes
        FROM e GROUP BY 1, 2
    """
    # shared re-delivery CTE for the two ingest queries
    _redeliver = """
        WITH base AS (
          SELECT event_type, user_id % 8 AS shard,
                 CAST(floor(epoch(ts)) AS BIGINT) AS ts_e,
                 event_id * 10 AS ver,
                 CAST(floor(value * 100) AS BIGINT) AS v, user_id,
                 event_id
          FROM events),
        allw AS (
          SELECT event_type, shard, ts_e, ver, v FROM base
          UNION ALL
          SELECT event_type, shard, ts_e, ver + 5, v + 1
          FROM base WHERE user_id % 3 = 0
          UNION ALL
          SELECT event_type, shard, ts_e, -(event_id + 1), v - 1
          FROM base WHERE user_id % 7 = 0)
    """
    d["lww_compact"] = _redeliver + """
        , r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY event_type, shard, ts_e
                                    ORDER BY ver DESC, v DESC) AS rn,
                 count(*) OVER (PARTITION BY event_type, shard, ts_e)
                     AS nw
          FROM allw)
        SELECT event_type, shard, ts_e, v, ver,
               CAST(nw AS BIGINT) AS n_writes
        FROM r WHERE rn = 1
    """
    d["ooo_stats"] = _redeliver + """
        , o AS (
          SELECT *,
                 max(ts_e) OVER (PARTITION BY event_type, shard
                                 ORDER BY ver
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS pm
          FROM allw)
        SELECT event_type, shard,
               CAST(count(*) AS BIGINT) AS n_arrivals,
               CAST(count(DISTINCT ts_e) AS BIGINT) AS n_points,
               CAST(sum(CASE WHEN pm IS NOT NULL AND ts_e <= pm
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_out_of_order,
               CAST(max(CASE WHEN pm IS NOT NULL AND ts_e <= pm
                             THEN pm - ts_e ELSE 0 END) AS BIGINT)
                   AS max_backwards_s
        FROM o GROUP BY 1, 2
    """
    # frontcode roundtrip: decoded rows must equal SELECT DISTINCT
    d["frontcode_urls"] = """
        SELECT DISTINCT source,
               'https://www.' || source || '.example.com/articles/'
                 || lang || '/' || CAST(doc_id % 50 AS VARCHAR)
                 || '/item-' || CAST(doc_id AS VARCHAR) AS url
        FROM documents
    """
    # exp-histogram quantile band: buckets -> cum counts -> interp
    d["exp_hist_quantile"] = """
        WITH b AS (
          SELECT event_type,
                 CASE WHEN CAST(floor(value) AS BIGINT) <= 0 THEN 0
                      ELSE length(bin(CAST(floor(value) AS BIGINT)))
                 END AS bucket
          FROM events),
        h AS (
          SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
          FROM b GROUP BY 1, 2),
        cw0 AS (
          SELECT event_type,
                 power(2.0, CAST(bucket AS DOUBLE)) AS le,
                 CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
                     AS cum
          FROM h),
        cw AS (
          SELECT * FROM cw0
          UNION ALL
          SELECT event_type, CAST('inf' AS DOUBLE) AS le,
                 CAST(sum(n) AS BIGINT) AS cum
          FROM h GROUP BY event_type),
        w AS (
          SELECT event_type, le, cum,
                 lag(le)  OVER win AS prev_le,
                 lag(cum) OVER win AS prev_cum,
                 max(cum) OVER (PARTITION BY event_type) AS total
          FROM cw
          WINDOW win AS (PARTITION BY event_type ORDER BY le)),
        qs AS (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS q),
        s AS (
          SELECT w.*, q, q * CAST(total AS DOUBLE) AS rnk
          FROM w CROSS JOIN qs WHERE total > 0)
        SELECT event_type, q, total AS n_obs,
               CASE
                 WHEN le = CAST('inf' AS DOUBLE) THEN prev_le
                 WHEN prev_le IS NULL AND le <= 0 THEN le
                 ELSE coalesce(prev_le, 0.0)
                      + (le - coalesce(prev_le, 0.0))
                        * ((rnk - CAST(coalesce(prev_cum, 0) AS DOUBLE))
                           / (CAST(cum AS DOUBLE)
                              - CAST(coalesce(prev_cum, 0) AS DOUBLE)))
               END AS quantile
        FROM s
        WHERE CAST(cum AS DOUBLE) >= rnk
          AND (prev_cum IS NULL OR CAST(prev_cum AS DOUBLE) < rnk)
    """
    d["lww_tier"] = _redeliver + """
        , r AS (
          SELECT *,
                 row_number() OVER (PARTITION BY event_type, shard, ts_e
                                    ORDER BY ver DESC, v DESC) AS rn,
                 count(*) OVER (PARTITION BY event_type, shard, ts_e)
                     AS nw
          FROM allw),
        winners AS (SELECT * FROM r WHERE rn = 1)
        SELECT event_type,
               CAST(floor(ts_e / 3600) AS BIGINT) * 3600 AS hour_e,
               CAST(sum(v) AS BIGINT) AS v_sum,
               CAST(count(*) AS BIGINT) AS n_points,
               CAST(sum(nw) AS BIGINT) AS n_writes
        FROM winners GROUP BY 1, 2
    """
    # CDX: SURT + capture selection recomputed from the rules, no CDXJ
    d["cdx_captures"] = """
        WITH c AS (
          SELECT doc_id AS did, source,
                 'https://www.' || source || '.Example.com'
                   || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
                   || '/Page/' || CAST(doc_id % 50 AS VARCHAR)
                   || '?Ref=A' AS url,
                 20240101000000 + doc_id AS cdx_ts,
                 CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS status,
                 'sha1:D' || CAST(doc_id % 7 AS VARCHAR) AS digest
          FROM documents),
        surt AS (
          SELECT c.*,
                 array_to_string(
                   list_reverse(
                     string_split(lower(source) || '.example.com', '.')),
                   ',')
                 || ')/page/' || CAST(did % 50 AS VARCHAR) || '?ref=a'
                     AS surt
          FROM c),
        ok AS (SELECT * FROM surt WHERE status BETWEEN 200 AND 299),
        newest AS (
          SELECT surt,
                 CAST(count(*) AS BIGINT) AS n_captures,
                 CAST(count(DISTINCT digest) AS BIGINT)
                     AS n_distinct_digests,
                 CAST(max(cdx_ts) AS BIGINT) AS last_ts,
                 max((cdx_ts, url, digest)) AS win
          FROM ok GROUP BY 1),
        fs AS (
          SELECT surt, digest, CAST(min(cdx_ts) AS BIGINT) AS first_ts
          FROM ok GROUP BY 1, 2)
        SELECT n.surt, n.win[2] AS url, n.win[3] AS digest,
               fs.first_ts, n.last_ts, n.n_captures, n.n_distinct_digests
        FROM newest n
        JOIN fs ON n.surt = fs.surt AND n.win[3] = fs.digest
    """
    # exp-histogram cascade: oracle = DIRECT day histogram from raw
    d["exp_hist_cascade"] = """
        WITH b AS (
          SELECT event_type,
                 CAST(floor(floor(epoch(ts)) / 86400) AS BIGINT) * 86400
                     AS day_e,
                 CAST(floor(value) AS BIGINT) AS fv
          FROM events),
        k AS (
          SELECT event_type, day_e, fv,
                 CASE WHEN fv <= 0 THEN 0
                      ELSE length(bin(fv)) END AS bucket
          FROM b)
        SELECT event_type, day_e, CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(fv) AS BIGINT) AS v_floor_min,
               CAST(max(fv) AS BIGINT) AS v_floor_max
        FROM k GROUP BY 1, 2, 3
    """
    d["topk_rate"] = (
        "SELECT eval_ts, event_type, rate, "
        "       CAST(row_number() OVER (PARTITION BY eval_ts "
        "                ORDER BY rate DESC, event_type) AS BIGINT) AS rank "
        "FROM (" + d["promql_rate"] + ") base "
        "QUALIFY rank <= 2"
    )
    d["bmp_decode"] = """
        WITH px AS (
            SELECT d.doc_id AS media_id,
                   (d.doc_id * 7 + r.r * 5 + c.c * 3) % 256 AS vr,
                   (d.doc_id * 7 + r.r * 5 + c.c * 3 + 11) % 256 AS vg,
                   (d.doc_id * 7 + r.r * 5 + c.c * 3 + 22) % 256 AS vb
            FROM documents d
            CROSS JOIN (SELECT unnest(range(0, 16)) AS r) r
            CROSS JOIN (SELECT unnest(range(0, 24)) AS c) c)
        SELECT media_id,
               CAST(24 AS BIGINT) AS width,
               CAST(16 AS BIGINT) AS height,
               CAST(sum(vr) AS BIGINT) AS sum_r,
               CAST(sum(vg) AS BIGINT) AS sum_g,
               CAST(sum(vb) AS BIGINT) AS sum_b,
               CAST(max(2 * vg + vr + vb) AS BIGINT) AS max_lum
        FROM px GROUP BY 1
    """
    # brute-force all-pairs twin: equality proves prefix filtering is
    # lossless at tau = 9/10
    d["jaccard_join"] = """
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
            FROM documents),
        tok2 AS (SELECT doc_id, t FROM tok WHERE length(t) > 0),
        sz AS (SELECT doc_id, count(*) AS n FROM tok2 GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS x
            FROM tok2 a JOIN tok2 b
              ON a.t = b.t AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        j AS (
            SELECT id_a, id_b, x,
                   sa.n + sb.n - x AS u
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b)
        SELECT id_a, id_b,
               CAST(x AS BIGINT) AS inter,
               CAST(u AS BIGINT) AS uni,
               CAST(floor(1e6 * CAST(x AS DOUBLE) / CAST(u AS DOUBLE) + 0.5)
                    AS BIGINT) AS jac_q6
        FROM j WHERE x * 10 >= 9 * u
    """
    d["session_patterns"] = """
        WITH o AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t1,
                   lead(event_type, 2) OVER w AS t2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        g AS (
            SELECT user_id,
                   event_type || '>' || t1 || '>' || t2 AS pattern
            FROM o WHERE t2 IS NOT NULL)
        SELECT pattern,
               CAST(count(*) AS BIGINT) AS n_occurrences,
               CAST(count(DISTINCT user_id) AS BIGINT) AS support
        FROM g GROUP BY 1 HAVING count(DISTINCT user_id) >= 5
    """
    # binary-representation-length bucketing == base-2 exponential bucket
    d["exp_histogram"] = """
        WITH b AS (
            SELECT event_type,
                   CAST(floor(value) AS BIGINT) AS fv
            FROM events),
        k AS (
            SELECT event_type, fv,
                   CASE WHEN fv <= 0 THEN 0
                        ELSE length(bin(fv)) END AS bucket
            FROM b)
        SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(min(fv) AS BIGINT) AS v_floor_min,
               CAST(max(fv) AS BIGINT) AS v_floor_max
        FROM k GROUP BY 1, 2
    """
    d["cdc_chunking"] = f"""
        SELECT doc_id, chunk_idx, "offset", "length", chunk_hash
        FROM read_parquet('{_dump_path("cdc_oracle")}')
    """
    # confusion matrix over the language_id CTE chain + declared labels
    d["langid_confusion"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'),
                             x -> x != '') AS toks
          FROM documents),
        s AS (
          SELECT doc_id,
            len(list_filter(toks, x -> x IN ('the','and','of','to','a','in','is','that','for','it')))
              / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_en,
            len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit','auf','zu')))
              / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_de,
            len(list_filter(toks, x -> x IN ('le','la','les','et','de','un','une','est','pour','que')))
              / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_fr,
            len(list_filter(toks, x -> x IN ('el','la','los','de','y','que','es','un','una','por')))
              / CAST(greatest(1, len(toks)) AS DOUBLE) AS s_es
          FROM t),
        p AS (
          SELECT doc_id,
                 CASE WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'other'
                      WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
                      WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
                      WHEN s_fr >= s_es THEN 'fr'
                      ELSE 'es' END AS pred_lang
          FROM s),
        j AS (
          SELECT d.lang, p.pred_lang FROM documents d JOIN p USING (doc_id)),
        per AS (SELECT lang, count(*) AS n_lang FROM j GROUP BY 1)
        SELECT j.lang, j.pred_lang,
               CAST(count(*) AS BIGINT) AS n,
               CAST((count(*) * 1000) // max(per.n_lang) AS BIGINT)
                   AS share_permille
        FROM j JOIN per USING (lang)
        GROUP BY 1, 2
    """
    # exact-integer Mann-Kendall: the O(n^2) pair join IS the definition,
    # fine as an oracle at sf0.01 series lengths; the engine side walks a
    # Fenwick tree in O(n log n)
    d["mann_kendall"] = """
        WITH h AS (
            SELECT event_type,
                   (epoch_us(ts) // 3600000000) * 3600 AS b,
                   count(*) AS y
            FROM events GROUP BY 1, 2),
        p AS (
            SELECT a.event_type,
                   SUM(CASE WHEN b.y > a.y THEN 1
                            WHEN b.y < a.y THEN -1 ELSE 0 END) AS s,
                   SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS ties
            FROM h a JOIN h b
              ON a.event_type = b.event_type AND a.b < b.b
            GROUP BY 1),
        n AS (SELECT event_type, count(*) AS n FROM h GROUP BY 1),
        t AS (
            SELECT event_type,
                   SUM(c * (c - 1) * (2 * c + 5)) AS tie_term
            FROM (SELECT event_type, y, count(*) AS c
                  FROM h GROUP BY 1, 2)
            GROUP BY 1)
        SELECT n.event_type,
               CAST(n.n AS BIGINT) AS n,
               CAST(coalesce(p.s, 0) AS BIGINT) AS s_stat,
               CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                    - coalesce(t.tie_term, 0) AS BIGINT) AS var18,
               CAST(coalesce(p.ties, 0) AS BIGINT) AS tie_pairs
        FROM n LEFT JOIN p USING (event_type) LEFT JOIN t USING (event_type)
    """
    d["duration_above"] = """
        WITH h AS (
            SELECT event_type,
                   (epoch_us(ts) // 3600000000) * 3600 AS b,
                   count(*) AS y
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type, b, y,
                   lag(b) OVER w AS b0, lag(y) OVER w AS y0
            FROM h WINDOW w AS (PARTITION BY event_type ORDER BY b)),
        seg AS (
            SELECT event_type,
                   (b - b0) * 1000000 AS span_us,
                   CASE WHEN least(y0, y) > 5 THEN (b - b0) * 1000000
                        WHEN greatest(y0, y) <= 5 THEN 0
                        ELSE ((greatest(y0, y) - 5) * (b - b0) * 1000000)
                             // (greatest(y0, y) - least(y0, y))
                   END AS above_us
            FROM s WHERE b0 IS NOT NULL)
        SELECT event_type,
               CAST(sum(above_us) AS BIGINT) AS above_us,
               CAST(sum(span_us) AS BIGINT) AS total_us,
               CAST(count(*) AS BIGINT) AS n_segments
        FROM seg GROUP BY 1
    """
    # same deterministic URL synthesis, same extraction + templating
    # regexes (shared Java-regex/RE2 subset), hex collapsed before digits
    d["url_templates"] = """
        WITH u AS (
            SELECT 'https://' || source || '.example.com' ||
                   CASE WHEN doc_id % 3 = 0
                            THEN '/p/' || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 3 = 1
                            THEN '/a/' ||
                                 substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                                 || '/view'
                        ELSE '/archive/20' ||
                             lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                             || '/' ||
                             lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                             || '/item'
                   END || '?lang=' || lang AS url
            FROM documents),
        e AS (
            SELECT regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
                   regexp_extract(url,
                       '^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS p0
            FROM u),
        pth AS (
            SELECT host,
                   CASE WHEN p0 = '' THEN '/' ELSE p0 END AS path
            FROM e)
        SELECT host,
               regexp_replace(
                   regexp_replace(path, '[0-9a-f]{8,}', '{hex}', 'g'),
                   '[0-9]+', '{n}', 'g') AS template,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(count(DISTINCT path) AS BIGINT) AS n_paths
        FROM pth GROUP BY 1, 2
    """
    d["pla_segments"] = """
        SELECT event_type, seg_idx, t_start, v_start, t_end, v_end,
               n_points
        FROM read_parquet('/root/repo/.stage_cache/pla_oracle.parquet')
    """
    # same deterministic page synthesis; the record is assembled with
    # explicit chr(13)||chr(10) CRLFs and BYTE lengths (octet_length over
    # encode()), timestamps via tz-free make_timestamp epoch arithmetic
    d["wet_export"] = """
        WITH pages AS (
            SELECT source AS shard,
                   'https://' || source || '.example.com/p/'
                       || CAST(doc_id AS VARCHAR) AS url,
                   strftime(make_timestamp(
                       (1700000000 + doc_id * 3600) * 1000000),
                       '%Y-%m-%dT%H:%M:%SZ') AS wdate,
                   coalesce(text, '') AS body
            FROM documents),
        rec AS (
            SELECT shard, url,
                   'WARC/1.0' || chr(13) || chr(10) ||
                   'WARC-Type: conversion' || chr(13) || chr(10) ||
                   'WARC-Target-URI: ' || url || chr(13) || chr(10) ||
                   'WARC-Date: ' || wdate || chr(13) || chr(10) ||
                   'Content-Type: text/plain' || chr(13) || chr(10) ||
                   'Content-Length: ' ||
                       CAST(octet_length(encode(body)) AS VARCHAR)
                       || chr(13) || chr(10) ||
                   chr(13) || chr(10) ||
                   body || chr(13) || chr(10) || chr(13) || chr(10)
                       AS record
            FROM pages),
        sized AS (
            SELECT shard, url, record,
                   CAST(octet_length(encode(record)) AS BIGINT)
                       AS record_len
            FROM rec)
        SELECT shard, url,
               CAST(coalesce(sum(record_len) OVER (
                   PARTITION BY shard ORDER BY url
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS offset,
               record_len, record
        FROM sized
    """
    d["benford_digits"] = """
        WITH v AS (
            SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vi
            FROM events WHERE floor(value * 1000) > 0),
        per AS (
            SELECT event_type,
                   CAST(substr(CAST(vi AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit,
                   count(*) AS n
            FROM v GROUP BY 1, 2),
        tot AS (SELECT event_type, sum(n) AS n_total FROM per GROUP BY 1),
        exp AS (SELECT * FROM (VALUES (1,301),(2,176),(3,125),(4,97),
                (5,79),(6,67),(7,58),(8,51),(9,46)) AS t(digit, expected))
        SELECT per.event_type, per.digit,
               CAST(per.n AS BIGINT) AS n,
               CAST(tot.n_total AS BIGINT) AS n_total,
               CAST((per.n * 1000) // tot.n_total AS BIGINT)
                   AS share_permille,
               CAST(exp.expected AS BIGINT) AS expected_permille,
               CAST((per.n * 1000) // tot.n_total - exp.expected AS BIGINT)
                   AS delta_permille
        FROM per
        JOIN tot USING (event_type)
        JOIN exp USING (digit)
    """
    d["weighted_median"] = """
        WITH d AS (
            SELECT lang, n_chars AS v, doc_id % 7 + 1 AS w
            FROM documents),
        c AS (
            SELECT lang, v,
                   sum(w) OVER (PARTITION BY lang ORDER BY v
                                ROWS UNBOUNDED PRECEDING) AS cumw,
                   sum(w) OVER (PARTITION BY lang) AS wt
            FROM d)
        SELECT lang,
               CAST(max(wt) AS BIGINT) AS w_total,
               CAST(min(v) AS BIGINT) AS w_median
        FROM c WHERE cumw * 2 >= wt GROUP BY 1
    """
    d["bot_detect"] = """
        WITH e AS (
            SELECT user_id, epoch_us(ts) // 1000000 AS t, event_id
            FROM events
            UNION ALL
            SELECT 999999 AS user_id, 1700000000 + i * 60 AS t,
                   1000000000 + i AS event_id
            FROM (SELECT unnest(range(0, 20)) AS i)),
        g AS (
            SELECT user_id,
                   t - lag(t) OVER (PARTITION BY user_id
                                    ORDER BY t, event_id) AS g
            FROM e),
        a AS (
            SELECT user_id, count(*) AS n, sum(g) AS sg,
                   sum(g * g) AS sg2, count(DISTINCT g) AS nd
            FROM g WHERE g IS NOT NULL GROUP BY 1)
        SELECT user_id,
               CAST(n AS BIGINT) AS n_gaps,
               CAST(sg AS BIGINT) AS gap_sum,
               CAST(sg2 AS BIGINT) AS gap_sum2,
               CAST(nd AS BIGINT) AS n_distinct_gaps,
               CAST(n * sg2 - sg * sg AS BIGINT) AS var_num,
               CAST(CASE WHEN n >= 5 AND (n * sg2 - sg * sg) * 25 < sg * sg
                         THEN 1 ELSE 0 END AS BIGINT) AS is_bot
        FROM a
    """
    # HRW winner as a CASE chain over the four hex digests (md5 hex
    # compares identically to the 128-bit value; ties are md5 collisions)
    d["rendezvous_shard"] = """
        WITH u AS (
            SELECT 'https://' || source || '.example.com/p/'
                       || CAST(doc_id AS VARCHAR) AS url
            FROM documents),
        h AS (
            SELECT url,
                   md5(url || '|n0') AS d0, md5(url || '|n1') AS d1,
                   md5(url || '|n2') AS d2, md5(url || '|n3') AS d3
            FROM u)
        SELECT url,
               CASE WHEN d0 >= d1 AND d0 >= d2 AND d0 >= d3 THEN 'n0'
                    WHEN d1 >= d2 AND d1 >= d3 THEN 'n1'
                    WHEN d2 >= d3 THEN 'n2'
                    ELSE 'n3' END AS node
        FROM h
    """
    d["revisit_schedule"] = """
        WITH v AS (
            SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                   1700000000 + doc_id * 7919 + k.k * 86400 AS crawl_ts,
                   (k.k * ((doc_id % 5) + 1)) // 5 AS fingerprint
            FROM documents,
                 (SELECT unnest(range(0, 6)) AS k) k),
        lagged AS (
            SELECT url,
                   CASE WHEN lag(fingerprint) OVER w IS NULL THEN 0
                        WHEN fingerprint <> lag(fingerprint) OVER w THEN 1
                        ELSE 0 END AS chg
            FROM v WINDOW w AS (PARTITION BY url ORDER BY crawl_ts)),
        a AS (
            SELECT url, count(*) AS n_visits, sum(chg) AS n_changes
            FROM lagged GROUP BY 1),
        p AS (
            SELECT url, n_visits, n_changes,
                   CASE WHEN n_visits <= 1 THEN 0
                        ELSE (n_changes * 1000) // (n_visits - 1)
                   END AS change_permille
            FROM a)
        SELECT url,
               CAST(n_visits AS BIGINT) AS n_visits,
               CAST(n_changes AS BIGINT) AS n_changes,
               CAST(change_permille AS BIGINT) AS change_permille,
               CAST(CASE WHEN change_permille >= 500 THEN 1
                         WHEN change_permille >= 200 THEN 4
                         WHEN change_permille >= 50 THEN 24
                         WHEN change_permille > 0 THEN 168
                         ELSE 720 END AS BIGINT) AS revisit_hours
        FROM p
    """
    d["link_prediction"] = """
        WITH e0 AS (
            SELECT concat('h', CAST(doc_id % 97 AS VARCHAR)) AS src,
                   concat('h', CAST((doc_id * 31 + 7) % 97 AS VARCHAR))
                       AS dst
            FROM documents
            UNION ALL
            SELECT concat('h', CAST(doc_id % 97 AS VARCHAR)) AS src,
                   concat('h', CAST((doc_id * 13 + 5) % 97 AS VARCHAR))
                       AS dst
            FROM documents),
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e0 WHERE src <> dst),
        adj AS (
            SELECT a, b FROM und
            UNION ALL SELECT b AS a, a AS b FROM und),
        deg AS (SELECT a, count(*) AS deg FROM adj GROUP BY 1),
        wedges AS (
            SELECT l.a AS u, r.a AS v, count(*) AS common
            FROM adj l JOIN adj r ON l.b = r.b AND l.a < r.a
            GROUP BY 1, 2
            HAVING count(*) >= 2),
        non_edges AS (
            SELECT w.u, w.v, w.common FROM wedges w
            ANTI JOIN und ON und.a = w.u AND und.b = w.v)
        SELECT n.u AS src, n.v AS dst,
               CAST(n.common AS BIGINT) AS common,
               CAST(ds.deg AS BIGINT) AS deg_src,
               CAST(dd.deg AS BIGINT) AS deg_dst,
               CAST((n.common * 1000)
                    // (ds.deg + dd.deg - n.common) AS BIGINT)
                   AS jaccard_permille
        FROM non_edges n
        JOIN deg ds ON ds.a = n.u
        JOIN deg dd ON dd.a = n.v
    """
    # KMV day tier sketched DIRECTLY from raw; the Spark side arrives via
    # the hour->day cascade, so the hash gate itself proves mergeability.
    # v52 mirrors the Spark nibble expression with strpos; // floors like
    # Spark's DIV on these all-positive operands.
    _kmv_v52 = " + ".join(
        f"((strpos('0123456789abcdef', substr(kth_hex, {i + 1}, 1))"
        f" - CAST(1 AS BIGINT)) * {1 << (4 * (12 - i))})"
        for i in range(13)
    )
    d["kmv_distinct"] = f"""
        WITH base AS (
            SELECT DISTINCT event_type,
                   date_trunc('day', ts) AS bt,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events),
        ranked AS (
            SELECT event_type, bt, h,
                   row_number() OVER (PARTITION BY event_type, bt
                                      ORDER BY h) AS rn
            FROM base),
        sk AS (
            SELECT event_type, bt,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   max(h) AS kth_hex
            FROM ranked WHERE rn <= 32 GROUP BY 1, 2)
        SELECT event_type,
               strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               n_kept, kth_hex,
               CAST(CASE WHEN n_kept < 32 THEN n_kept
                    ELSE {31 * (1 << 52)}
                         // greatest(CAST({_kmv_v52} AS BIGINT), 1)
                    END AS BIGINT) AS est_distinct
        FROM sk
    """
    d["crawl_budget"] = """
        WITH w AS (
            SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_bytes
            FROM documents GROUP BY 1),
        t AS (SELECT CAST(sum(n_bytes) AS BIGINT) AS tw FROM w),
        s AS (
            SELECT source, n_bytes,
                   CAST(997 * n_bytes // tw AS BIGINT) AS base,
                   CAST(997 * n_bytes % tw AS BIGINT) AS rem
            FROM w, t),
        l AS (SELECT CAST(997 - sum(base) AS BIGINT) AS leftover FROM s),
        r AS (
            SELECT *, row_number() OVER (ORDER BY rem DESC, source ASC)
                          AS rn
            FROM s)
        SELECT source, n_bytes, base,
               CAST(CASE WHEN rn <= leftover AND rem > 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS extra,
               base + CAST(CASE WHEN rn <= leftover AND rem > 0
                           THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM r, l
    """
    d["label_cardinality"] = """
        WITH postings AS (
            SELECT 'lang' AS label_name, lang AS label_value,
                   doc_id AS series_id
            FROM documents WHERE lang IS NOT NULL
            UNION ALL
            SELECT 'source', source, doc_id
            FROM documents WHERE source IS NOT NULL
            UNION ALL
            SELECT 'shard', 's' || CAST(doc_id % 50 AS VARCHAR), doc_id
            FROM documents
            UNION ALL
            SELECT 'rid', 'r' || CAST(doc_id AS VARCHAR), doc_id
            FROM documents),
        pv AS (
            SELECT label_name, label_value, count(*) AS n
            FROM postings GROUP BY 1, 2),
        agg AS (
            SELECT label_name,
                   CAST(count(*) AS BIGINT) AS n_values,
                   CAST(sum(n) AS BIGINT) AS n_series
            FROM pv GROUP BY 1),
        top AS (
            SELECT label_name, label_value AS top_value,
                   CAST(n AS BIGINT) AS top_series,
                   row_number() OVER (PARTITION BY label_name
                                      ORDER BY n DESC, label_value DESC)
                       AS rn
            FROM pv)
        SELECT a.label_name, n_values, n_series, top_value, top_series,
               top_series * 1000 // n_series AS top_share_permille
        FROM agg a JOIN top t ON a.label_name = t.label_name AND t.rn = 1
    """
    # token_bucket's oracle is the staged independent scalar simulation
    # (written fresh by q_token_bucket on every call)
    d["token_bucket"] = f"""
        SELECT key, id, ts_us, admitted, tokens_after_micro
        FROM read_parquet('{_dump_path("token_bucket_oracle")}')
    """
    # ivm_join: the oracle joins the FULL updated tables directly; the
    # Spark side arrives via old view + three delta terms
    d["ivm_join"] = """
        WITH a AS (
            SELECT user_id % 150 AS uk, event_id, event_type FROM events),
        b AS (
            SELECT doc_id % 150 AS uk, doc_id, lang FROM documents)
        SELECT a.uk, event_id, event_type, doc_id, lang
        FROM a JOIN b ON a.uk = b.uk
    """
    d["cache_policy"] = """
        WITH h AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 6 = 0 THEN 'no-store'
                        WHEN doc_id % 6 = 1 THEN 'no-cache, max-age=60'
                        WHEN doc_id % 6 = 2 THEN 'public, max-age=600'
                        WHEN doc_id % 6 = 3
                            THEN 'public, max-age=600, s-maxage=300'
                        ELSE '' END AS cc,
                   1700000000000000 + doc_id * 1000000 AS fetch_us,
                   CASE WHEN doc_id % 6 = 4
                        THEN 1700000000000000 + doc_id * 1000000
                             - ((doc_id % 1000) + 5) * 7000000
                   END AS lm_us
            FROM documents),
        p AS (
            SELECT doc_id, fetch_us, lm_us,
                   coalesce(regexp_extract(cc,
                       '(?:^|[ ,])s-maxage=([0-9]+)', 1), '') AS smax,
                   coalesce(regexp_extract(cc,
                       '(?:^|[ ,])max-age=([0-9]+)', 1), '') AS mage,
                   strpos(cc, 'no-store') > 0 AS nostore,
                   strpos(cc, 'no-cache') > 0 AS nocache
            FROM h),
        q AS (
            SELECT *,
                   CASE WHEN nostore THEN 'no-store'
                        WHEN nocache THEN 'no-cache'
                        WHEN smax <> '' THEN 's-maxage'
                        WHEN mage <> '' THEN 'max-age'
                        WHEN lm_us IS NOT NULL AND fetch_us > lm_us
                            THEN 'heuristic'
                        ELSE 'none' END AS policy
            FROM p),
        t AS (
            SELECT *,
                   CAST(CASE WHEN policy = 's-maxage'
                                 THEN CAST(smax AS BIGINT)
                             WHEN policy = 'max-age'
                                 THEN CAST(mage AS BIGINT)
                             WHEN policy = 'heuristic'
                                 THEN (fetch_us - lm_us) // 10000000
                             ELSE 0 END AS BIGINT) AS ttl_sec
            FROM q)
        SELECT doc_id,
               CAST(CASE WHEN policy = 'no-store' THEN 0 ELSE 1 END
                    AS BIGINT) AS cacheable,
               CAST(CASE WHEN policy = 'no-cache' THEN 1 ELSE 0 END
                    AS BIGINT) AS revalidate,
               ttl_sec,
               CAST(CASE WHEN policy <> 'no-store'
                    THEN fetch_us + ttl_sec * 1000000 END
                    AS BIGINT) AS expires_ts_us,
               policy
        FROM t
    """
    # kmv_intersect: the oracle ranks the union of the FULL distinct
    # sets (legal by mergeability); membership in a side's sketch is
    # membership in the side, for any element of the union's bottom-k
    _kmv_v52i = " + ".join(
        f"((strpos('0123456789abcdef', substr(kth_hex, {i + 1}, 1))"
        f" - CAST(1 AS BIGINT)) * {1 << (4 * (12 - i))})"
        for i in range(13)
    )
    d["kmv_intersect"] = f"""
        WITH a AS (
            SELECT DISTINCT date_trunc('day', ts) AS bt,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events WHERE event_type = 'click'),
        b AS (
            SELECT DISTINCT date_trunc('day', ts) AS bt,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events WHERE event_type = 'view'),
        u AS (SELECT bt, h FROM a UNION SELECT bt, h FROM b),
        r AS (
            SELECT bt, h,
                   row_number() OVER (PARTITION BY bt ORDER BY h) AS rn
            FROM u),
        kk AS (SELECT bt, h FROM r WHERE rn <= 32),
        m AS (
            SELECT kk.bt,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   max(kk.h) AS kth_hex,
                   CAST(sum(CASE WHEN ia.h IS NOT NULL
                                  AND ib.h IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_both
            FROM kk
            LEFT JOIN a ia ON ia.bt = kk.bt AND ia.h = kk.h
            LEFT JOIN b ib ON ib.bt = kk.bt AND ib.h = kk.h
            GROUP BY kk.bt),
        e AS (
            SELECT *,
                   CAST(CASE WHEN n_kept < 32 THEN n_kept
                        ELSE {31 * (1 << 52)}
                             // greatest(CAST({_kmv_v52i} AS BIGINT), 1)
                        END AS BIGINT) AS union_est
            FROM m)
        SELECT strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               n_kept, kth_hex, n_both,
               CAST(1000 * n_both // n_kept AS BIGINT) AS jaccard_permille,
               union_est,
               CAST(union_est * n_both // n_kept AS BIGINT) AS inter_est
        FROM e
    """
    d["bitemporal_asof"] = """
        WITH v AS (
            SELECT 'e' || CAST(doc_id % 100 AS VARCHAR) AS entity,
                   1700000000
                     + ((doc_id + k.k) % 10) * 86400 AS valid_from,
                   1700000000 + doc_id * 13 + k.k * 7777 AS tx_from,
                   doc_id * 1000 + k.k AS value
            FROM documents, (SELECT unnest(range(0, 5)) AS k) k),
        q AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY entity
                       ORDER BY valid_from DESC, tx_from DESC) AS rn
            FROM v
            WHERE valid_from <= 1700000000 + 6 * 86400
              AND tx_from <= 1700000000 + 30000)
        SELECT entity, valid_from, tx_from, value FROM q WHERE rn = 1
    """
    # clf_parse: the oracle synthesizes the identical line string and
    # mirrors the per-group regexp extraction + derivations
    _clf_pat = (
        r'^(\S+) (\S+) (\S+) \[(\d{2})/([A-Za-z]{3})/(\d{4}):'
        r'(\d{2}:\d{2}:\d{2}) ([+-]\d{4})\] "(\S+) (\S+) ([^"]*)" '
        r'(\d{3}) (\S+) "([^"]*)" "([^"]*)"$'
    )
    d["clf_parse"] = f"""
        WITH syn AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 97 = 0 THEN 'malformed !! line'
                   ELSE
                     '10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                       || CAST(doc_id % 17 AS VARCHAR) || '.'
                       || CAST((doc_id % 9) + 1 AS VARCHAR)
                     || ' - '
                     || CASE WHEN doc_id % 5 = 0 THEN 'alice' ELSE '-' END
                     || ' [' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0')
                     || '/' || CASE WHEN doc_id % 3 = 0 THEN 'Jan'
                                    WHEN doc_id % 3 = 1 THEN 'Jun'
                                    ELSE 'Nov' END
                     || '/2024:' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                     || ':' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                     || ':' || lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0')
                     || ' ' || CASE WHEN doc_id % 2 = 0 THEN '+0000'
                                    ELSE '-0530' END
                     || '] "' || CASE WHEN doc_id % 3 = 0 THEN 'GET'
                                      WHEN doc_id % 3 = 1 THEN 'POST'
                                      ELSE 'HEAD' END
                     || ' /p/' || CAST(doc_id AS VARCHAR)
                     || ' HTTP/1.1" '
                     || CASE doc_id % 5 WHEN 0 THEN '200' WHEN 1 THEN '301'
                             WHEN 2 THEN '404' WHEN 3 THEN '500'
                             ELSE '204' END
                     || ' ' || CASE WHEN doc_id % 5 = 4 THEN '-'
                               ELSE CAST(doc_id * 13 AS VARCHAR) END
                     || ' "' || CASE WHEN doc_id % 7 = 0 THEN '-'
                                ELSE 'https://ref.example/'
                                     || CAST(doc_id % 7 AS VARCHAR) END
                     || '" "'
                     || CASE doc_id % 4
                          WHEN 0 THEN 'Mozilla/5.0 (X11; Linux x86_64) Gecko'
                          WHEN 1 THEN
                            'Googlebot/2.1 (+http://www.google.com/bot.html)'
                          WHEN 2 THEN 'curl/8.4.0'
                          ELSE 'SpiderX/1.0 crawler' END
                     || '"'
                   END AS line
            FROM documents),
        px AS (
            SELECT doc_id,
                   regexp_extract(line, '{_clf_pat}',
                       ['g1','g2','g3','g4','g5','g6','g7','g8','g9',
                        'g10','g11','g12','g13','g14','g15']) AS s
            FROM syn),
        p AS (SELECT doc_id, s, s.g12 <> '' AS ok FROM px)
        SELECT doc_id,
               CAST(CASE WHEN ok THEN 1 ELSE 0 END AS BIGINT) AS parsed,
               CASE WHEN ok THEN s.g1 END AS ip,
               CASE WHEN ok THEN
                   s.g6 || '-'
                   || CASE s.g5
                        WHEN 'Jan' THEN '01' WHEN 'Feb' THEN '02'
                        WHEN 'Mar' THEN '03' WHEN 'Apr' THEN '04'
                        WHEN 'May' THEN '05' WHEN 'Jun' THEN '06'
                        WHEN 'Jul' THEN '07' WHEN 'Aug' THEN '08'
                        WHEN 'Sep' THEN '09' WHEN 'Oct' THEN '10'
                        WHEN 'Nov' THEN '11' ELSE '12' END
                   || '-' || s.g4 || ' ' || s.g7
               END AS iso_ts,
               CASE WHEN ok THEN s.g8 END AS tz,
               CASE WHEN ok THEN s.g9 END AS method,
               CASE WHEN ok THEN s.g10 END AS path,
               CASE WHEN ok THEN CAST(s.g12 AS BIGINT) END AS status,
               CASE WHEN ok THEN substr(s.g12, 1, 1) || 'xx' END
                   AS status_class,
               CASE WHEN ok THEN
                   CASE WHEN s.g13 = '-' THEN 0
                        ELSE CAST(s.g13 AS BIGINT) END
               END AS n_bytes,
               CASE WHEN ok THEN s.g14 END AS referer,
               CASE WHEN ok THEN s.g15 END AS user_agent,
               CASE WHEN ok THEN
                   CAST(CASE WHEN strpos(lower(s.g15), 'bot') > 0
                        OR strpos(lower(s.g15), 'crawler') > 0
                        OR strpos(lower(s.g15), 'spider') > 0
                        OR strpos(lower(s.g15), 'curl') > 0
                        OR strpos(lower(s.g15), 'wget') > 0
                        THEN 1 ELSE 0 END AS BIGINT)
               END AS is_bot
        FROM p
    """

    # interval_join: direct nested-loop overlap join as the oracle for
    # the bucketed+anchored equi-join plan
    d["interval_join"] = """
        WITH l AS (
            SELECT event_id AS l_id,
                   epoch_us(ts) // 1000000 AS lo,
                   epoch_us(ts) // 1000000 + event_id % 7919 AS hi
            FROM events),
        r AS (
            SELECT event_id AS r_id,
                   epoch_us(ts) // 1000000 - 1800 AS r_lo,
                   epoch_us(ts) // 1000000 + event_id % 12289 AS r_hi
            FROM events WHERE event_id % 211 = 0)
        SELECT l.l_id AS event_id,
               count(*) AS n_overlap,
               CAST(sum(least(l.hi, r.r_hi) - greatest(l.lo, r.r_lo) + 1)
                    AS BIGINT) AS overlap_len
        FROM l JOIN r ON l.lo <= r.r_hi AND r.r_lo <= l.hi
        GROUP BY 1
    """
    # delta_attribution: UNION-ALL melt + per-dimension rank, identical
    # integer deltas and micro-unit share quantization
    d["delta_attribution"] = """
        WITH e AS (
            SELECT event_type, user_id % 10 AS user_bucket,
                   CASE WHEN epoch_us(ts) // 1000000 < 1705363200
                        THEN 1 ELSE 0 END AS p0,
                   CASE WHEN epoch_us(ts) // 1000000 >= 1705363200
                        THEN 1 ELSE 0 END AS p1
            FROM events),
        m AS (
            SELECT 'event_type' AS dimension, event_type AS dim_value,
                   p0, p1 FROM e
            UNION ALL
            SELECT 'user_bucket', CAST(user_bucket AS VARCHAR), p0, p1
            FROM e),
        a AS (
            SELECT dimension, dim_value,
                   CAST(sum(p0) AS BIGINT) AS v0,
                   CAST(sum(p1) AS BIGINT) AS v1
            FROM m GROUP BY 1, 2),
        t AS (SELECT CAST(sum(v1) - sum(v0) AS BIGINT) AS td FROM a
              WHERE dimension = 'event_type'),
        r AS (
            SELECT a.*, t.td,
                   row_number() OVER (
                       PARTITION BY dimension
                       ORDER BY abs(v1 - v0) DESC, dim_value ASC) AS rnk
            FROM a, t)
        SELECT dimension, dim_value, v0, v1, v1 - v0 AS delta,
               CASE WHEN td <> 0 THEN
                   CAST(sign(1e6 * (v1 - v0) / td)
                        * floor(abs(1e6 * (v1 - v0) / td) + 0.5)
                        AS BIGINT)
               END AS share_q6,
               rnk
        FROM r WHERE rnk <= 5
    """
    # log_observability: independent derivation — fields computed from
    # doc_id arithmetic (not the regex), hourly rollup, 7-day baseline,
    # fire-at-2nd / clear-at-2nd hysteresis episode algebra
    d["log_observability"] = """
        WITH p AS (
            SELECT doc_id,
                   CASE doc_id % 5 WHEN 1 THEN '3xx' WHEN 2 THEN '4xx'
                        WHEN 3 THEN '5xx' ELSE '2xx' END AS status_class,
                   CASE WHEN doc_id % 5 = 4 THEN 0
                        ELSE doc_id * 13 END AS n_bytes,
                   CASE WHEN doc_id % 4 = 0 THEN 0 ELSE 1 END AS is_bot,
                   epoch_us(make_timestamp(
                       2024,
                       CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 6
                            ELSE 11 END,
                       (doc_id % 28) + 1, doc_id % 24, doc_id % 60,
                       CAST((doc_id * 7) % 60 AS DOUBLE))) // 1000000
                       AS sec
            FROM documents WHERE doc_id % 97 <> 0),
        h AS (SELECT status_class, (sec // 3600) * 3600 AS b_s,
                     count(*) AS doc_count
              FROM p GROUP BY 1, 2),
        t0 AS (SELECT status_class, min(b_s) AS t0_s FROM h GROUP BY 1),
        base AS (
            SELECT h.status_class, count(*) AS b, sum(doc_count) AS s
            FROM h JOIN t0 USING (status_class)
            WHERE h.b_s < t0.t0_s + 7 * 86400 GROUP BY 1),
        fl AS (
            SELECT h.status_class, h.b_s,
                   (10 * base.b * h.doc_count > 11 * base.s) AS breach,
                   row_number() OVER (PARTITION BY h.status_class
                                      ORDER BY h.b_s) AS rn
            FROM h JOIN base USING (status_class)),
        fl2 AS (
            SELECT *, rn - row_number() OVER (
                       PARTITION BY status_class, breach
                       ORDER BY b_s) AS grp
            FROM fl),
        ev AS (
            SELECT status_class, b_s, breach,
                   row_number() OVER (PARTITION BY status_class, breach,
                                      grp ORDER BY b_s) AS pos
            FROM fl2),
        evf AS (
            SELECT status_class, b_s, breach FROM ev WHERE pos = 2),
        alt AS (
            SELECT *, lag(breach) OVER (PARTITION BY status_class
                                        ORDER BY b_s) AS prev
            FROM evf),
        kept AS (
            SELECT status_class, b_s, breach FROM alt
            WHERE prev IS NULL OR prev <> breach),
        epi AS (
            SELECT status_class, count(*) AS n_episodes,
                   CAST(min(b_s) AS BIGINT) AS first_fired_s
            FROM kept WHERE breach GROUP BY 1),
        roll AS (
            SELECT status_class, count(*) AS n_hits,
                   CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
                   CAST(sum(is_bot) AS BIGINT) AS n_bot,
                   count(DISTINCT (sec // 3600) * 3600) AS n_buckets
            FROM p GROUP BY 1)
        SELECT r.status_class, r.n_hits, r.sum_bytes, r.n_bot,
               r.n_buckets,
               COALESCE(e.n_episodes, 0) AS n_episodes, e.first_fired_s
        FROM roll r LEFT JOIN epi e USING (status_class)
    """

    # multi_touch: user-keyed self-join + rank + largest-remainder
    # integer apportionment (credits per conversion sum to exactly 1e6)
    d["multi_touch"] = """
        WITH b AS (
            SELECT user_id AS "user", event_id AS eid, event_type AS etype,
                   epoch_us(ts) // 1000000 AS s
            FROM events),
        conv AS (SELECT "user", eid AS conv_id, s AS conv_ts FROM b
                 WHERE etype IN ('purchase', 'signup')),
        src AS (SELECT "user", eid AS src_id, etype AS src_type,
                       s AS src_ts
                FROM b WHERE etype IN ('click', 'view')),
        p AS (
            SELECT c."user", c.conv_id, c.conv_ts, s.src_id, s.src_type,
                   s.src_ts
            FROM conv c JOIN src s USING ("user")
            WHERE s.src_ts >= c.conv_ts - 21600
              AND (s.src_ts < c.conv_ts
                   OR (s.src_ts = c.conv_ts AND s.src_id < c.conv_id))),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY "user", conv_id
                                      ORDER BY src_ts DESC, src_id DESC)
                       AS touch_rank,
                   count(*) OVER (PARTITION BY "user", conv_id)
                       AS n_touches
            FROM p)
        SELECT "user", conv_id, conv_ts, src_id, src_type, src_ts,
               touch_rank, n_touches,
               1000000 // n_touches
               + CASE WHEN touch_rank <= 1000000 % n_touches
                      THEN 1 ELSE 0 END AS credit_micro
        FROM r
    """
    # survival_risk: identical presence synthesis, lifetimes from
    # min/max, reverse-cumulative at-risk counts — all exact integers
    d["survival_risk"] = """
        WITH pres AS (
            SELECT doc_id,
                   unnest(range(doc_id % 5,
                                least(7, doc_id % 5 + (doc_id * 7) % 9)
                                + 1)) AS crawl
            FROM documents),
        pres2 AS (
            SELECT doc_id, crawl FROM pres
            WHERE NOT (crawl = doc_id % 5 + 1 AND doc_id % 11 = 0)),
        lives AS (
            SELECT doc_id, max(crawl) - min(crawl) + 1 AS duration,
                   CASE WHEN max(crawl) < 7 THEN 1 ELSE 0 END AS died
            FROM pres2 GROUP BY 1),
        per_d AS (
            SELECT duration,
                   CAST(sum(died) AS BIGINT) AS n_events,
                   CAST(count(*) - sum(died) AS BIGINT) AS n_censored
            FROM lives GROUP BY 1)
        SELECT duration,
               CAST(sum(n_events + n_censored) OVER (
                   ORDER BY duration DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_at_risk,
               n_events, n_censored
        FROM per_d
    """
    # concentration: rank-formula Gini (tie-invariant), HHI and top-1
    # share as integer numerators + micro-unit quantized ratios
    d["concentration"] = """
        WITH c AS (
            SELECT event_type, user_id AS item, count(*) AS cnt
            FROM events GROUP BY 1, 2),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY cnt ASC, item ASC) AS i
            FROM c),
        a AS (
            SELECT event_type,
                   count(*) AS k_items,
                   CAST(sum(cnt) AS BIGINT) AS n_total,
                   CAST(sum(cnt * cnt) AS BIGINT) AS sum_sq,
                   CAST(max(cnt) AS BIGINT) AS top1,
                   CAST(sum((2 * i - 1) * cnt) AS BIGINT) AS g2i
            FROM r GROUP BY 1)
        SELECT event_type, k_items, n_total, sum_sq,
               CAST(floor(1e6 * CAST(sum_sq AS DOUBLE)
                          / (CAST(n_total AS DOUBLE)
                             * CAST(n_total AS DOUBLE)) + 0.5)
                    AS BIGINT) AS hhi_q6,
               CAST(floor(1e6 * CAST(top1 AS DOUBLE)
                          / CAST(n_total AS DOUBLE) + 0.5)
                    AS BIGINT) AS top_share_q6,
               CAST(floor(1e6 * CAST(g2i - k_items * n_total AS DOUBLE)
                          / (CAST(k_items AS DOUBLE)
                             * CAST(n_total AS DOUBLE)) + 0.5)
                    AS BIGINT) AS gini_q6
        FROM a
    """

    # ranking_eval: identical literal discounts (generated from the
    # same Python log2 table), bit-shift gains, single-division metrics
    d["ranking_eval"] = """
        WITH ranked AS (
            SELECT doc_id % 10 AS qid,
                   row_number() OVER (
                       PARTITION BY doc_id % 10
                       ORDER BY (doc_id * 31) % 101 DESC, doc_id ASC)
                       AS rnk,
                   CASE (doc_id * 7) % 5 WHEN 0 THEN 2 WHEN 1 THEN 1
                        ELSE 0 END AS rel
            FROM documents),
        w AS (
            SELECT qid, rnk, rel,
                   CAST((1 << rel) - 1 AS DOUBLE) AS gain,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY rel DESC, rnk ASC)
                       AS irank
            FROM ranked),
        a AS (
            SELECT qid AS query,
                   count(*) AS n_results,
                   CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_rel,
                   CAST(sum(CASE WHEN rel > 0 AND rnk <= 10
                                 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                   min(CASE WHEN rel > 0 THEN rnk END) AS first_rel,
                   sum(gain * CASE rnk WHEN 1 THEN 1.0 WHEN 2 THEN 0.6309297535714575 WHEN 3 THEN 0.5 WHEN 4 THEN 0.43067655807339306 WHEN 5 THEN 0.38685280723454163 WHEN 6 THEN 0.3562071871080222 WHEN 7 THEN 0.3333333333333333 WHEN 8 THEN 0.31546487678572877 WHEN 9 THEN 0.3010299956639812 WHEN 10 THEN 0.2890648263178879 ELSE 0.0 END) AS dcg,
                   sum(gain * CASE irank WHEN 1 THEN 1.0 WHEN 2 THEN 0.6309297535714575 WHEN 3 THEN 0.5 WHEN 4 THEN 0.43067655807339306 WHEN 5 THEN 0.38685280723454163 WHEN 6 THEN 0.3562071871080222 WHEN 7 THEN 0.3333333333333333 WHEN 8 THEN 0.31546487678572877 WHEN 9 THEN 0.3010299956639812 WHEN 10 THEN 0.2890648263178879 ELSE 0.0 END) AS idcg
            FROM w GROUP BY 1)
        SELECT query, n_results, n_rel,
               CAST(floor(abs(1e6 * CAST(hits AS DOUBLE) / 10.0) + 0.5)
                    AS BIGINT) AS p_at_k_q6,
               CASE WHEN n_rel > 0 THEN
                   CAST(floor(abs(1e6 * CAST(hits AS DOUBLE)
                                  / CAST(n_rel AS DOUBLE)) + 0.5)
                        AS BIGINT) END AS r_at_k_q6,
               CASE WHEN first_rel IS NOT NULL THEN
                   CAST(floor(abs(1e6 / CAST(first_rel AS DOUBLE)) + 0.5)
                        AS BIGINT) END AS mrr_q6,
               CASE WHEN idcg > 0 THEN
                   CAST(floor(abs(1e6 * dcg / idcg) + 0.5) AS BIGINT)
               END AS ndcg_at_k_q6
        FROM a
    """
    # vocab_coverage: spectrum from two cascaded aggs; Chao1 /
    # Good-Turing as the same single-division expression trees
    d["vocab_coverage"] = """
        WITH t AS (
            SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents),
        c AS (SELECT lang, w, count(*) AS c FROM t GROUP BY 1, 2),
        a AS (
            SELECT lang,
                   count(*) AS vocab,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n1_hapax,
                   CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n2_dis
            FROM c GROUP BY 1)
        SELECT lang, vocab, n_tokens, n1_hapax, n2_dis,
               CAST(floor(abs(1e6 * CAST(n1_hapax AS DOUBLE)
                              / CAST(n_tokens AS DOUBLE)) + 0.5)
                    AS BIGINT) AS gt_unseen_q6,
               CAST(floor(abs(1e6 * (CAST(vocab AS DOUBLE)
                   + CAST(n1_hapax AS DOUBLE)
                     * (CAST(n1_hapax AS DOUBLE) - 1.0)
                     / (2.0 * (CAST(n2_dis AS DOUBLE) + 1.0)))) + 0.5)
                    AS BIGINT) AS chao1_q6
        FROM a
    """
    # term_dispersion: integer moments + the corrected two-pass
    # variance identity, identical parenthesization
    d["term_dispersion"] = """
        WITH p AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        pd AS (SELECT term, doc_id, count(*) AS c FROM p GROUP BY 1, 2),
        pt AS (
            SELECT term, count(*) AS doc_freq,
                   CAST(sum(c) AS BIGINT) AS total_count,
                   CAST(sum(c * c) AS BIGINT) AS sum_sq
            FROM pd GROUP BY 1),
        nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
        top AS (
            SELECT pt.*, nd.n,
                   row_number() OVER (ORDER BY total_count DESC,
                                      term ASC) AS r
            FROM pt, nd)
        SELECT term, doc_freq, total_count, sum_sq,
               CAST(n AS BIGINT) AS n_docs,
               CAST(floor(abs(1e6 * CAST(total_count AS DOUBLE)
                              / CAST(doc_freq AS DOUBLE)) + 0.5)
                    AS BIGINT) AS burst_q6,
               CASE WHEN n > 1 THEN
               CAST(floor(abs(1e6 * ((CAST(sum_sq AS DOUBLE)
                       - CAST(total_count AS DOUBLE)
                         * CAST(total_count AS DOUBLE)
                         / CAST(n AS DOUBLE))
                      / (CAST(n AS DOUBLE) - 1.0))
                   / (CAST(total_count AS DOUBLE) / CAST(n AS DOUBLE)))
                   + 0.5) AS BIGINT) END AS fano_q6
        FROM top WHERE r <= 50
    """

    # isotonic: the staged minimax-characterization fit (exact
    # Fractions; independent of the engine's PAV stack)
    d["isotonic"] = f"""
        SELECT event_type, x, n, y_sum, yhat_num, yhat_den, yhat_q6
        FROM read_parquet('{_dump_path("isotonic_oracle")}')
    """
    # heaps_growth: per-cutoff conditional sums over docs and over the
    # per-term first-occurrence ids
    d["heaps_growth"] = """
        WITH cuts AS (
            SELECT unnest([16, 32, 64, 128, 256, 512, 1024,
                           1099511627776]) AS cutoff),
        d AS (
            SELECT doc_id, len(string_split(text, ' ')) AS toks
            FROM documents),
        w AS (
            SELECT unnest(string_split(text, ' ')) AS term, doc_id
            FROM documents),
        firsts AS (SELECT term, min(doc_id) AS first_id FROM w GROUP BY 1),
        dd AS (
            SELECT c.cutoff,
                   CAST(sum(CASE WHEN d.doc_id <= c.cutoff THEN 1
                                 ELSE 0 END) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN d.doc_id <= c.cutoff THEN d.toks
                                 ELSE 0 END) AS BIGINT) AS n_tokens
            FROM cuts c, d GROUP BY 1),
        vv AS (
            SELECT c.cutoff,
                   CAST(sum(CASE WHEN f.first_id <= c.cutoff THEN 1
                                 ELSE 0 END) AS BIGINT) AS vocab
            FROM cuts c, firsts f GROUP BY 1)
        SELECT dd.cutoff, dd.n_docs, dd.n_tokens, vv.vocab
        FROM dd JOIN vv USING (cutoff)
    """
    # pref_winrate: identical canonicalization + Wilson with the same
    # shared z literal (all operations correctly rounded)
    d["pref_winrate"] = """
        WITH pr AS (
            SELECT 'm' || CAST(event_id % 7 AS VARCHAR) AS ma,
                   'm' || CAST((event_id * 3 + 1) % 7 AS VARCHAR) AS mb,
                   CASE (event_id * 5) % 3 WHEN 0 THEN 'a'
                        WHEN 1 THEN 'b' ELSE 'tie' END AS w
            FROM events),
        canon AS (
            SELECT least(ma, mb) AS model_a, greatest(ma, mb) AS model_b,
                   CASE WHEN ma <= mb THEN w
                        WHEN w = 'a' THEN 'b'
                        WHEN w = 'b' THEN 'a' ELSE 'tie' END AS w
            FROM pr WHERE least(ma, mb) <> greatest(ma, mb)),
        a AS (
            SELECT model_a, model_b,
                   CAST(sum(CASE WHEN w = 'a' THEN 1 ELSE 0 END)
                        AS BIGINT) AS a_wins,
                   CAST(sum(CASE WHEN w = 'b' THEN 1 ELSE 0 END)
                        AS BIGINT) AS b_wins,
                   CAST(sum(CASE WHEN w = 'tie' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ties
            FROM canon GROUP BY 1, 2),
        f AS (
            SELECT *,
                   CAST(a_wins + b_wins AS DOUBLE) AS n,
                   1.959963984540054 AS z,
                   1.959963984540054 * 1.959963984540054 AS z2,
                   CAST(a_wins AS DOUBLE)
                       / CAST(a_wins + b_wins AS DOUBLE) AS p
            FROM a)
        SELECT model_a, model_b, a_wins, b_wins, ties,
               CASE WHEN n > 0 THEN
                   CAST(floor(abs(1e6 * p) + 0.5) AS BIGINT)
               END AS winrate_q6,
               CASE WHEN n > 0 THEN
                   CAST(CASE WHEN (p + z2 / (2.0 * n)
                         - z * sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n))
                        / (1.0 + z2 / n) >= 0 THEN
                       floor(abs(1e6 * ((p + z2 / (2.0 * n)
                         - z * sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n))
                        / (1.0 + z2 / n))) + 0.5)
                   ELSE -floor(abs(1e6 * ((p + z2 / (2.0 * n)
                         - z * sqrt((p * (1.0 - p) + z2 / (4.0 * n)) / n))
                        / (1.0 + z2 / n))) + 0.5) END AS BIGINT)
               END AS wilson_lb_q6
        FROM f
    """

    # seasonal_strength: same decomposition CTE as seasonal_decompose,
    # explicit sum-of-squares variances, identical parenthesization,
    # the documented 1e-9 tie shift
    d["seasonal_strength"] = """
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS bt,
                   sum(value) AS v
            FROM events GROUP BY 1, 2),
        t AS (SELECT event_type, bt, v,
                     avg(v) OVER (PARTITION BY event_type ORDER BY bt
                                  ROWS BETWEEN 12 PRECEDING
                                  AND 12 FOLLOWING) AS trend
              FROM b),
        s AS (SELECT event_type, v - trend AS dd,
                     (v - trend) - avg(v - trend) OVER (
                         PARTITION BY event_type, date_part('hour', bt))
                         AS rr
              FROM t),
        a AS (SELECT event_type,
                     count(*) AS n_buckets,
                     sum(rr) AS sr, sum(rr * rr) AS srr,
                     sum(dd) AS sd, sum(dd * dd) AS sdd
              FROM s GROUP BY 1),
        f AS (SELECT event_type, n_buckets,
                     srr / n - (sr / n) * (sr / n) AS var_r,
                     sdd / n - (sd / n) * (sd / n) AS var_d
              FROM (SELECT *, CAST(n_buckets AS DOUBLE) AS n FROM a)),
        g AS (SELECT event_type, n_buckets, var_d,
                     greatest(0.0, 1.0 - var_r / var_d) - 1e-9 AS st
              FROM f)
        SELECT event_type, n_buckets,
               CASE WHEN var_d > 0 THEN
                   greatest(0, CAST(CASE WHEN st >= 0
                       THEN floor(abs(1e6 * st) + 0.5)
                       ELSE -floor(abs(1e6 * st) + 0.5) END AS BIGINT))
               END AS strength_q6
        FROM g
    """
    d["croston"] = f"""
        SELECT series, n_demands, size_level, interval_level, forecast
        FROM read_parquet('{_dump_path("croston_oracle")}')
    """
    # html_tables: identical synthesis + 3-level non-greedy extraction
    # via the index-unnest pattern
    d["html_tables"] = r"""
        WITH pages AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN '<p>no tables here</p>'
                   ELSE '<html><body>'
                     || '<table class="data"><tr><th>name</th>'
                     || '<th> value </th></tr>'
                     || '<tr><td>k' || CAST(doc_id % 13 AS VARCHAR)
                     || '</td><td>' || CAST(doc_id * 7 % 1000 AS VARCHAR)
                     || '</td></tr>'
                     || '<tr><td>a' || CAST(doc_id AS VARCHAR)
                     || '</td><td> <b>v' || CAST(doc_id * 3 AS VARCHAR)
                     || '</b>' || chr(10) || ' &amp; more </td></tr>'
                     || '</table>'
                     || CASE WHEN doc_id % 7 = 0 THEN
                          '<TABLE><tr><td>only' || CAST(doc_id AS VARCHAR)
                          || '</td></tr></TABLE>'
                        ELSE '' END
                     || '</body>'
                   END AS html
            FROM documents),
        t0 AS (
            SELECT doc_id,
                   regexp_extract_all(html,
                       '(?is)<table[^>]*>(.*?)</table>', 1) AS tbls
            FROM pages),
        t1 AS (
            SELECT doc_id, i - 1 AS table_idx, tbls[i] AS tbl
            FROM t0, unnest(range(1, len(tbls) + 1)) AS u(i)),
        r0 AS (
            SELECT doc_id, table_idx,
                   regexp_extract_all(tbl,
                       '(?is)<tr[^>]*>(.*?)</tr>', 1) AS rws
            FROM t1),
        r1 AS (
            SELECT doc_id, table_idx, i - 1 AS row_idx, rws[i] AS rw
            FROM r0, unnest(range(1, len(rws) + 1)) AS u(i)),
        c0 AS (
            SELECT doc_id, table_idx, row_idx,
                   regexp_extract_all(rw,
                       '(?is)<t[dh][^>]*>(.*?)</t[dh]>', 1) AS cls
            FROM r1),
        c1 AS (
            SELECT doc_id, table_idx, row_idx, i - 1 AS col_idx,
                   cls[i] AS cell
            FROM c0, unnest(range(1, len(cls) + 1)) AS u(i))
        SELECT doc_id, table_idx, row_idx, col_idx,
               trim(regexp_replace(
                   regexp_replace(cell, '<[^>]*>', '', 'g'),
                   '\s+', ' ', 'g')) AS cell_text
        FROM c1
    """

    # funnel_windowed: same greedy-earliest chain with gap bounds
    d["funnel_windowed"] = """
        WITH e AS (
            SELECT user_id AS u, event_type AS t,
                   epoch_us(ts) // 1000000 AS s
            FROM events),
        s1 AS (SELECT u, min(s) AS t1 FROM e WHERE t = 'view' GROUP BY 1),
        s2 AS (SELECT e.u, min(e.s) AS t2 FROM e JOIN s1 ON e.u = s1.u
               WHERE e.t = 'click' AND e.s > s1.t1
                 AND e.s <= s1.t1 + 7200 GROUP BY 1),
        s3 AS (SELECT e.u, min(e.s) AS t3 FROM e JOIN s2 ON e.u = s2.u
               WHERE e.t = 'purchase' AND e.s > s2.t2
                 AND e.s <= s2.t2 + 21600 GROUP BY 1)
        SELECT 1 AS step, 'view' AS event_type, count(*) AS users FROM s1
        UNION ALL
        SELECT 2, 'click', count(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase', count(*) FROM s3
    """
    # retention_cost: per-tier bucket grids (hour/day epoch-aligned,
    # week Monday-aligned), horizon back from each grid's max
    d["retention_cost"] = """
        WITH raw AS (
            SELECT event_type, epoch_us(ts) AS us FROM events),
        grids AS (
            SELECT 'hour' AS tier, 7 AS days, 14 AS bpr,
                   3600000000 AS unit, 0 AS off FROM (VALUES (1))
            UNION ALL SELECT 'day', 90, 16, 86400000000, 0
            UNION ALL SELECT 'week', 730, 18, 604800000000, 345600000000),
        b AS (
            SELECT g.tier, g.days, g.bpr,
                   ((raw.us - g.off) // g.unit) * g.unit + g.off AS b_us
            FROM raw, grids g
            GROUP BY 1, 2, 3, raw.event_type, 4),
        m AS (SELECT tier, max(b_us) AS mx FROM b GROUP BY 1)
        SELECT b.tier,
               count(*) AS total_buckets,
               CAST(sum(CASE WHEN b.b_us >= m.mx - b.days * 86400000000
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS retained_buckets,
               CAST(sum(CASE WHEN b.b_us >= m.mx - b.days * 86400000000
                             THEN 1 ELSE 0 END) * b.bpr AS BIGINT)
                   AS retained_bytes,
               CAST(b.days AS BIGINT) AS retention_days
        FROM b JOIN m USING (tier)
        GROUP BY 1, b.days, b.bpr
    """
    d["s2g_detection_eval"] = f"""
        SELECT sid, n_windows, top1_idx, top1_planted, p_at_10_q6
        FROM read_parquet('{_dump_path("s2g_eval_oracle")}')
    """

    # rbo: the SAME suffix-sum weight table, computed by the same
    # Python loop and injected as literals on both engines
    _rbo_w = [0.0] * 22
    for _d in range(20, 0, -1):
        _rbo_w[_d] = _rbo_w[_d + 1] + (0.9 ** (_d - 1)) / _d
    _rbo_case = " ".join(
        f"WHEN {m} THEN {(1.0 - 0.9) * _rbo_w[m]!r}"
        for m in range(1, 21)
    )
    d["rbo"] = f"""
        WITH ra AS (
            SELECT doc_id % 10 AS qid, doc_id AS id,
                   row_number() OVER (PARTITION BY doc_id % 10
                       ORDER BY (doc_id * 31) % 101 DESC, doc_id ASC)
                       AS rank
            FROM documents),
        rb AS (
            SELECT doc_id % 10 AS qid, doc_id AS id,
                   row_number() OVER (PARTITION BY doc_id % 10
                       ORDER BY (doc_id * 37) % 103 DESC, doc_id ASC)
                       AS rank
            FROM documents),
        p AS (
            SELECT ra.qid, greatest(ra.rank, rb.rank) AS m
            FROM ra JOIN rb ON ra.qid = rb.qid AND ra.id = rb.id
            WHERE ra.rank <= 20 AND rb.rank <= 20)
        SELECT qid AS query, count(*) AS n_common,
               CAST(floor(abs(1e6 * sum(CASE m {{_rbo_case}} ELSE 0.0 END))
                          + 0.5) AS BIGINT) AS rbo_q6
        FROM p GROUP BY 1
    """.replace("{_rbo_case}", _rbo_case)
    d["bitmap_filter"] = """
        SELECT doc_id AS id FROM documents
        WHERE lang = 'en' AND (doc_id * 7) % 3 = 0
    """
    d["zlib_ratio"] = f"""
        SELECT doc_id, n_raw_bytes, n_zlib_bytes, ratio_q6
        FROM read_parquet('{_dump_path("zlib_oracle")}')
    """

    # streaming_kmv: the BATCH bottom-k sketch of the full history —
    # hash equality proves the streaming store's mergeability
    _skmv_v52 = " + ".join(
        f"((strpos('0123456789abcdef', substr(kth_hex, {i + 1}, 1))"
        f" - CAST(1 AS BIGINT)) * {1 << (4 * (12 - i))})"
        for i in range(13)
    )
    d["streaming_kmv"] = f"""
        WITH base AS (
            SELECT DISTINCT event_type,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events),
        ranked AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY h) AS rn
            FROM base),
        sk AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
                   max(h) AS kth_hex
            FROM ranked WHERE rn <= 64 GROUP BY 1)
        SELECT event_type, n_kept, kth_hex,
               CAST(CASE WHEN n_kept < 64 THEN n_kept
                    ELSE {63 * (1 << 52)}
                         // greatest(CAST({_skmv_v52} AS BIGINT), 1)
                    END AS BIGINT) AS est_distinct
        FROM sk
    """
    # politeness_audit: bot cadence from the doc_id arithmetic (the
    # log_observability independent-derivation pattern)
    d["politeness_audit"] = """
        WITH p AS (
            SELECT doc_id,
                   CASE doc_id % 4
                     WHEN 1 THEN
                       'Googlebot/2.1 (+http://www.google.com/bot.html)'
                     WHEN 2 THEN 'curl/8.4.0'
                     ELSE 'SpiderX/1.0 crawler' END AS ua,
                   '10.' || CAST(doc_id % 256 AS VARCHAR) AS ip16,
                   epoch_us(make_timestamp(
                       2024,
                       CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 6
                            ELSE 11 END,
                       (doc_id % 28) + 1, doc_id % 24, doc_id % 60,
                       CAST((doc_id * 7) % 60 AS DOUBLE))) // 1000000
                       AS s,
                   '/p/' || CAST(doc_id AS VARCHAR) AS path
            FROM documents
            WHERE doc_id % 97 <> 0 AND doc_id % 4 <> 0),
        g AS (
            SELECT ua, ip16, s,
                   s - lag(s) OVER (PARTITION BY ua, ip16
                                    ORDER BY s, path) AS gap
            FROM p),
        a AS (
            SELECT ua, ip16, count(*) AS n_requests,
                   min(gap) AS min_gap_s,
                   CAST(sum(CASE WHEN gap < 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM g GROUP BY 1, 2)
        SELECT * FROM a WHERE n_requests >= 2
    """

    # e2e_curation: the full funnel mirrored stage by stage — gopher
    # integer-inequality flags (min_words=10), digest dedup, 512-token
    # integer packing
    d["e2e_curation"] = """
        WITH b AS (
          SELECT doc_id, lang, text,
                 string_split(text, ' ') AS toks,
                 string_split(text, chr(10)) AS lns,
                 length(text) AS l,
                 length(replace(text, '#', '')) AS lh,
                 length(replace(text, '...', '')) AS le
          FROM documents),
        m AS (
          SELECT doc_id, lang, text,
                 len(toks) AS n_words,
                 l - (len(toks) - 1) AS swc,
                 CAST((l - lh) + (l - le) / 3 AS BIGINT) AS n_symbols,
                 len(lns) AS n_lines,
                 len(list_filter(lns, x -> x LIKE '- %' OR x LIKE '* %'
                                        OR x LIKE '• %')) AS n_bullet,
                 len(list_filter(lns, x -> x LIKE '%...')) AS n_ell,
                 len(list_filter(toks,
                                 x -> regexp_matches(x, '[A-Za-z]')))
                     AS n_alpha,
                 (CAST(list_contains(toks, 'the') AS INT)
                  + CAST(list_contains(toks, 'be') AS INT)
                  + CAST(list_contains(toks, 'to') AS INT)
                  + CAST(list_contains(toks, 'of') AS INT)
                  + CAST(list_contains(toks, 'and') AS INT)
                  + CAST(list_contains(toks, 'that') AS INT)
                  + CAST(list_contains(toks, 'have') AS INT)
                  + CAST(list_contains(toks, 'with') AS INT)) AS sw
          FROM b),
        kept AS (
          SELECT doc_id, lang, text, n_words FROM m
          WHERE (n_words >= 30 AND n_words <= 100000)
            AND (swc >= 3 * n_words AND swc <= 10 * n_words)
            AND (10 * n_symbols <= n_words)
            AND (10 * n_bullet < 9 * n_lines)
            AND (10 * n_ell <= 3 * n_lines)
            AND (5 * n_alpha >= 4 * n_words)),
        uniq AS (
          SELECT doc_id, lang, n_words FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text)
                                         ORDER BY doc_id) AS rn
            FROM kept) WHERE rn = 1),
        packed AS (
          SELECT lang, doc_id, n_words,
                 sum(n_words) OVER (PARTITION BY lang ORDER BY doc_id)
                     - n_words AS st
          FROM uniq),
        sp AS (
          SELECT lang, count(*) AS n_unique,
                 CAST(sum(n_words) AS BIGINT) AS total_tokens,
                 count(DISTINCT st // 512) AS n_bins,
                 CAST(sum(CASE WHEN st % 512 + n_words > 512
                               THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_spanning
          FROM packed GROUP BY 1),
        si AS (SELECT lang, count(*) AS n_input FROM documents GROUP BY 1),
        sq AS (SELECT lang, count(*) AS n_quality FROM kept GROUP BY 1)
        SELECT si.lang, si.n_input,
               COALESCE(sq.n_quality, 0) AS n_quality,
               COALESCE(sp.n_unique, 0) AS n_unique,
               COALESCE(sp.total_tokens, 0) AS total_tokens,
               COALESCE(sp.n_bins, 0) AS n_bins,
               COALESCE(sp.n_spanning, 0) AS n_spanning
        FROM si LEFT JOIN sq USING (lang) LEFT JOIN sp USING (lang)
    """

    d["k_anonymity"] = """
        WITH q AS (
            SELECT event_type, user_id % 50 AS age_band,
                   date_part('hour', ts) AS hod, count(*) AS n
            FROM events GROUP BY 1, 2, 3)
        SELECT n AS class_size,
               count(*) AS n_classes,
               CAST(n * count(*) AS BIGINT) AS n_rows,
               (n < 5) AS violates
        FROM q GROUP BY 1
    """
    # script_mix: RE2's spelling of the same Unicode script classes
    d["script_mix"] = """
        WITH syn AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0
                           THEN ' 数据 处理 引擎' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0
                           THEN ' данные поток' ELSE '' END
                   || CASE WHEN doc_id % 7 = 0
                           THEN ' بيانات ٢٠٢٤' ELSE '' END AS t
            FROM documents),
        c AS (
            SELECT doc_id,
                   len(regexp_extract_all(t, '\\p{Latin}')) AS n_latin,
                   len(regexp_extract_all(t, '\\p{Han}')) AS n_han,
                   len(regexp_extract_all(t, '\\p{Cyrillic}'))
                       AS n_cyrillic,
                   len(regexp_extract_all(t, '\\p{Arabic}')) AS n_arabic,
                   len(regexp_extract_all(t, '[0-9]')) AS n_digit
            FROM syn)
        SELECT doc_id, n_latin, n_han, n_cyrillic, n_arabic, n_digit,
               CASE WHEN greatest(n_latin, n_han, n_cyrillic, n_arabic)
                         = 0 THEN 'none'
                    WHEN n_latin >= n_han AND n_latin >= n_cyrillic
                         AND n_latin >= n_arabic THEN 'latin'
                    WHEN n_han >= n_cyrillic AND n_han >= n_arabic
                         THEN 'han'
                    WHEN n_cyrillic >= n_arabic THEN 'cyrillic'
                    ELSE 'arabic' END AS dominant,
               ((CASE WHEN n_latin > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN n_han > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN n_arabic > 0 THEN 1 ELSE 0 END)) >= 2
                   AS mixed
        FROM c
    """
    d["counter_repair"] = """
        WITH h AS (
            SELECT event_type,
                   epoch_us(ts) // 1000000
                       - (epoch_us(ts) // 1000000) % 3600 AS bucket_s,
                   count(*) AS n
            FROM events GROUP BY 1, 2),
        wrapped AS (
            SELECT event_type, bucket_s,
                   CAST(sum(n) OVER (PARTITION BY event_type
                                ORDER BY bucket_s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) % 5000 AS BIGINT) AS raw
            FROM h),
        d2 AS (
            SELECT event_type, bucket_s, raw,
                   raw - lag(raw) OVER (PARTITION BY event_type
                                        ORDER BY bucket_s) AS delta
            FROM wrapped)
        SELECT event_type, bucket_s, raw,
               CAST(sum(CASE WHEN delta IS NULL THEN raw
                             ELSE greatest(delta, 0) END)
                    OVER (PARTITION BY event_type ORDER BY bucket_s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS BIGINT) AS corrected
        FROM d2
    """

    d["salted_join"] = """
        WITH dim(event_type, weight) AS (
            VALUES ('view', 1), ('click', 2), ('purchase', 5),
                   ('signup', 3), ('error', 7))
        SELECT e.event_type, count(*) AS n_rows,
               CAST(sum(e.user_id * d.weight) AS BIGINT) AS weighted_sum
        FROM events e JOIN dim d USING (event_type)
        GROUP BY 1
    """
    d["ht_estimate"] = """
        WITH s AS (
            SELECT event_type, length(props) AS plen,
                   md5(CAST(event_id AS VARCHAR)) AS h,
                   CASE event_type WHEN 'click' THEN 4
                        WHEN 'error' THEN 16 ELSE 8 END AS denom,
                   CASE event_type
                        WHEN 'click' THEN '4' || repeat('0', 31)
                        WHEN 'error' THEN '1' || repeat('0', 31)
                        ELSE '2' || repeat('0', 31) END AS thr
            FROM events)
        SELECT event_type, CAST(denom AS BIGINT) AS denom,
               count(*) AS n_sampled,
               CAST(sum(plen * denom) AS BIGINT) AS ht_total,
               CAST(sum(denom) AS BIGINT) AS ht_count
        FROM s WHERE h < thr GROUP BY 1, 2
    """

    # chi2_drift: the tv/psi grid with the chi-square finalizer —
    # exact long cross term d, squared in double, supported bins only
    d["chi2_drift"] = """
        WITH b AS (
            SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
        ev AS (
            SELECT e.event_type, e.value, epoch_us(e.ts) AS t_us,
                   (epoch_us(e.ts) < b.t0 + 604800000000) AS is_base
            FROM events e JOIN b USING (event_type)),
        bs AS (
            SELECT event_type, min(value) AS v_lo, max(value) AS v_hi
            FROM ev WHERE is_base GROUP BY 1),
        binned AS (
            SELECT ev.*,
                   CASE WHEN v_hi = v_lo THEN 0
                        ELSE least(9, greatest(0, CAST(floor(
                            (value - v_lo) / ((v_hi - v_lo) / 10.0))
                            AS INT)))
                   END AS bin
            FROM ev JOIN bs USING (event_type)),
        mh AS (
            SELECT event_type, bin, count(*) AS m_i
            FROM binned WHERE is_base GROUP BY 1, 2),
        mt AS (SELECT event_type, sum(m_i) AS m_total FROM mh GROUP BY 1),
        nh AS (
            SELECT event_type, (t_us // 86400000000) * 86400 AS ws, bin,
                   count(*) AS n_i
            FROM binned WHERE NOT is_base GROUP BY 1, 2, 3),
        nt AS (
            SELECT event_type, ws, sum(n_i) AS n_total
            FROM nh GROUP BY 1, 2),
        grid AS (
            SELECT nt.event_type, nt.ws, nt.n_total, g.bin
            FROM nt, (SELECT unnest(range(0, 10)) AS bin) g),
        j AS (
            SELECT grid.event_type, grid.ws,
                   CAST(grid.n_total AS BIGINT) AS n_total,
                   CAST(mt.m_total AS BIGINT) AS m_total,
                   CAST(coalesce(nh.n_i, 0) AS BIGINT) AS n_i,
                   CAST(coalesce(mh.m_i, 0) AS BIGINT) AS m_i
            FROM grid
            LEFT JOIN nh ON nh.event_type = grid.event_type
                        AND nh.ws = grid.ws AND nh.bin = grid.bin
            LEFT JOIN mh ON mh.event_type = grid.event_type
                        AND mh.bin = grid.bin
            JOIN mt ON mt.event_type = grid.event_type),
        t AS (
            SELECT event_type, ws, n_total,
                   CASE WHEN m_i > 0 THEN 1 ELSE 0 END AS supported,
                   CASE WHEN m_i > 0 THEN
                       CAST(n_i * m_total - m_i * n_total AS DOUBLE)
                       * CAST(n_i * m_total - m_i * n_total AS DOUBLE)
                       / (CAST(m_i AS DOUBLE) * CAST(n_total AS DOUBLE)
                          * CAST(m_total AS DOUBLE))
                   ELSE 0.0 END AS term
            FROM j)
        SELECT event_type, CAST(ws AS BIGINT) AS ws, n_total,
               CAST(sum(supported) - 1 AS BIGINT) AS dof,
               CAST(floor(abs(1e6 * sum(term)) + 0.5) AS BIGINT)
                   AS chi2_q6
        FROM t GROUP BY 1, 2, 3
    """

    d["drag_discords_tiers"] = f"""
        SELECT tier, event_type, range_start, range_end, peak_q6
        FROM read_parquet('{_dump_path("drag_tiers_oracle")}')
    """
    d["schema_evolution"] = f"""
        SELECT doc_id, CAST(cnt AS BIGINT) AS doc_count,
               CAST(NULL AS VARCHAR) AS lang, src
        FROM read_parquet('{_dump_path("evo_v1_dir")}/*.parquet')
        UNION ALL
        SELECT doc_id, doc_count, lang, CAST(NULL AS VARCHAR) AS src
        FROM read_parquet('{_dump_path("evo_v2_dir")}/*.parquet')
    """
    d["partitioned_prune"] = """
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               count(*) AS n_events
        FROM events
        WHERE strftime(ts, '%Y-%m-%d') IN ('2024-01-05', '2024-01-17')
        GROUP BY 1, 2
    """
    d["cdc_apply"] = """
        WITH ops AS (
            SELECT 'e' || CAST(doc_id % 120 AS VARCHAR) AS entity,
                   doc_id * 10 + k.k AS seq,
                   CASE WHEN (doc_id + k.k) % 11 = 0 THEN 'D'
                        WHEN k.k = 0 THEN 'I' ELSE 'U' END AS op,
                   doc_id * 100 + k.k * 7 AS val
            FROM documents, (SELECT unnest(range(0, 4)) AS k) k),
        r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY entity
                                      ORDER BY seq DESC) AS rn,
                   count(*) OVER (PARTITION BY entity) AS n_ops
            FROM ops)
        SELECT entity, seq, op, val, CAST(n_ops AS BIGINT) AS n_ops
        FROM r WHERE rn = 1 AND op <> 'D'
    """
    d["merkle_tiers"] = """
        WITH rows_ AS (
            SELECT event_type AS key,
                   date_trunc('hour', ts) AS bh,
                   md5(coalesce(CAST(event_id AS VARCHAR), '') || '|'
                       || coalesce(CAST(user_id AS VARCHAR), '')) AS h
            FROM events),
        hour AS (
            SELECT key, bh,
                   md5(string_agg(h, '' ORDER BY h)) AS h
            FROM rows_ GROUP BY 1, 2),
        day AS (
            SELECT key, date_trunc('day', bh) AS bd,
                   md5(string_agg(h, '' ORDER BY h)) AS h
            FROM hour GROUP BY 1, 2),
        root AS (
            SELECT key, md5(string_agg(h, '' ORDER BY h)) AS h
            FROM day GROUP BY 1)
        SELECT 'hour' AS level, key,
               strftime(bh, '%Y-%m-%d %H:%M:%S') AS bucket_ts, h
        FROM hour
        UNION ALL
        SELECT 'day', key, strftime(bd, '%Y-%m-%d %H:%M:%S'), h FROM day
        UNION ALL
        SELECT 'root', key, CAST(NULL AS VARCHAR), h FROM root
    """
    d["token_budget"] = """
        WITH q AS (
            SELECT doc_id, lang, n_chars, doc_id % 7 AS quality,
                   sum(n_chars) OVER (
                       PARTITION BY lang
                       ORDER BY doc_id % 7 DESC,
                                md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM documents)
        SELECT doc_id, lang, n_chars, CAST(quality AS BIGINT) AS quality
        FROM q WHERE cum <= 30000
    """
    d["join_size_estimate"] = """
        WITH ha AS (
            SELECT md5(CAST(user_id % 150 AS VARCHAR)) AS h,
                   CAST(count(*) AS BIGINT) AS na
            FROM events GROUP BY 1),
        hb AS (
            SELECT md5(CAST(doc_id % 150 AS VARCHAR)) AS h,
                   CAST(count(*) AS BIGINT) AS nb
            FROM documents GROUP BY 1),
        j AS (SELECT ha.h, na, nb FROM ha JOIN hb ON ha.h = hb.h)
        SELECT substr(h, 1, 1) AS bucket,
               CAST(count(*) AS BIGINT) AS n_keys_both,
               CAST(sum(na * nb) AS BIGINT) AS est_rows,
               CAST(max(na * nb) AS BIGINT) AS max_key_rows
        FROM j GROUP BY 1
    """
    d["range_splits"] = """
        WITH r AS (
            SELECT n_chars, doc_id,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS rk,
                   count(*) OVER () AS n
            FROM documents),
        s AS (
            SELECT r.*, i.i
            FROM r, (SELECT unnest(range(1, 8)) AS i) i
            WHERE rk = (i.i * n + 7) // 8),
        dedup AS (
            SELECT rk, n_chars, doc_id,
                   CAST(min(i) AS BIGINT) AS split_idx
            FROM s GROUP BY 1, 2, 3)
        SELECT split_idx, n_chars, doc_id FROM dedup
    """
    d["link_reciprocity"] = """
        WITH fwd AS (
            SELECT 'h' || CAST(doc_id % 97 AS VARCHAR) AS src,
                   'h' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS dst
            FROM documents),
        back AS (
            SELECT 'h' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS src,
                   'h' || CAST(doc_id % 97 AS VARCHAR) AS dst
            FROM documents WHERE doc_id % 3 = 0),
        e AS (
            SELECT DISTINCT src AS a, dst AS b
            FROM (SELECT * FROM fwd UNION ALL SELECT * FROM back)
            WHERE src <> dst),
        rev AS (SELECT b AS a, a AS b, 1 AS r FROM e),
        f AS (
            SELECT e.a, coalesce(rev.r, 0) AS r
            FROM e LEFT JOIN rev ON e.a = rev.a AND e.b = rev.b)
        SELECT a AS src,
               CAST(count(*) AS BIGINT) AS n_out,
               CAST(sum(r) AS BIGINT) AS n_recip,
               CAST(1000 * sum(r) // count(*) AS BIGINT)
                   AS recip_permille
        FROM f GROUP BY 1
    """
    d["ann_sq8"] = f"""
        SELECT query_id, rank, vec_id, score
        FROM read_parquet('{_dump_path("sq8_oracle")}')
    """
    d["watermark_tuning"] = """
        WITH s AS (
            SELECT event_type AS key, event_id,
                   epoch_us(ts) // 1000000 AS ev_s,
                   epoch_us(ts) // 1000000
                     + (event_id % 13) * (event_id % 13) * 60 AS ar_s
            FROM events),
        w AS (
            SELECT key, ev_s,
                   max(ev_s) OVER (
                       PARTITION BY key ORDER BY ar_s, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS wm
            FROM s),
        per_key AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n_total,
                   CAST(sum(CASE WHEN wm IS NOT NULL
                                  AND ev_s < wm - 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d0,
                   CAST(sum(CASE WHEN wm IS NOT NULL
                                  AND ev_s < wm - 600 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d600,
                   CAST(sum(CASE WHEN wm IS NOT NULL
                                  AND ev_s < wm - 3600 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d3600,
                   CAST(sum(CASE WHEN wm IS NOT NULL
                                  AND ev_s < wm - 10800 THEN 1 ELSE 0 END)
                        AS BIGINT) AS d10800
            FROM w GROUP BY 1)
        SELECT key, CAST(dl.delay_sec AS BIGINT) AS delay_sec, n_total,
               CAST(CASE dl.delay_sec WHEN 0 THEN d0 WHEN 600 THEN d600
                    WHEN 3600 THEN d3600 ELSE d10800 END AS BIGINT)
                   AS n_dropped,
               CAST(1000 * (CASE dl.delay_sec WHEN 0 THEN d0
                    WHEN 600 THEN d600 WHEN 3600 THEN d3600
                    ELSE d10800 END) // n_total AS BIGINT)
                   AS dropped_permille
        FROM per_key,
             (SELECT unnest([0, 600, 3600, 10800]) AS delay_sec) dl
    """
    d["encoding_advisor"] = """
        WITH cols AS (
            SELECT 'lang' AS column_name, CAST(lang AS VARCHAR) AS v,
                   doc_id AS o FROM documents
            UNION ALL
            SELECT 'source', CAST(source AS VARCHAR), doc_id
            FROM documents
            UNION ALL
            SELECT 'doc_id', CAST(doc_id AS VARCHAR), doc_id
            FROM documents
            UNION ALL
            SELECT 'n_chars', CAST(n_chars AS VARCHAR), doc_id
            FROM documents),
        runs AS (
            SELECT column_name, v,
                   CASE WHEN lag(coalesce(v, chr(0))) OVER w IS NULL
                            THEN 1
                        WHEN lag(coalesce(v, chr(0))) OVER w
                             <> coalesce(v, chr(0)) THEN 1
                        ELSE 0 END AS new_run
            FROM cols
            WINDOW w AS (PARTITION BY column_name ORDER BY o)),
        agg AS (
            SELECT column_name AS "column",
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT v) AS BIGINT) AS ndv,
                   CAST(sum(new_run) AS BIGINT) AS n_runs,
                   CAST(100 * sum(length(coalesce(v, '')))
                        // count(*) AS BIGINT) AS avg_len_centichars
            FROM runs GROUP BY 1)
        SELECT *,
               CASE WHEN ndv * 20 <= n_rows THEN 'dict'
                    WHEN n_runs * 10 <= n_rows THEN 'rle'
                    ELSE 'plain' END AS recommendation
        FROM agg
    """
    d["merkle_refresh"] = """
        WITH t AS (
            SELECT event_type, date_trunc('hour', ts) AS bt,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(max(CASE WHEN ts >= TIMESTAMP '2024-01-26'
                            THEN 1 ELSE 0 END) AS BIGINT) AS refreshed
            FROM events GROUP BY 1, 2)
        SELECT event_type,
               strftime(bt, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               n_events, refreshed
        FROM t
    """
    _kmv_v52w = " + ".join(
        f"((strpos('0123456789abcdef', substr(kth_hex, {i + 1}, 1))"
        f" - CAST(1 AS BIGINT)) * {1 << (4 * (12 - i))})"
        for i in range(13)
    )
    d["kmv_sliding"] = f"""
        WITH base AS (
            SELECT DISTINCT event_type, date_trunc('hour', ts) AS bh,
                   md5(CAST(user_id AS VARCHAR)) AS h
            FROM events),
        hrs AS (SELECT DISTINCT event_type, bh FROM base),
        ends AS (
            SELECT DISTINCT event_type,
                   bh + k.k * INTERVAL 1 HOUR AS we
            FROM hrs, (SELECT unnest(range(0, 24)) AS k) k),
        member AS (
            SELECT DISTINCT e.event_type, e.we, b.h
            FROM ends e
            JOIN base b ON b.event_type = e.event_type
                       AND b.bh <= e.we
                       AND b.bh >= e.we - INTERVAL 23 HOUR),
        ranked AS (
            SELECT event_type, we, h,
                   row_number() OVER (PARTITION BY event_type, we
                                      ORDER BY h) AS rn
            FROM member),
        sk AS (
            SELECT event_type, we,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   max(h) AS kth_hex
            FROM ranked WHERE rn <= 32 GROUP BY 1, 2)
        SELECT event_type,
               strftime(we, '%Y-%m-%d %H:%M:%S') AS window_end,
               n_kept, kth_hex,
               CAST(CASE WHEN n_kept < 32 THEN n_kept
                    ELSE {31 * (1 << 52)}
                         // greatest(CAST({_kmv_v52w} AS BIGINT), 1)
                    END AS BIGINT) AS est_distinct
        FROM sk
    """
    d["fetch_decision"] = """
        WITH p AS (
            SELECT doc_id,
                   'h' || CAST(doc_id % 13 AS VARCHAR) AS host,
                   (doc_id % 13) % 2 = 0 AS strict_host,
                   CASE WHEN doc_id % 3 = 0
                            THEN '/private/x' || CAST(doc_id AS VARCHAR)
                        WHEN doc_id % 3 = 1
                            THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
                        ELSE '/pub/' || CAST(doc_id AS VARCHAR) END AS path,
                   CASE WHEN doc_id % 6 = 0 THEN 'no-store'
                        WHEN doc_id % 6 = 1 THEN 'no-cache'
                        WHEN doc_id % 6 = 2 THEN 'max-age'
                        WHEN doc_id % 6 = 3 THEN 's-maxage'
                        WHEN doc_id % 6 = 4 THEN 'heuristic'
                        ELSE 'none' END AS policy,
                   CASE WHEN doc_id % 6 = 2 THEN 600
                        WHEN doc_id % 6 = 3 THEN 300
                        WHEN doc_id % 6 = 4 THEN ((doc_id % 100) + 1) * 4
                        ELSE 0 END AS ttl_sec
            FROM documents),
        a AS (
            SELECT *,
                   CASE WHEN NOT strict_host THEN TRUE
                        WHEN path NOT LIKE '/private%' THEN TRUE
                        WHEN path LIKE '/private/ok%' THEN TRUE
                        ELSE FALSE END AS crawl_allowed
            FROM p)
        SELECT doc_id, host, path, policy,
               CAST(CASE WHEN crawl_allowed THEN 1 ELSE 0 END AS BIGINT)
                   AS crawl_allowed,
               CASE WHEN NOT crawl_allowed THEN 'blocked'
                    WHEN policy = 'no-store' THEN 'fetch'
                    WHEN policy <> 'no-cache'
                         AND doc_id + ttl_sec >= 800 THEN 'fresh'
                    ELSE 'revalidate' END AS decision
        FROM a
    """

    # ks_drift: exact integer KS numerator over union-of-values ECDFs —
    # baseline value-histogram replicated onto each period bucket
    d["ks_drift"] = """
        WITH b AS (
            SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
        ev AS (
            SELECT e.event_type, e.value, epoch_us(e.ts) AS t_us,
                   (epoch_us(e.ts) < b.t0 + 604800000000) AS is_base
            FROM events e JOIN b USING (event_type)),
        bvc AS (
            SELECT event_type, value AS v, count(*) AS nb
            FROM ev WHERE is_base GROUP BY 1, 2),
        dvc AS (
            SELECT event_type, (t_us // 86400000000) * 86400 AS ws,
                   value AS v, count(*) AS nd
            FROM ev WHERE NOT is_base GROUP BY 1, 2, 3),
        bk AS (SELECT DISTINCT event_type, ws FROM dvc),
        rep AS (
            SELECT bk.event_type, bk.ws, bvc.v, bvc.nb
            FROM bk JOIN bvc USING (event_type)),
        pts AS (
            SELECT coalesce(dvc.event_type, rep.event_type) AS event_type,
                   coalesce(dvc.ws, rep.ws) AS ws,
                   coalesce(dvc.v, rep.v) AS v,
                   CAST(coalesce(dvc.nd, 0) AS BIGINT) AS nd,
                   CAST(coalesce(rep.nb, 0) AS BIGINT) AS nb
            FROM dvc FULL JOIN rep
              ON dvc.event_type = rep.event_type
             AND dvc.ws = rep.ws AND dvc.v = rep.v),
        cum AS (
            SELECT event_type, ws,
                   sum(nd) OVER (PARTITION BY event_type, ws ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
                   sum(nb) OVER (PARTITION BY event_type, ws ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
                   sum(nd) OVER (PARTITION BY event_type, ws) AS n,
                   sum(nb) OVER (PARTITION BY event_type, ws) AS m
            FROM pts)
        SELECT event_type, CAST(ws AS BIGINT) AS ws,
               CAST(max(abs(cn * m - cm * n)) AS BIGINT) AS ks_numer,
               CAST(max(n) AS BIGINT) AS n_period,
               CAST(max(m) AS BIGINT) AS n_baseline
        FROM cum GROUP BY 1, 2
    """

    # page_hinkley: per-term nano-quantized integer PH — half-up integer
    # division (operands non-negative, so // == DIV)
    d["page_hinkley"] = """
        WITH x AS (
            SELECT event_type, ts, event_id,
                   CAST(CASE WHEN value >= 0
                        THEN floor(abs(value) * 1e6 + 0.5)
                        ELSE -floor(abs(value) * 1e6 + 0.5) END
                        AS BIGINT) AS xq
            FROM events),
        s AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS t,
                   xq * row_number() OVER (PARTITION BY event_type
                                           ORDER BY ts, event_id)
                   - sum(xq) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS d
            FROM x),
        dev AS (
            SELECT event_type, t,
                   (CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END)
                   * ((abs(d) * 1000 + t // 2) // t) AS term
            FROM s),
        m AS (
            SELECT event_type, t,
                   sum(term) OVER (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ms
            FROM dev),
        ph AS (
            SELECT event_type, t,
                   ms - min(ms) OVER (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p
            FROM m)
        SELECT event_type,
               CAST(max(t) AS BIGINT) AS n,
               CAST(max(p) AS BIGINT) AS max_ph_nano,
               CAST(sum(CASE WHEN p > 50000000000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_alarms,
               CAST(coalesce(min(CASE WHEN p > 50000000000 THEN t END), 0)
                    AS BIGINT) AS first_alarm_pos
        FROM ph GROUP BY 1
    """

    # ts_features: exact q6 battery — above-mean via xq*n > sum_q6,
    # runs via flip-cumsum islands
    d["ts_features"] = """
        WITH x AS (
            SELECT event_type, ts, event_id,
                   CAST(CASE WHEN value >= 0
                        THEN floor(abs(value) * 1e6 + 0.5)
                        ELSE -floor(abs(value) * 1e6 + 0.5) END
                        AS BIGINT) AS xq
            FROM events),
        s AS (
            SELECT event_type, xq,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id) AS t,
                   lag(xq) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS prev
            FROM x),
        tot AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(xq) AS BIGINT) AS sum_q6,
                   CAST(min(xq) AS BIGINT) AS min_q6,
                   CAST(max(xq) AS BIGINT) AS max_q6,
                   CAST(count(DISTINCT xq) AS BIGINT) AS n_distinct_q6,
                   CAST(coalesce(sum(abs(xq - prev)), 0) AS BIGINT)
                       AS abs_change_sum_q6
            FROM s GROUP BY 1),
        r AS (
            SELECT s.event_type, s.t,
                   (s.xq * tot.n > tot.sum_q6) AS above,
                   (s.prev * tot.n > tot.sum_q6) AS pabove,
                   (s.xq = tot.max_q6) AS ismax,
                   (s.prev IS NULL) AS fst
            FROM s JOIN tot USING (event_type)),
        f AS (
            SELECT *, CASE WHEN NOT fst AND above <> pabove
                           THEN 1 ELSE 0 END AS flip
            FROM r),
        g AS (
            SELECT *, sum(flip) OVER (PARTITION BY event_type ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            FROM f),
        run AS (
            SELECT event_type, CAST(max(cnt) AS BIGINT) AS longest_above
            FROM (SELECT event_type, island, count(*) AS cnt
                  FROM g WHERE above GROUP BY 1, 2)
            GROUP BY 1),
        agg AS (
            SELECT event_type,
                   CAST(sum(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_above,
                   CAST(sum(flip) AS BIGINT) AS n_cross,
                   CAST(min(CASE WHEN ismax THEN t END) AS BIGINT)
                       AS first_max_pos
            FROM g GROUP BY 1)
        SELECT tot.event_type, tot.n, tot.sum_q6, tot.min_q6, tot.max_q6,
               agg.n_above, agg.n_cross,
               CAST(coalesce(run.longest_above, 0) AS BIGINT)
                   AS longest_above,
               agg.first_max_pos, tot.abs_change_sum_q6, tot.n_distinct_q6
        FROM tot JOIN agg USING (event_type)
        LEFT JOIN run USING (event_type)
    """

    # peak_prominence: exact q6 find_peaks-with-prominence over hourly
    # count series — strict local maxima, nearest-higher bounds, valley
    # minima, prom = h - max(left_base, right_base)
    d["peak_prominence"] = """
        WITH s0 AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type, c * 1000000 AS xq,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY hw) AS t
            FROM s0),
        n AS (SELECT event_type, max(t) AS nn FROM s GROUP BY 1),
        lagd AS (
            SELECT event_type, t, xq,
                   lag(xq) OVER (PARTITION BY event_type ORDER BY t) AS lo,
                   lead(xq) OVER (PARTITION BY event_type ORDER BY t) AS hi
            FROM s),
        p AS (
            SELECT event_type, t AS tp, xq AS h
            FROM lagd WHERE xq > lo AND xq > hi),
        b AS (
            SELECT p.event_type, p.tp, p.h,
                   coalesce(max(CASE WHEN s.t < p.tp AND s.xq > p.h
                                     THEN s.t END), 0) AS lb,
                   coalesce(min(CASE WHEN s.t > p.tp AND s.xq > p.h
                                     THEN s.t END),
                            any_value(n.nn) + 1) AS rb
            FROM p JOIN s USING (event_type) JOIN n USING (event_type)
            GROUP BY 1, 2, 3),
        m AS (
            SELECT b.event_type, b.tp, b.h,
                   min(CASE WHEN s.t > b.lb AND s.t < b.tp
                            THEN s.xq END) AS bl,
                   min(CASE WHEN s.t > b.tp AND s.t < b.rb
                            THEN s.xq END) AS br
            FROM b JOIN s USING (event_type) GROUP BY 1, 2, 3)
        SELECT event_type, CAST(tp AS BIGINT) AS peak_pos,
               CAST(h AS BIGINT) AS height_q6,
               CAST(h - greatest(bl, br) AS BIGINT) AS prominence_q6
        FROM m WHERE h - greatest(bl, br) >= 3000000
    """

    # degree_assortativity: exact long Pearson moments over
    # (out-degree(src), in-degree(dst)) edge pairs of the synthetic
    # domain graph; r_q6 via sqrt(dx)*sqrt(dy) exactly as the Spark side
    d["degree_assortativity"] = """
        WITH e AS (
            SELECT DISTINCT
                   'h' || CAST(doc_id % 97 AS VARCHAR) AS src,
                   'h' || CAST((doc_id * 31 + 7) % 97 AS VARCHAR) AS dst
            FROM documents
            WHERE (doc_id % 97) <> ((doc_id * 31 + 7) % 97)),
        dout AS (SELECT src, count(*) AS x FROM e GROUP BY 1),
        din AS (SELECT dst, count(*) AS y FROM e GROUP BY 1),
        ed AS (
            SELECT dout.x, din.y
            FROM e JOIN dout USING (src) JOIN din USING (dst)),
        mom AS (
            SELECT CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy
            FROM ed)
        SELECT m, sx, sy, sxy, sxx, syy,
               CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
                    THEN CAST(
                      (CASE WHEN m * sxy - sx * sy >= 0 THEN 1 ELSE -1 END)
                      * floor(abs(
                          (m * sxy - sx * sy)
                          / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(m * syy - sy * sy AS DOUBLE)))
                        ) * 1e6 + 0.5) AS BIGINT)
                    ELSE 0 END AS r_q6
        FROM mom
    """

    # zipf_slope: q3-quantized logs of exact counts/ranks, exact long
    # moments, one correctly-rounded double division for slope_q6
    d["zipf_slope"] = """
        WITH t AS (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        vc AS (
            SELECT w, CAST(count(*) AS BIGINT) AS c
            FROM t WHERE w <> '' GROUP BY 1),
        r AS (
            SELECT c, row_number() OVER (ORDER BY c DESC, w) AS rk
            FROM vc QUALIFY rk <= 500),
        q AS (
            SELECT c,
                   CAST(floor(ln(rk) * 1000 + 0.5) AS BIGINT) AS x,
                   CAST(floor(ln(c) * 1000 + 0.5) AS BIGINT) AS y
            FROM r),
        mom AS (
            SELECT CAST(count(*) AS BIGINT) AS v,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM q)
        SELECT v, n_tokens,
               CAST(v * sxy - sx * sy AS BIGINT) AS num,
               CAST(v * sxx - sx * sx AS BIGINT) AS den,
               CASE WHEN v * sxx - sx * sx > 0
                    THEN CAST(
                      (CASE WHEN v * sxy - sx * sy >= 0 THEN 1 ELSE -1 END)
                      * floor(abs(
                          CAST(v * sxy - sx * sy AS DOUBLE)
                          / CAST(v * sxx - sx * sx AS DOUBLE)
                        ) * 1e6 + 0.5) AS BIGINT)
                    ELSE 0 END AS slope_q6
        FROM mom
    """

    # rolling_corr: 24h rolling Pearson r between hourly event count
    # and hourly distinct-user count — exact long frame moments, one
    # correctly-rounded sqrt+divide, partial head frames dropped
    d["rolling_corr"] = """
        WITH h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        f AS (
            SELECT event_type, hw,
                   count(*) OVER w AS n,
                   sum(x) OVER w AS sx, sum(y) OVER w AS sy,
                   sum(x * y) OVER w AS sxy,
                   sum(x * x) OVER w AS sxx,
                   sum(y * y) OVER w AS syy
            FROM h
            WINDOW w AS (PARTITION BY event_type ORDER BY hw
                         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        SELECT event_type, hw,
               CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                    THEN CAST(
                      (CASE WHEN n * sxy - sx * sy > 0 THEN 1
                            WHEN n * sxy - sx * sy < 0 THEN -1
                            ELSE 0 END)
                      * floor(abs(
                          (n * sxy - sx * sy)
                          / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                             * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                        ) * 1e6 + 0.5) AS BIGINT)
                    ELSE 0 END AS r_q6
        FROM f WHERE n = 24
    """

    # hurst_rs: classical R/S Hurst exponent over hourly count series —
    # exact long scaled cumulative deviations (c_i = n*cumsum - i*S),
    # one sqrt per segment, half-up integer mean, q3 logs of exact
    # longs into the exact-moment OLS slope
    d["hurst_rs"] = """
        WITH h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type, x,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY hw) AS t
            FROM h),
        sized AS (
            SELECT event_type, v.n, x, t,
                   (t - 1) // v.n AS seg, (t - 1) % v.n + 1 AS i
            FROM s CROSS JOIN
                 (SELECT unnest([16, 32, 64, 128]) AS n) v),
        segstat AS (
            SELECT event_type, n, seg,
                   CAST(sum(x) AS BIGINT) AS S,
                   CAST(sum(x * x) AS BIGINT) AS Q
            FROM sized GROUP BY 1, 2, 3 HAVING count(*) = n),
        cum AS (
            SELECT z.event_type, z.n, z.seg, g.S, g.Q,
                   z.n * sum(z.x) OVER (PARTITION BY z.event_type, z.n,
                                        z.seg ORDER BY z.t)
                   - z.i * g.S AS c
            FROM sized z JOIN segstat g USING (event_type, n, seg)),
        seg_rs AS (
            SELECT event_type, n, seg, S, Q, max(c) - min(c) AS r
            FROM cum GROUP BY 1, 2, 3, 4, 5),
        rsq AS (
            SELECT event_type, n,
                   CAST(floor(r / sqrt(CAST(n * Q - S * S AS DOUBLE))
                              * 1e6 + 0.5) AS BIGINT) AS rs_q6
            FROM seg_rs WHERE n * Q - S * S > 0),
        per_n AS (
            SELECT event_type, n,
                   CAST(count(*) AS BIGINT) AS n_segments,
                   CAST((2 * sum(rs_q6) + count(*))
                        // (2 * count(*)) AS BIGINT) AS mean_rs_q6
            FROM rsq GROUP BY 1, 2),
        pts AS (
            SELECT event_type, n, n_segments, mean_rs_q6,
                   CAST(floor(ln(n) * 1000 + 0.5) AS BIGINT) AS xq,
                   CAST((CASE WHEN ln(mean_rs_q6) - ln(1e6) > 0 THEN 1
                              WHEN ln(mean_rs_q6) - ln(1e6) < 0 THEN -1
                              ELSE 0 END)
                        * floor(abs(ln(mean_rs_q6) - ln(1e6)) * 1000
                                + 0.5) AS BIGINT) AS yq
            FROM per_n WHERE mean_rs_q6 > 0),
        mom AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                   CAST(sum(xq) AS BIGINT) AS sx,
                   CAST(sum(yq) AS BIGINT) AS sy,
                   CAST(sum(xq * yq) AS BIGINT) AS sxy,
                   CAST(sum(xq * xq) AS BIGINT) AS sxx
            FROM pts GROUP BY 1),
        slope AS (
            SELECT event_type,
                   CASE WHEN k * sxx - sx * sx > 0
                        THEN CAST(
                          (CASE WHEN k * sxy - sx * sy > 0 THEN 1
                                WHEN k * sxy - sx * sy < 0 THEN -1
                                ELSE 0 END)
                          * floor(abs(
                              CAST(k * sxy - sx * sy AS DOUBLE)
                              / CAST(k * sxx - sx * sx AS DOUBLE)
                            ) * 1e6 + 0.5) AS BIGINT)
                        ELSE 0 END AS hurst_q6
            FROM mom)
        SELECT p.event_type, CAST(p.n AS BIGINT) AS seg_len,
               p.n_segments, p.mean_rs_q6, sl.hurst_q6
        FROM pts p JOIN slope sl USING (event_type)
    """

    # sample_entropy: naive UNBANDED O(n^2) template self-join — an
    # independent oracle for the Spark side's band-bucketed join (proves
    # banding loses no pair); exact long counts, q3 log ratio
    d["sample_entropy"] = """
        WITH h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY hw) AS t,
                   x AS x0,
                   lead(x, 1) OVER (PARTITION BY event_type
                                    ORDER BY hw) AS x1,
                   lead(x, 2) OVER (PARTITION BY event_type
                                    ORDER BY hw) AS x2
            FROM h),
        tpl AS (SELECT * FROM s WHERE x2 IS NOT NULL),
        p AS (
            SELECT a.event_type,
                   CAST(count(*) FILTER (
                       WHERE abs(a.x0 - b.x0) <= 2
                         AND abs(a.x1 - b.x1) <= 2) AS BIGINT)
                       AS b_count,
                   CAST(count(*) FILTER (
                       WHERE abs(a.x0 - b.x0) <= 2
                         AND abs(a.x1 - b.x1) <= 2
                         AND abs(a.x2 - b.x2) <= 2) AS BIGINT)
                       AS a_count
            FROM tpl a JOIN tpl b
              ON a.event_type = b.event_type AND a.t < b.t
            GROUP BY 1),
        n AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_templates
            FROM tpl GROUP BY 1)
        SELECT n.event_type, n.n_templates,
               COALESCE(p.b_count, 0) AS b_count,
               COALESCE(p.a_count, 0) AS a_count,
               CASE WHEN p.a_count > 0 AND p.b_count > 0
                    THEN CAST(floor(
                        (ln(p.b_count) - ln(p.a_count)) * 1000 + 0.5
                      ) AS BIGINT)
               END AS sampen_q3
        FROM n LEFT JOIN p USING (event_type)
    """

    # dft_daily: 24-point DFT bin + harmonics from the SAME literal
    # 15-degree q6 trig table (sin = cos shifted +18) — exact long
    # Fourier sums, one correctly-rounded sqrt chain for amp_q6
    d["dft_daily"] = """
        WITH cosq AS (
            SELECT a, c FROM (VALUES
              (0, 1000000), (1, 965926), (2, 866025), (3, 707107),
              (4, 500000), (5, 258819), (6, 0), (7, -258819),
              (8, -500000), (9, -707107), (10, -866025), (11, -965926),
              (12, -1000000), (13, -965926), (14, -866025),
              (15, -707107), (16, -500000), (17, -258819), (18, 0),
              (19, 258819), (20, 500000), (21, 707107), (22, 866025),
              (23, 965926)) AS t(a, c)),
        h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        e AS (
            SELECT event_type, hw, x, k,
                   (k * (hw % 24)) % 24 AS a
            FROM h CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS k)),
        terms AS (
            SELECT e.event_type, e.k,
                   e.x * cc.c AS xc, e.x * cs.c AS xs
            FROM e JOIN cosq cc ON cc.a = e.a
                   JOIN cosq cs ON cs.a = (e.a + 18) % 24),
        agg AS (
            SELECT event_type, CAST(k AS BIGINT) AS harmonic,
                   CAST(count(*) AS BIGINT) AS n_points,
                   CAST(sum(xc) AS BIGINT) AS sc,
                   CAST(sum(xs) AS BIGINT) AS ss
            FROM terms GROUP BY 1, 2)
        SELECT event_type, harmonic, n_points, sc, ss,
               CAST(floor(
                   sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
                        + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
                   * 2 / n_points + 0.5) AS BIGINT) AS amp_q6
        FROM agg
    """

    # perm_entropy: Bandt-Pompe m=3 ordinal patterns, stable tie rule;
    # six exact pattern counts, per-pattern q3 terms quantized BEFORE
    # the cross-pattern sum so the entropy finalizer is integer-only
    d["perm_entropy"] = """
        WITH h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type, x AS x0,
                   lead(x, 1) OVER (PARTITION BY event_type
                                    ORDER BY hw) AS x1,
                   lead(x, 2) OVER (PARTITION BY event_type
                                    ORDER BY hw) AS x2
            FROM h),
        tpl AS (
            SELECT event_type,
                   (CASE WHEN x1 < x0 THEN 1 ELSE 0 END
                    + CASE WHEN x2 < x0 THEN 1 ELSE 0 END) * 9
                   + (CASE WHEN x0 <= x1 THEN 1 ELSE 0 END
                      + CASE WHEN x2 < x1 THEN 1 ELSE 0 END) * 3
                   + (CASE WHEN x0 <= x2 THEN 1 ELSE 0 END
                      + CASE WHEN x1 <= x2 THEN 1 ELSE 0 END) AS pid
            FROM s WHERE x2 IS NOT NULL),
        c AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_templates,
                   CAST(sum(CASE WHEN pid = 5 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c012,
                   CAST(sum(CASE WHEN pid = 7 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c021,
                   CAST(sum(CASE WHEN pid = 11 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c102,
                   CAST(sum(CASE WHEN pid = 15 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c120,
                   CAST(sum(CASE WHEN pid = 19 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c201,
                   CAST(sum(CASE WHEN pid = 21 THEN 1 ELSE 0 END)
                        AS BIGINT) AS c210
            FROM tpl GROUP BY 1),
        t AS (
            SELECT *,
                   (CASE WHEN c012 > 0 THEN CAST(floor(
                        c012 * ln(c012) * 1000 + 0.5) AS BIGINT)
                        ELSE 0 END)
                   + (CASE WHEN c021 > 0 THEN CAST(floor(
                        c021 * ln(c021) * 1000 + 0.5) AS BIGINT)
                        ELSE 0 END)
                   + (CASE WHEN c102 > 0 THEN CAST(floor(
                        c102 * ln(c102) * 1000 + 0.5) AS BIGINT)
                        ELSE 0 END)
                   + (CASE WHEN c120 > 0 THEN CAST(floor(
                        c120 * ln(c120) * 1000 + 0.5) AS BIGINT)
                        ELSE 0 END)
                   + (CASE WHEN c201 > 0 THEN CAST(floor(
                        c201 * ln(c201) * 1000 + 0.5) AS BIGINT)
                        ELSE 0 END)
                   + (CASE WHEN c210 > 0 THEN CAST(floor(
                        c210 * ln(c210) * 1000 + 0.5) AS BIGINT)
                        ELSE 0 END) AS sum_t
            FROM c)
        SELECT event_type, n_templates, c012, c021, c102, c120, c201,
               c210,
               CAST(floor(ln(n_templates) * 1000 + 0.5)
                    - (2 * sum_t + n_templates) // (2 * n_templates)
                 AS BIGINT) AS pe_q3
        FROM t
    """

    # nonlinearity: c3 + time-reversal asymmetry — exact long numerator
    # sums, signed half-up integer-division means; oracle aligns t,
    # t+lag, t+2lag via row_number self-joins (independent of lead)
    d["nonlinearity"] = """
        WITH h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        s AS (
            SELECT event_type,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY hw) AS t,
                   x
            FROM h),
        lv AS (SELECT unnest([1, 24]) AS lag),
        j AS (
            SELECT a.event_type, l.lag, a.x AS x0, b.x AS xl,
                   c.x AS x2l
            FROM s a CROSS JOIN lv l
            JOIN s b ON b.event_type = a.event_type
                    AND b.t = a.t + l.lag
            JOIN s c ON c.event_type = a.event_type
                    AND c.t = a.t + 2 * l.lag),
        agg AS (
            SELECT event_type, CAST(lag AS BIGINT) AS "lag",
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x0 * xl * x2l) AS BIGINT) AS c3_num,
                   CAST(sum(x2l * x2l * xl - xl * x0 * x0)
                        AS BIGINT) AS trev_num
            FROM j GROUP BY 1, 2)
        SELECT event_type, "lag", n, c3_num, trev_num,
               CAST((CASE WHEN c3_num < 0 THEN -1 ELSE 1 END)
                    * ((2 * abs(c3_num) + n) // (2 * n))
                 AS BIGINT) AS c3_mean,
               CAST((CASE WHEN trev_num < 0 THEN -1 ELSE 1 END)
                    * ((2 * abs(trev_num) + n) // (2 * n))
                 AS BIGINT) AS trev_mean
        FROM agg
    """

    # path_rollup: hierarchical directory drilldown over URLs both
    # engines synthesize identically from documents columns; bounded
    # prefix explode (depth <= 4), exact counts + char-volume sums
    d["path_rollup"] = """
        WITH u AS (
            SELECT 'https://www.' || source || '.example.com/s-'
                   || lang || '/d' || CAST(doc_id % 7 AS VARCHAR)
                   || '/p' || CAST(doc_id % 97 AS VARCHAR)
                   || '/doc-' || CAST(doc_id AS VARCHAR) || '.html'
                       AS url,
                   n_chars
            FROM documents),
        parsed AS (
            SELECT lower(regexp_extract(
                       url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1))
                       AS host,
                   regexp_extract(
                       url,
                       '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)?', 1)
                       AS path,
                   n_chars
            FROM u),
        segged AS (
            SELECT host,
                   list_filter(string_split(path, '/'),
                               s -> s <> '') AS segs,
                   n_chars
            FROM parsed),
        lv AS (
            SELECT host, segs, n_chars,
                   unnest(generate_series(
                       1, least(len(segs), 4))) AS depth
            FROM segged
            WHERE len(segs) > 0),
        pre AS (
            SELECT host, CAST(depth AS BIGINT) AS depth,
                   '/' || array_to_string(segs[1:depth], '/')
                       AS prefix,
                   n_chars
            FROM lv)
        SELECT host, prefix, depth,
               CAST(count(*) AS BIGINT) AS n_pages,
               CAST(sum(n_chars) AS BIGINT) AS sum_weight
        FROM pre GROUP BY 1, 2, 3
    """

    # mirror_hosts: host-level containment from distinct md5 content
    # fingerprints; the ubiquity cap (fp on > 16 hosts = boilerplate)
    # applies identically; ratios are half-up integer divisions
    d["mirror_hosts"] = """
        WITH occ AS (
            SELECT 'www.' || source || '.com' AS host,
                   md5(text) AS fp
            FROM documents
            UNION ALL
            SELECT 'mirror.' || source || '.com' AS host,
                   md5(text) AS fp
            FROM documents WHERE doc_id % 3 = 0),
        d AS (SELECT DISTINCT host, fp FROM occ),
        sizes AS (
            SELECT host, CAST(count(*) AS BIGINT) AS n
            FROM d GROUP BY 1),
        fpc AS (SELECT fp FROM d GROUP BY fp HAVING count(*) <= 16),
        pair AS (
            SELECT a.host AS host_a, b.host AS host_b,
                   CAST(count(*) AS BIGINT) AS n_shared
            FROM d a
            JOIN fpc f ON f.fp = a.fp
            JOIN d b ON b.fp = a.fp AND a.host < b.host
            GROUP BY 1, 2
            HAVING count(*) >= 2)
        SELECT host_a, host_b, n_shared,
               sa.n AS n_a, sb.n AS n_b,
               CAST((2 * 1000000 * n_shared
                     + (sa.n + sb.n - n_shared))
                    // (2 * (sa.n + sb.n - n_shared))
                 AS BIGINT) AS jaccard_q6,
               CAST((2 * 1000000 * n_shared + least(sa.n, sb.n))
                    // (2 * least(sa.n, sb.n))
                 AS BIGINT) AS containment_q6
        FROM pair
        JOIN sizes sa ON sa.host = pair.host_a
        JOIN sizes sb ON sb.host = pair.host_b
    """

    # trimmed_mean: 10% symmetric trim per event_type — q6 values,
    # exact count cut k = (n*trim) DIV 1e6, long kept-sum, signed
    # half-up division; rows tied at the cut carry equal q6 values so
    # the kept sum needs no tiebreaker
    d["trimmed_mean"] = """
        WITH q AS (
            SELECT event_type,
                   CAST((CASE WHEN value < 0 THEN -1 ELSE 1 END)
                        * floor(abs(value) * 1e6 + 0.5) AS BIGINT)
                       AS xq
            FROM events),
        r AS (
            SELECT event_type, xq,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY xq) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM q),
        k AS (SELECT *, (n * 100000) // 1000000 AS k FROM r),
        kept AS (
            SELECT event_type, xq, n, k
            FROM k WHERE rn > k AND rn <= n - k),
        agg AS (
            SELECT event_type,
                   CAST(max(n) AS BIGINT) AS n,
                   CAST(max(k) AS BIGINT) AS n_trimmed_each_side,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(xq) AS BIGINT) AS sum_kept_q6
            FROM kept GROUP BY 1)
        SELECT event_type, n, n_trimmed_each_side, n_kept, sum_kept_q6,
               CAST((CASE WHEN sum_kept_q6 < 0 THEN -1 ELSE 1 END)
                    * ((2 * abs(sum_kept_q6) + n_kept)
                       // (2 * n_kept)) AS BIGINT) AS tmean_q6
        FROM agg
    """

    # markov_entropy: H(Y|X) of per-user event-type chains by cohort —
    # exact cell/row counts, per-cell q3 quantization BEFORE the sum,
    # half-up integer division; ln only sees exact longs
    d["markov_entropy"] = """
        WITH p AS (
            SELECT user_id % 3 AS cohort, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id % 3, user_id
                       ORDER BY ts, event_id) AS prev
            FROM events),
        cells AS (
            SELECT cohort, prev AS x, event_type AS y,
                   CAST(count(*) AS BIGINT) AS c_xy
            FROM p WHERE prev IS NOT NULL GROUP BY 1, 2, 3),
        wr AS (
            SELECT *, sum(c_xy) OVER (PARTITION BY cohort, x) AS c_x
            FROM cells),
        t AS (
            SELECT cohort, c_xy, x,
                   CAST(floor(c_xy * (ln(c_x) - ln(c_xy)) * 1000
                              + 0.5) AS BIGINT) AS tq
            FROM wr),
        a AS (
            SELECT cohort,
                   CAST(sum(c_xy) AS BIGINT) AS n_transitions,
                   CAST(count(DISTINCT x) AS BIGINT) AS n_states,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(tq) AS BIGINT) AS sum_t
            FROM t GROUP BY 1)
        SELECT CAST(cohort AS BIGINT) AS cohort, n_transitions,
               n_states, n_pairs,
               CAST((2 * sum_t + n_transitions)
                    // (2 * n_transitions) AS BIGINT) AS rate_q3
        FROM a
    """

    # burstiness: Goh-Barabasi B per user from exact gap moments; the
    # q6 value is one fixed-shape float chain on exact-long operands
    d["burstiness"] = """
        WITH e AS (
            SELECT user_id, event_id,
                   epoch_us(ts) // 1000000 AS sec
            FROM events),
        g AS (
            SELECT user_id,
                   sec - lag(sec) OVER (PARTITION BY user_id
                                        ORDER BY sec, event_id) AS gap
            FROM e),
        a AS (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_gaps,
                   CAST(sum(gap) AS BIGINT) AS sum_gap,
                   CAST(sum(gap * gap) AS BIGINT) AS sum_gap2
            FROM g WHERE gap IS NOT NULL GROUP BY 1)
        SELECT user_id, n_gaps, sum_gap, sum_gap2,
               CASE WHEN sum_gap > 0 THEN
                 CAST((CASE WHEN
                         sqrt(CAST(n_gaps * sum_gap2
                                   - sum_gap * sum_gap AS DOUBLE))
                         - sum_gap < 0 THEN -1 ELSE 1 END)
                      * floor(abs(
                          (sqrt(CAST(n_gaps * sum_gap2
                                     - sum_gap * sum_gap AS DOUBLE))
                           - sum_gap)
                          / (sqrt(CAST(n_gaps * sum_gap2
                                       - sum_gap * sum_gap AS DOUBLE))
                             + sum_gap)) * 1e6 + 0.5) AS BIGINT)
               END AS b_q6
        FROM a
    """

    # blockword_scan: per-category whole-word blocklist counts — one
    # regexp count per category, RE2/Java-identical '(?i)\\b(...)\\b'
    # subset, integer flag threshold 10000*hits > 600*tokens
    d["blockword_scan"] = """
        SELECT doc_id,
               CAST(len(regexp_extract_all(
                   text, '(?i)\\b(join|merge)\\b')) AS BIGINT)
                   AS n_joins,
               CAST(len(regexp_extract_all(
                   text, '(?i)\\b(filter|scan)\\b')) AS BIGINT)
                   AS n_scans,
               CAST(len(regexp_extract_all(
                   text, '(?i)\\b(stream|window)\\b')) AS BIGINT)
                   AS n_streaming,
               CAST(len(regexp_extract_all(
                       text, '(?i)\\b(join|merge)\\b'))
                    + len(regexp_extract_all(
                       text, '(?i)\\b(filter|scan)\\b'))
                    + len(regexp_extract_all(
                       text, '(?i)\\b(stream|window)\\b'))
                 AS BIGINT) AS n_blocked_total,
               CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                 AS BIGINT) AS n_tokens,
               10000 * (len(regexp_extract_all(
                            text, '(?i)\\b(join|merge)\\b'))
                        + len(regexp_extract_all(
                            text, '(?i)\\b(filter|scan)\\b'))
                        + len(regexp_extract_all(
                            text, '(?i)\\b(stream|window)\\b')))
                 > 600 * len(regexp_split_to_array(trim(text), '\\s+'))
                 AS flagged
        FROM documents
    """

    # series_triage: the composed per-series profile — the five gauge
    # oracles embedded VERBATIM as derived tables and joined on the
    # series key; certifies the composition, not new math
    d["series_triage"] = (
        "SELECT se.event_type, se.sampen_q3, pe.pe_q3, d1.amp24_q6,\n"
        "       hu.hurst_q6, nl.c3_mean, nl.trev_mean\n"
        "FROM (" + d["sample_entropy"] + ") se\n"
        "JOIN (" + d["perm_entropy"] + ") pe USING (event_type)\n"
        "JOIN (SELECT event_type, amp_q6 AS amp24_q6 FROM ("
        + d["dft_daily"]
        + ") WHERE harmonic = 1) d1 USING (event_type)\n"
        "JOIN (SELECT DISTINCT event_type, hurst_q6 FROM ("
        + d["hurst_rs"]
        + ")) hu USING (event_type)\n"
        "JOIN (SELECT event_type, c3_mean, trev_mean FROM ("
        + d["nonlinearity"]
        + ') WHERE "lag" = 24) nl USING (event_type)'
    )

    # modularity: exact Q fraction of the LPA communities — the full
    # label_propagation oracle embedded verbatim supplies the labels;
    # staging CTEs repeated for the undirected edge list
    d["modularity"] = (
        """
        WITH pages AS (
            SELECT doc_id,
                   'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'
                       AS src_domain,
                   '<p><a href="https://h'
                   || CAST((doc_id * 31 + 7) % 97 AS VARCHAR)
                   || '.example.com/x">l</a> <a href=''http://h'
                   || CAST((doc_id * 5 + 3) % 11 AS VARCHAR)
                   || '.org/y''>m</a></p>' AS html
            FROM documents),
        l0x AS (
            SELECT src_domain,
                   unnest(regexp_extract_all(
                       html,
                       'href=["'']((?:https?)://[^"''\\s>]+)["'']', 1))
                       AS link_url
            FROM pages),
        edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src_domain AS src,
                       lower(regexp_extract(
                           link_url, '^https?://([^/]+)', 1)) AS dst
                FROM l0x)
            WHERE dst IS NOT NULL AND dst <> '' AND dst <> src),
        und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst),
        lab AS (SELECT node, label FROM ("""
        + d["label_propagation"]
        + """) ),
        deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
                SELECT a AS node FROM und
                UNION ALL SELECT b FROM und)
            GROUP BY 1),
        mm AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM und),
        percom AS (
            SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
                   CAST(sum(d.d) AS BIGINT) AS d_sum
            FROM lab l JOIN deg d USING (node) GROUP BY 1),
        intra AS (
            SELECT la.label, CAST(count(*) AS BIGINT) AS e_intra
            FROM und u
            JOIN lab la ON la.node = u.a
            JOIN lab lb ON lb.node = u.b
            WHERE la.label = lb.label GROUP BY 1),
        com AS (
            SELECT p.label, p.n_nodes,
                   CAST(COALESCE(i.e_intra, 0) AS BIGINT) AS e_intra,
                   p.d_sum
            FROM percom p LEFT JOIN intra i USING (label)),
        g AS (
            SELECT CAST(sum(4 * mm.m_edges * c.e_intra
                            - c.d_sum * c.d_sum) AS BIGINT) AS num,
                   CAST(max(4 * mm.m_edges * mm.m_edges) AS BIGINT)
                       AS den
            FROM com c CROSS JOIN mm),
        q AS (
            SELECT CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                        * ((2 * 1000000 * abs(num) + den)
                           // (2 * den)) AS BIGINT) AS q_q6
            FROM g)
        SELECT c.label, c.n_nodes, c.e_intra, c.d_sum,
               mm.m_edges, q.q_q6
        FROM com c CROSS JOIN mm CROSS JOIN q
    """
    )

    # conformal_interval: split-conformal 90% bands for the seasonal-
    # naive forecaster — exact order-statistic half-width, integer
    # rank arithmetic, exact held-out coverage pair
    d["conformal_interval"] = """
        WITH h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        elig AS (
            SELECT a.event_type, a.hw, abs(a.x - b.x) AS r
            FROM h a JOIN h b ON b.event_type = a.event_type
                             AND b.hw = a.hw - 168),
        sp AS (
            SELECT event_type, hw, r,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY hw) AS pos,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM elig),
        sp2 AS (
            SELECT *, (2 * n) // 3 AS ncal,
                   (pos <= (2 * n) // 3) AS is_cal
            FROM sp),
        cal AS (
            SELECT event_type, r, ncal,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY r, hw) AS rrank
            FROM sp2 WHERE is_cal),
        width AS (
            SELECT event_type, CAST(ncal AS BIGINT) AS n_cal,
                   CAST(least(ncal,
                        ((ncal + 1) * 900000 + 999999) // 1000000)
                     AS BIGINT) AS k_rank,
                   CAST(r AS BIGINT) AS halfwidth
            FROM cal
            WHERE rrank = least(ncal,
                  ((ncal + 1) * 900000 + 999999) // 1000000)),
        tst AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_test
            FROM sp2 WHERE NOT is_cal GROUP BY 1),
        cov AS (
            SELECT s.event_type,
                   CAST(sum(CASE WHEN s.r <= w.halfwidth
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
            FROM sp2 s JOIN width w USING (event_type)
            WHERE NOT s.is_cal GROUP BY 1)
        SELECT w.event_type, w.n_cal, w.k_rank, w.halfwidth,
               t.n_test, COALESCE(c.n_covered, 0) AS n_covered
        FROM width w
        JOIN tst t USING (event_type)
        LEFT JOIN cov c USING (event_type)
    """

    # maxmin_fair: water-filling allocation — exact integer prefix
    # feasibility (monotone in sorted order), water level = DIV, the
    # MOD leftover handed out in (demand, key) order
    d["maxmin_fair"] = """
        WITH dem AS (
            SELECT 'h' || CAST(doc_id % 23 AS VARCHAR) AS grp,
                   CAST(count(*) AS BIGINT) AS demand
            FROM documents GROUP BY 1),
        s AS (
            SELECT grp, demand,
                   row_number() OVER (ORDER BY demand, grp) AS i,
                   sum(demand) OVER (ORDER BY demand, grp
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS prefix,
                   count(*) OVER () AS n
            FROM dem),
        f AS (
            SELECT *, (prefix + (n - i) * demand <= 300) AS ok
            FROM s),
        kk AS (
            SELECT COALESCE(max(CASE WHEN ok THEN i END), 0) AS k,
                   COALESCE(max(CASE WHEN ok THEN prefix END), 0)
                       AS pk,
                   max(n) AS nn
            FROM f),
        lv AS (
            SELECT k,
                   CASE WHEN nn - k > 0
                        THEN (300 - pk) // (nn - k) ELSE 0 END AS lvl,
                   CASE WHEN nn - k > 0
                        THEN (300 - pk) % (nn - k) ELSE 0 END AS extra
            FROM kk)
        SELECT grp, demand, allocated,
               allocated = demand AS satisfied
        FROM (
            SELECT f.grp, f.demand,
                   CAST(CASE WHEN f.i <= lv.k THEN f.demand
                        ELSE lv.lvl + CASE WHEN f.i - lv.k <= lv.extra
                                      THEN 1 ELSE 0 END
                        END AS BIGINT) AS allocated
            FROM f CROSS JOIN lv)
    """

    # topk_other: top-10 users per event_type kept exactly, tail
    # collapsed into __other__ preserving totals; deterministic
    # (weight DESC, category ASC) boundary
    d["topk_other"] = """
        WITH pc AS (
            SELECT event_type, CAST(user_id AS VARCHAR) AS category,
                   CAST(count(*) AS BIGINT) AS weight
            FROM events GROUP BY 1, 2),
        r AS (
            SELECT *, row_number() OVER (PARTITION BY event_type
                      ORDER BY weight DESC, category) AS rk
            FROM pc),
        rl AS (
            SELECT event_type,
                   CASE WHEN rk <= 10 THEN category
                        ELSE '__other__' END AS category,
                   weight
            FROM r)
        SELECT event_type, category,
               CAST(sum(weight) AS BIGINT) AS weight,
               CAST(count(*) AS BIGINT) AS n_members
        FROM rl GROUP BY 1, 2
    """

    # doc_triage: the composed per-document profile — the five gauge
    # oracles embedded VERBATIM and joined on doc_id; certifies the
    # composition, not new math
    d["doc_triage"] = (
        "SELECT tq.doc_id, tq.quality_score, rep.dup_ngram_frac,\n"
        "       rep.top_ngram_frac, rd.flesch_q3, te.entropy,\n"
        "       bw.n_blocked_total, bw.flagged\n"
        "FROM (" + d["text_quality"] + ") tq\n"
        "JOIN (" + d["repetition_stats"] + ") rep USING (doc_id)\n"
        "JOIN (" + d["readability"] + ") rd USING (doc_id)\n"
        "JOIN (" + d["token_entropy"] + ") te USING (doc_id)\n"
        "JOIN (" + d["blockword_scan"] + ") bw USING (doc_id)"
    )

    # multi_seasonal: sequential hod-then-dow additive fit — every
    # stage quantizes to q6 via signed half-up integer division BEFORE
    # the next consumes it, so residuals are bit-exact
    d["multi_seasonal"] = """
        WITH h AS (
            SELECT event_type, epoch_us(ts) // 3600000000 AS hw,
                   CAST(count(*) AS BIGINT) AS x
            FROM events GROUP BY 1, 2),
        b AS (
            SELECT event_type, hw, x,
                   hw % 24 AS hod, (hw // 24 + 4) % 7 AS dow
            FROM h),
        g AS (
            SELECT event_type,
                   CAST((CASE WHEN sum(x) < 0 THEN -1 ELSE 1 END)
                        * ((2 * abs(1000000 * sum(x)) + count(*))
                           // (2 * count(*))) AS BIGINT) AS base_q6
            FROM b GROUP BY 1),
        hodt AS (
            SELECT b.event_type, b.hod,
                   CAST((CASE WHEN sum(b.x) < 0 THEN -1 ELSE 1 END)
                        * ((2 * abs(1000000 * sum(b.x)) + count(*))
                           // (2 * count(*)))
                        - max(g.base_q6) AS BIGINT) AS hod_eff_q6
            FROM b JOIN g USING (event_type)
            GROUP BY 1, 2),
        wh AS (
            SELECT b.event_type, b.hw, b.x, b.hod, b.dow,
                   ht.hod_eff_q6,
                   1000000 * b.x - g.base_q6 - ht.hod_eff_q6 AS r
            FROM b
            JOIN g USING (event_type)
            JOIN hodt ht ON ht.event_type = b.event_type
                        AND ht.hod = b.hod),
        dowt AS (
            SELECT event_type, dow,
                   CAST((CASE WHEN sum(r) < 0 THEN -1 ELSE 1 END)
                        * ((2 * abs(sum(r)) + count(*))
                           // (2 * count(*))) AS BIGINT) AS dow_eff_q6
            FROM wh GROUP BY 1, 2)
        SELECT wh.event_type, wh.hw, wh.x, wh.hod, wh.dow,
               wh.hod_eff_q6, dt.dow_eff_q6,
               CAST(wh.r - dt.dow_eff_q6 AS BIGINT) AS resid_q6
        FROM wh JOIN dowt dt ON dt.event_type = wh.event_type
                            AND dt.dow = wh.dow
    """

    # bloom_semijoin: the pin is semantics equivalence — the oracle is
    # the PLAIN join/filter; the Bloom pre-filter may only change the
    # plan, never the rows (no false negatives; FPs die in the join)
    d["bloom_semijoin"] = """
        SELECT CAST(user_id AS VARCHAR) AS uk,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST((CASE WHEN value < 0 THEN -1 ELSE 1 END)
                        * floor(abs(value) * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS sum_v_q2
        FROM events WHERE user_id % 7 = 0
        GROUP BY 1
    """

    # series_health: completeness/gap/staleness scorecard — integer
    # arithmetic, corpus-max staleness anchor
    d["series_health"] = """
        WITH h AS (
            SELECT event_type, user_id % 5 AS cohort,
                   epoch_us(ts) // 3600000000 AS hw
            FROM events GROUP BY 1, 2, 3),
        g AS (
            SELECT event_type, cohort, hw,
                   hw - lag(hw) OVER (PARTITION BY event_type, cohort
                                      ORDER BY hw) - 1 AS gap
            FROM h),
        a AS (
            SELECT event_type, CAST(cohort AS BIGINT) AS cohort,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   min(hw) AS lo, max(hw) AS hi,
                   CAST(COALESCE(max(gap), 0) AS BIGINT) AS largest_gap
            FROM g GROUP BY 1, 2),
        m AS (SELECT max(hi) AS gmax FROM a)
        SELECT a.event_type, a.cohort, a.n_obs,
               CAST(a.hi - a.lo + 1 AS BIGINT) AS span,
               CAST((2 * 1000000 * a.n_obs + (a.hi - a.lo + 1))
                    // (2 * (a.hi - a.lo + 1)) AS BIGINT) AS fill_ppm,
               a.largest_gap,
               CAST(m.gmax - a.hi AS BIGINT) AS staleness
        FROM a CROSS JOIN m
    """

    # seasonal_conformal: the multi_seasonal oracle embedded VERBATIM,
    # its |resid_q6| fed through the generic split-conformal band SQL
    d["seasonal_conformal"] = (
        "WITH prof AS (" + d["multi_seasonal"] + """),
        base AS (
            SELECT event_type, hw, abs(resid_q6) AS r FROM prof),
        sp AS (
            SELECT event_type, hw, r,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY hw) AS pos,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM base),
        sp2 AS (
            SELECT *, (2 * n) // 3 AS ncal,
                   (pos <= (2 * n) // 3) AS is_cal
            FROM sp),
        cal AS (
            SELECT event_type, r, ncal,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY r, hw) AS rrank
            FROM sp2 WHERE is_cal),
        width AS (
            SELECT event_type, CAST(ncal AS BIGINT) AS n_cal,
                   CAST(least(ncal,
                        ((ncal + 1) * 900000 + 999999) // 1000000)
                     AS BIGINT) AS k_rank,
                   CAST(r AS BIGINT) AS halfwidth
            FROM cal
            WHERE rrank = least(ncal,
                  ((ncal + 1) * 900000 + 999999) // 1000000)),
        tst AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_test
            FROM sp2 WHERE NOT is_cal GROUP BY 1),
        cov AS (
            SELECT s.event_type,
                   CAST(sum(CASE WHEN s.r <= w.halfwidth
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
            FROM sp2 s JOIN width w USING (event_type)
            WHERE NOT s.is_cal GROUP BY 1)
        SELECT w.event_type, w.n_cal, w.k_rank, w.halfwidth,
               t.n_test, COALESCE(c.n_covered, 0) AS n_covered
        FROM width w
        JOIN tst t USING (event_type)
        LEFT JOIN cov c USING (event_type)
    """
    )

    # wow_significance: the wow_delta oracle embedded verbatim + the
    # Poisson significance finalizer — flag in pure integers, z_q6 one
    # fixed float chain on exact longs
    d["wow_significance"] = (
        "WITH cmp AS (" + d["wow_delta"] + """)
        SELECT event_type, bucket_ts, n_cur, n_prev, delta,
               CASE WHEN n_cur + n_prev > 0 THEN
                 CAST((CASE WHEN n_cur - n_prev < 0 THEN -1 ELSE 1 END)
                      * floor(abs(
                          CAST(n_cur - n_prev AS DOUBLE)
                          / sqrt(CAST(n_cur + n_prev AS DOUBLE)))
                        * 1e6 + 0.5) AS BIGINT)
               END AS z_q6,
               CASE WHEN n_cur + n_prev > 0 THEN
                 (n_cur - n_prev) * (n_cur - n_prev)
                   > 9 * (n_cur + n_prev)
               END AS significant
        FROM cmp
    """
    )

    # mannwhitney_drift: exact rank-sum drift on the ks_drift grid —
    # doubled midranks (2C + t + 1) keep u2/tie_term exact; z one
    # fixed float chain; NULL when all values tied
    d["mannwhitney_drift"] = """
        WITH b AS (
            SELECT event_type, min(epoch_us(ts)) AS t0 FROM events GROUP BY 1),
        ev AS (
            SELECT e.event_type, e.value, epoch_us(e.ts) AS t_us,
                   (epoch_us(e.ts) < b.t0 + 604800000000) AS is_base
            FROM events e JOIN b USING (event_type)),
        bvc AS (
            SELECT event_type, value AS v, count(*) AS nb
            FROM ev WHERE is_base GROUP BY 1, 2),
        dvc AS (
            SELECT event_type, (t_us // 86400000000) * 86400 AS ws,
                   value AS v, count(*) AS nd
            FROM ev WHERE NOT is_base GROUP BY 1, 2, 3),
        bk AS (SELECT DISTINCT event_type, ws FROM dvc),
        rep AS (
            SELECT bk.event_type, bk.ws, bvc.v, bvc.nb
            FROM bk JOIN bvc USING (event_type)),
        pts AS (
            SELECT coalesce(dvc.event_type, rep.event_type) AS event_type,
                   coalesce(dvc.ws, rep.ws) AS ws,
                   coalesce(dvc.v, rep.v) AS v,
                   CAST(coalesce(dvc.nd, 0) AS BIGINT) AS nd,
                   CAST(coalesce(rep.nb, 0) AS BIGINT) AS nb
            FROM dvc FULL JOIN rep
              ON dvc.event_type = rep.event_type
             AND dvc.ws = rep.ws AND dvc.v = rep.v),
        cum AS (
            SELECT event_type, ws, nd, nb, nd + nb AS t,
                   sum(nd + nb) OVER (PARTITION BY event_type, ws
                       ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS ct
            FROM pts),
        agg AS (
            SELECT event_type, CAST(ws AS BIGINT) AS ws,
                   CAST(sum(nd) AS BIGINT) AS n_period,
                   CAST(sum(nb) AS BIGINT) AS n_baseline,
                   CAST(sum(nd * (2 * ct - t + 1)) AS BIGINT) AS r2,
                   CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
            FROM cum GROUP BY 1, 2)
        SELECT event_type, ws, n_period, n_baseline,
               CAST(r2 - n_period * (n_period + 1) AS BIGINT) AS u2,
               tie_term,
               CASE WHEN n_period > 0 AND n_baseline > 0 AND
                 ((n_period + n_baseline) * (n_period + n_baseline)
                  * (n_period + n_baseline)
                  - (n_period + n_baseline)) > tie_term
               THEN
                 CAST((CASE WHEN
                        (r2 - n_period * (n_period + 1))
                        - n_period * n_baseline < 0
                       THEN -1 ELSE 1 END)
                      * floor(abs(
                          CAST((r2 - n_period * (n_period + 1))
                               - n_period * n_baseline AS DOUBLE)
                          / sqrt(
                              CAST(n_period * n_baseline
                                   * (((n_period + n_baseline)
                                       * (n_period + n_baseline)
                                       * (n_period + n_baseline)
                                       - (n_period + n_baseline))
                                      - tie_term) AS DOUBLE)
                              / CAST(3 * (n_period + n_baseline)
                                     * (n_period + n_baseline - 1)
                                  AS DOUBLE)))
                        * 1e6 + 0.5) AS BIGINT)
               END AS z_q6
        FROM agg
    """

    # control_chart: WE/Nelson rules — every sigma test an exact
    # integer comparison on (n, s, q) long moments; run rules are
    # window counts of exact sign indicators. No floats anywhere.
    d["control_chart"] = """
        WITH h AS (
            SELECT event_type,
                   epoch_us(ts) // 3600000000 AS t,
                   CAST(count(*) AS BIGINT) AS v
            FROM events GROUP BY 1, 2),
        m AS (
            SELECT event_type, t, v,
                   CAST(count(*) OVER w AS BIGINT) AS n,
                   CAST(sum(v) OVER w AS BIGINT) AS s,
                   CAST(sum(v * v) OVER w AS BIGINT) AS q
            FROM h WINDOW w AS (PARTITION BY event_type)),
        b AS (
            SELECT event_type, t, v,
                   n * v - s AS dev,
                   n * q - s * s AS a,
                   CASE WHEN lag(v) OVER o IS NULL THEN 0
                        WHEN v > lag(v) OVER o THEN 1 ELSE 0 END AS inc,
                   CASE WHEN lag(v) OVER o IS NULL THEN 0
                        WHEN v < lag(v) OVER o THEN 1 ELSE 0 END AS dec
            FROM m WINDOW o AS (PARTITION BY event_type ORDER BY t)),
        r AS (
            SELECT event_type, t, v, dev, a,
                   CASE WHEN dev * dev > 9 * a THEN 1 ELSE 0 END AS r1,
                   CASE WHEN sum(CASE WHEN dev > 0 THEN 1 ELSE 0 END)
                            OVER w9 = 9
                          OR sum(CASE WHEN dev < 0 THEN 1 ELSE 0 END)
                            OVER w9 = 9
                        THEN 1 ELSE 0 END AS r2,
                   CASE WHEN sum(inc) OVER w5 = 5
                          OR sum(dec) OVER w5 = 5
                        THEN 1 ELSE 0 END AS r3,
                   CASE WHEN sum(CASE WHEN dev > 0
                                       AND dev * dev > 4 * a
                                      THEN 1 ELSE 0 END) OVER w3 >= 2
                          OR sum(CASE WHEN dev < 0
                                       AND dev * dev > 4 * a
                                      THEN 1 ELSE 0 END) OVER w3 >= 2
                        THEN 1 ELSE 0 END AS r4
            FROM b WINDOW
                w9 AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
                w5 AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
                w3 AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        SELECT event_type, t, v, dev, a,
               CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
               CAST(r3 AS BIGINT) AS r3, CAST(r4 AS BIGINT) AS r4
        FROM r
        WHERE r1 = 1 OR r2 = 1 OR r3 = 1 OR r4 = 1
    """

    # bfs_hops: multi-source BFS = the textbook recursive walk with
    # min(d); the edge CTEs are verbatim the link_pagerank fixture
    d["bfs_hops"] = """
        WITH RECURSIVE pages AS (
            SELECT doc_id,
                   'h' || CAST(doc_id % 97 AS VARCHAR) || '.example.com'
                       AS src_domain,
                   '<p><a href="https://h'
                   || CAST((doc_id * 31 + 7) % 97 AS VARCHAR)
                   || '.example.com/x">l</a> <a href=''http://h'
                   || CAST((doc_id * 5 + 3) % 11 AS VARCHAR)
                   || '.org/y''>m</a></p>' AS html
            FROM documents),
        l0 AS (
            SELECT src_domain,
                   unnest(regexp_extract_all(
                       html,
                       'href=["'']((?:https?)://[^"''\\s>]+)["'']', 1))
                       AS link_url
            FROM pages),
        edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src_domain AS src,
                       lower(regexp_extract(
                           link_url, '^https?://([^/]+)', 1)) AS dst
                FROM l0)
            WHERE dst IS NOT NULL AND dst <> '' AND dst <> src),
        walk AS (
            SELECT node, 0 AS d
            FROM (VALUES ('h0.example.com'),
                         ('h50.example.com')) v(node)
            UNION
            SELECT e.dst, w.d + 1
            FROM walk w JOIN edges e ON e.src = w.node
            WHERE w.d < 15)
        SELECT node, CAST(min(d) AS BIGINT) AS hops
        FROM walk GROUP BY node
    """
    return d

"""Token-bucket admission (ops/ratelimit.py), insert-only delta-join IVM
(rollup/ivm.py), and RFC 9111 cache-policy evaluation (ops/httpcache.py)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from dads_spark.ops import cache_policy, token_bucket
from dads_spark.rollup import ivm_join_delta, ivm_join_maintain


def _req(spark, rows):
    df = spark.createDataFrame(rows, "host string, req_id long, ts_us long")
    return df.select(
        "host", "req_id", F.timestamp_micros("ts_us").alias("ts")
    )


def test_token_bucket_known_sequence(spark):
    # cap 2, 1 token/s, start full: t=0 admit(1.0 left), t=0.5s refill
    # 0.5 -> 1.5 admit(0.5), t=1.0s refill 0.5 -> 1.0 admit(0.0),
    # t=10s refill clamps to cap -> admit(1.0)
    rows = [("h", i, us) for i, us in enumerate([0, 500_000, 1_000_000, 10_000_000])]
    out = {
        r["id"]: r
        for r in token_bucket(
            _req(spark, rows), "host", "ts", "req_id", cap=2, rate_num=1
        ).collect()
    }
    assert [out[i]["admitted"] for i in range(4)] == [1, 1, 1, 1]
    assert [out[i]["tokens_after_micro"] for i in range(4)] == [
        1_000_000, 500_000, 0, 1_000_000,
    ]


def test_token_bucket_burst_denies_by_id_order(spark):
    # 5 simultaneous requests, cap 2: the two smallest ids admit
    rows = [("h", i, 0) for i in range(5)]
    out = {
        r["id"]: r["admitted"]
        for r in token_bucket(
            _req(spark, rows), "host", "ts", "req_id", cap=2, rate_num=1
        ).collect()
    }
    assert out == {0: 1, 1: 1, 2: 0, 3: 0, 4: 0}


def test_token_bucket_rational_rate_and_recovery(spark):
    # 1 token / 10 s, cap 1: admit at t=0; at t=3s only 0.3 tokens have
    # accrued (deny); by t=10s the remaining 0.7 arrive (admit); a 15 s
    # gap clamps at cap, not above (admit, level back to 0)
    rows = [("h", i, us) for i, us in enumerate(
        [0, 3_000_000, 10_000_000, 25_000_000]
    )]
    out = {
        r["id"]: r["admitted"]
        for r in token_bucket(
            _req(spark, rows), "host", "ts", "req_id",
            cap=1, rate_num=1, rate_den=10,
        ).collect()
    }
    assert out == {0: 1, 1: 0, 2: 1, 3: 1}


def test_token_bucket_repartition_invariant(spark):
    rows = [
        (f"h{i % 7}", i, (i * 911) % 100 * 1_000_000) for i in range(400)
    ]
    a = token_bucket(
        _req(spark, rows).repartition(1), "host", "ts", "req_id",
        cap=3, rate_num=1, rate_den=10,
    )
    b = token_bucket(
        _req(spark, rows).repartition(16, "req_id"), "host", "ts", "req_id",
        cap=3, rate_num=1, rate_den=10,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_token_bucket_keeps_long_key(spark):
    # the bucket key keeps its input type; a long key runs the same
    # buckets as its string form
    rows = [(f"{i % 3}", i, (i * 7) % 20 * 1_000_000) for i in range(30)]
    by_str = token_bucket(_req(spark, rows), "host", "ts", "req_id", cap=2, rate_num=1)
    long_req = _req(spark, rows).withColumn("host", F.col("host").cast("long"))
    by_long = token_bucket(long_req, "host", "ts", "req_id", cap=2, rate_num=1)
    assert Counter((str(r[0]), *r[1:]) for r in by_long.collect()) == Counter(
        map(tuple, by_str.collect())
    )
    assert by_long.schema["key"].dataType.simpleString() == "bigint"


def test_token_bucket_rejects_bad_params(spark):
    with pytest.raises(ValueError):
        token_bucket(_req(spark, [("h", 0, 0)]), "host", "ts", "req_id",
                     cap=0, rate_num=1)


def _ab(spark):
    a = spark.range(120).select(
        (F.col("id") % 9).alias("k"), F.col("id").alias("aid")
    )
    b = spark.range(40).select(
        (F.col("id") % 9).alias("k"), F.col("id").alias("bid")
    )
    return a, b


def test_ivm_maintained_equals_full_recompute(spark):
    a, b = _ab(spark)
    a_old, a_delta = a.filter("aid < 80"), a.filter("aid >= 80")
    b_old, b_delta = b.filter("bid < 25"), b.filter("bid >= 25")
    view_old = a_old.join(b_old, ["k"])
    got = ivm_join_maintain(view_old, a_old, a_delta, b_old, b_delta, ["k"])
    want = a.join(b, ["k"])
    assert Counter(map(tuple, got.collect())) == Counter(
        map(tuple, want.collect())
    )


def test_ivm_delta_is_exactly_the_new_rows(spark):
    a, b = _ab(spark)
    a_old, a_delta = a.filter("aid < 80"), a.filter("aid >= 80")
    b_old, b_delta = b.filter("bid < 25"), b.filter("bid >= 25")
    dv = Counter(
        map(tuple, ivm_join_delta(a_old, a_delta, b_old, b_delta, ["k"]).collect())
    )
    full = Counter(map(tuple, a.join(b, ["k"]).collect()))
    old = Counter(map(tuple, a_old.join(b_old, ["k"]).collect()))
    assert dv == full - old


def test_ivm_empty_delta_fixed_point(spark):
    a, b = _ab(spark)
    empty_a = a.filter("aid < 0")
    empty_b = b.filter("bid < 0")
    assert ivm_join_delta(a, empty_a, b, empty_b, ["k"]).count() == 0


def _hdr(spark, cc, lm_offset_us=None):
    base = 1_700_000_000_000_000
    df = spark.createDataFrame([(1,)], "doc_id long").select(
        "doc_id",
        F.lit(cc).alias("cc"),
        F.timestamp_micros(F.lit(base)).alias("fetch_ts"),
        (
            F.timestamp_micros(F.lit(base - lm_offset_us))
            if lm_offset_us is not None
            else F.lit(None).cast("timestamp")
        ).alias("lm"),
    )
    return cache_policy(df, "cc", "fetch_ts", "lm").collect()[0]


def test_cache_policy_precedence(spark):
    assert _hdr(spark, "no-store, max-age=60")["policy"] == "no-store"
    assert _hdr(spark, "no-cache, max-age=60")["policy"] == "no-cache"
    r = _hdr(spark, "max-age=600, s-maxage=300")
    assert r["policy"] == "s-maxage" and r["ttl_sec"] == 300
    r = _hdr(spark, "public, max-age=600")
    assert r["policy"] == "max-age" and r["ttl_sec"] == 600


def test_cache_policy_smaxage_not_matched_as_maxage(spark):
    # s-maxage alone must NOT satisfy the max-age pattern
    r = _hdr(spark, "s-maxage=300")
    assert r["policy"] == "s-maxage" and r["ttl_sec"] == 300


def test_cache_policy_heuristic_ten_percent(spark):
    r = _hdr(spark, "", lm_offset_us=75_000_000)  # 75 s old -> ttl 7
    assert r["policy"] == "heuristic" and r["ttl_sec"] == 7
    assert r["expires_ts_us"] == 1_700_000_000_000_000 + 7_000_000


def test_cache_policy_none_and_no_store_fields(spark):
    r = _hdr(spark, "")
    assert (r["policy"], r["cacheable"], r["revalidate"], r["ttl_sec"]) == (
        "none", 1, 0, 0,
    )
    r = _hdr(spark, "no-store")
    assert r["cacheable"] == 0 and r["expires_ts_us"] is None


def test_fetch_decision_boundaries(spark):
    """Composed robots x freshness decision at the fresh/revalidate
    boundary (gated lane q_fetch_decision; here the exact edge)."""
    import __spark_entry__ as em

    out = {r["doc_id"]: r for r in em.queries()["fetch_decision"](
        spark, "/root/testdata/sf0.001"
    ).collect()}
    for r in out.values():
        if r["crawl_allowed"] == 0:
            assert r["decision"] == "blocked"
        elif r["policy"] == "no-store":
            assert r["decision"] == "fetch"
        elif r["policy"] == "no-cache":
            assert r["decision"] == "revalidate"
    # doc 200: policy max-age=600, fetch at base+200 -> expires base+800
    # == revisit time exactly -> fresh (>= boundary)
    if 200 in out and out[200]["crawl_allowed"] == 1:
        assert out[200]["decision"] == "fresh"
    # doc 206: same arm, expires base+806 > 800 -> fresh; doc 194 is the
    # other side only when allowed
    if 194 in out and out[194]["crawl_allowed"] == 1:
        assert out[194]["decision"] == "revalidate"

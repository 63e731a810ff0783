"""Token-bucket admission control over per-key request streams.

The crawl-politeness / API-quota primitive: each key (host, client) owns a
bucket of ``cap`` tokens refilling at a fixed rate; a request is admitted
iff a full token is available, and consumes it.  The recursion
``level = min(cap, level + refill) - admitted`` is a running CLAMP — not
expressible as a window aggregate (no prefix decomposition exists for
min-clamped sums), so this is a legitimate sequential kernel: one
``applyInPandas`` pass per key, O(n) with tiny constant, exactly the
per-key state discipline a distributed rate limiter shards by.

Determinism: all arithmetic is 64-bit integer micro-tokens — with rate
``rate_num/rate_den`` tokens/sec and gaps in microseconds, the refill is
``dt_us * rate_num DIV rate_den`` micro-tokens per gap (one micro-token
= 1e-6 token = what 1 us yields at rate 1/s), floor division applied per
event identically by the Spark kernel and the independent scalar oracle,
so results are bit-identical on any engine and any partitioning (ties in
``ts`` break on the id column; the shuffle key
is the bucket key, so each bucket's scan is single-task by construction —
the same key-locality argument as frontier_schedule).

Scale shape: ONE shuffle keyed by the bucket key; per-key state is two
integers; skew equals real per-host request skew, which is precisely the
load a rate limiter exists to throttle.  At 100 TB of request logs the
hot keys' groups are long but the kernel is a single linear scan each.

Overflow: dt_us * rate_num must stay under 2^63 — rates are small
integers and dt_us < 2^50 for any sane log span.

Reference analog: none; §2.4 web-ingest spine (robots_policy decides
WHETHER, frontier_schedule decides WHEN a worker may fetch; this enforces
HOW OFTEN per key under arbitrary interleaving). Public semantics:
standard token-bucket (RFC 2697-style single-rate, burst = cap).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..groups import keyed_schema

__all__ = ["token_bucket"]

_MICRO = 1_000_000


def token_bucket(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    cap: int,
    rate_num: int,
    rate_den: int = 1,
    cost: int = 1,
) -> DataFrame:
    """(key, ts, id) -> (key, id, ts_us, admitted, tokens_after_micro).

    ``rate_num / rate_den`` tokens per second (rationals let politeness
    rates like one-per-10s stay exact integers); buckets start FULL (the
    standard burst-at-start convention).  ``admitted`` is 0/1 long;
    ``tokens_after_micro`` is the post-decision level in micro-tokens.
    """
    if cap < 1 or rate_num < 1 or rate_den < 1 or cost < 1:
        raise ValueError("cap, rate_num, rate_den, cost must be >= 1")
    cap_u = cap * _MICRO
    cost_u = cost * _MICRO

    staged = df.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("ts_us"),
        F.col(id_col).alias("id"),
    )
    schema = keyed_schema(
        staged, ["key"], "id long, ts_us long, admitted long, tokens_after_micro long"
    )

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts_us", "id"], kind="mergesort")
        ts = pdf["ts_us"].to_numpy()
        n = len(ts)
        admitted = [0] * n
        after = [0] * n
        level = cap_u
        prev = None
        for i in range(n):
            t = int(ts[i])
            if prev is not None:
                # floor-division refill per observed gap, in micro-tokens
                level = min(cap_u, level + (t - prev) * rate_num // rate_den)
            prev = t
            if level >= cost_u:
                level -= cost_u
                admitted[i] = 1
            after[i] = level
        out = pdf[["key", "id", "ts_us"]].copy()
        out["admitted"] = admitted
        out["tokens_after_micro"] = after
        return out

    return staged.groupBy("key").applyInPandas(run, schema)

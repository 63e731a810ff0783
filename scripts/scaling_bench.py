#!/usr/bin/env python
"""N-vs-4N scaling evidence: the same jobs at local[8] and local[32] on
identical input; reports throughput at both + scaling efficiency.

The north rule asks for two CLUSTER sizes (N and 4N executors); no real
cluster exists in this sandbox, so per the driver instruction the same job
runs at two parallelism levels. Each (workload, level) pair runs in its own
fresh JVM subprocess so executor-thread counts are honest AND workloads
can't pollute each other's heap/GC state (measured: the distributed-S2G
timing moved 3x depending on which workload preceded it in a shared JVM).

Efficiency definition (strong scaling on a fixed input):
    eff = (T_N / T_4N) / 4      -- 1.0 = perfect, >= 0.8 target

Workload design: the work must be IDENTICAL across levels (fixed slice
counts / fixed task counts, data synthesized deterministically on the
executors) and large enough that compute, not per-job driver overhead,
dominates — a 2-second job cannot demonstrate scaling at any core count.
Each workload is timed on its SECOND run (JIT/GC-warm) within its JVM, and
each (workload, level) pair is repeated REPEATS times with levels
interleaved, keeping the minimum (on shared hardware single-shot timings
are noisy; the per-pair minimum is the least-interfered sample and the
interleave stops a slow period from biasing one level).

The efficiency is raw: it needs a host with >= 32 cores, since on fewer
local[32] oversubscribes and the ratio says nothing about scaling.

Usage: python scripts/scaling_bench.py [sf_dir] > scaling.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

N_SERIES = 256          # grouped-S2G series count (task count, both levels)
SERIES_LEN = 60_000     # points per series
# Efficiency-optimal granularity for the SAME 15.36M total points: 512
# shorter series -> 24 task waves at 32 cores, so the data-dependent
# per-series cost skew (p90/mean ~ 4x) amortizes instead of letting the
# heavy tail set the makespan at 8 waves. Granularity is the deployment
# knob (BASELINE.md, W2 decomposition): 256x60k maximizes per-point
# throughput, 512x30k maximizes strong-scaling efficiency; the artifact
# reports BOTH so the tradeoff is committed evidence, not prose.
N_SERIES_EFF = 512
SERIES_LEN_EFF = 30_000
BIG_N = 8_000_000       # distributed-S2G series length (large enough that
                        # per-slice NumPy work dwarfs the driver syncs)
BIG_SLICES = 64         # fixed slice count at both levels
PAGES_PARTS = 1024      # pages-table partitions (task count, both levels)
PAGES_PER_PART = 100_000  # rows per partition -> 102.4M pages
PAGES_PATH = "/tmp/dads_bench_pages.parquet"  # written once, read per level

_PRELUDE = r"""
import json, os, sys, time
import numpy as np, pandas as pd

cpus = int(sys.argv[1])
workload = sys.argv[2]

sys.path.insert(0, {repo!r})
from dads_spark.session import get_spark
from dads_spark.fixtures import benchmark_series
from dads_spark.s2g import CANONICAL
from pyspark.sql import functions as F

N_SERIES, SERIES_LEN, BIG_N, BIG_SLICES, PAGES_PARTS, PAGES_PER_PART = (
    {n_series}, {series_len}, {big_n}, {big_slices}, {pages_parts}, {pages_per_part})
N_SERIES_EFF, SERIES_LEN_EFF = {n_series_eff}, {series_len_eff}
PAGES_PATH = {pages_path!r}

# SCALING_BENCH_MODE=cluster: cpus//4 SEPARATE executor JVMs x 4 cores each
# (Spark's local-cluster test master) — a truer N-vs-4N-EXECUTORS emulation
# than thread counts: per-executor heaps/GC/arrow streams are independent,
# exactly as on a real cluster of machines.
if os.environ.get("SCALING_BENCH_MODE") == "cluster":
    master = f"local-cluster[{{cpus // 4}},4,6144]"
    extra = {{"spark.executor.memory": "5g", "spark.driver.memory": "8g"}}
else:
    master = f"local[{{cpus}}]"
    extra = {{}}
spark = get_spark(master=master, shuffle_partitions=max(cpus, 32), extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
out = {{"cpus": cpus}}
"""

# Synthesizes the pages-shaped parquet input for W1 (run once, in its own
# JVM, before any timing): deterministic per partition id, Zipf-skewed
# domains. html omitted — the rollup never reads it, and on a real
# parquet/Iceberg scan column pruning would drop it at the reader anyway.
_W_PREPARE = r"""
_DOMS = np.array([f"d{i:02d}.example.org" for i in range(64)])
_LANGS = np.array(["en", "de", "fr", "es", "other"])
_W = np.array("the a web page crawl data spark series time anomaly rollup tier".split())

def gen_pages(it):
    for pdf in it:
        for pid in pdf["id"]:
            rng = np.random.default_rng(7000 + int(pid))
            n = PAGES_PER_PART
            ranks = np.minimum(rng.zipf(1.3, n), len(_DOMS)) - 1
            dom = _DOMS[ranks]
            secs = rng.integers(0, 28 * 86400, n)
            ts = np.datetime64("2024-01-01") + secs.astype("timedelta64[s]")
            pool = np.array([
                " ".join(_W[(j + np.arange(8 + j % 24)) % len(_W)])
                for j in range(512)
            ])
            text = pool[rng.integers(0, len(pool), n)]
            urls = np.char.add(
                np.char.add("https://", dom),
                np.char.mod("/p/%08d", rng.integers(0, 10**8, n)),
            )
            yield pd.DataFrame({
                "url": urls,
                "warc_ts": pd.Series(ts),
                "text": text,
                "lang": _LANGS[rng.integers(0, len(_LANGS), n)],
            })

ids = spark.range(PAGES_PARTS).repartitionByRange(PAGES_PARTS, "id")
ids.mapInPandas(
    gen_pages, "url string, warc_ts timestamp, text string, lang string"
).write.mode("overwrite").parquet(PAGES_PATH)
out["prepared_rows"] = PAGES_PARTS * PAGES_PER_PART
"""

# W1: per-domain tier rollup over the pages parquet — the north-rule input
# read the way a warehouse reads it (vectorized columnar scan + column
# pruning), NOT from an in-memory string cache: the cached-strings scan
# anti-scaled at 32 threads (allocation/GC contention on 25.6M java
# strings), while the parquet scan is dictionary-encoded and scales.
# Per-row work is url host extraction + octet_length + lang compare — the
# string-heavy profile a Common-Crawl rollup actually has.
_W_ROLLUP = r"""
from dads_spark.rollup import bucket_expr, domain_hourly_series

pages = spark.read.parquet(PAGES_PATH)
n_raw = PAGES_PARTS * PAGES_PER_PART
for _warm in range(2):  # second (JIT/GC-warm) run is the measurement
    t0 = time.perf_counter()
    hour = domain_hourly_series(pages).cache()
    n_pts = hour.count()
    # day tier cascaded from hour: sums are exact; lang_share recombines as
    # a doc_count-weighted mean
    day = hour.groupBy("domain", bucket_expr("bucket_ts", "day")).agg(
        F.sum("doc_count").alias("doc_count"),
        F.sum("text_bytes").alias("text_bytes"),
        (F.sum(F.col("lang_share") * F.col("doc_count")) / F.sum("doc_count")).alias(
            "lang_share"
        ),
    )
    n_pts += day.count()
    out["rollup_sec"] = time.perf_counter() - t0
    if _warm == 0:
        hour.unpersist()
out["rollup_rows"] = n_raw
out["rollup_rows_per_sec"] = n_raw / out["rollup_sec"]
"""

# W2: grouped S2G over N_SERIES independent series, synthesized ON EXECUTORS
# (deterministic per series id) and scored with score_series_grouped — the
# 100-TB-shaped path: one whole series per kernel call behind mapInArrow
_W_GROUPED = r"""
from dads_spark.s2g.pipeline import score_series_grouped
# range partitioning: exactly one series per partition (hash would collide)
ids = spark.range(N_SERIES).repartitionByRange(N_SERIES, "id")
def gen(it):
    for pdf in it:
        for sid in pdf["id"]:
            x = benchmark_series(SERIES_LEN, seed=int(sid))
            yield pd.DataFrame({"domain": np.repeat(f"d{int(sid):03d}", SERIES_LEN),
                                "t": np.arange(SERIES_LEN, dtype=np.int64),
                                "value": x})
gdf = ids.mapInPandas(gen, "domain string, t long, value double").cache()
gdf.count()
for _warm in range(2):
    t0 = time.perf_counter()
    score_series_grouped(gdf, ["domain"], "t", "value", CANONICAL).count()
    out["s2g_grouped_sec"] = time.perf_counter() - t0
out["s2g_grouped_points"] = N_SERIES * SERIES_LEN
out["s2g_grouped_points_per_sec"] = out["s2g_grouped_points"] / out["s2g_grouped_sec"]
"""

# W3: distributed S2G on one BIG_N-point series, FIXED BIG_SLICES slices at
# both levels so the computation is identical; only parallelism changes
_W_DIST = r"""
from dads_spark.s2g.pipeline import run_s2g_distributed
x = benchmark_series(BIG_N)
df = spark.createDataFrame(
    pd.DataFrame({"idx": np.arange(len(x), dtype=np.int64), "value": x}),
    "idx long, value double").cache()
df.count()
for _warm in range(2):
    t0 = time.perf_counter()
    run_s2g_distributed(spark, df, CANONICAL, n_slices=BIG_SLICES, n=len(x)).count()
    out["s2g_distributed_sec"] = time.perf_counter() - t0
out["s2g_distributed_points_per_sec"] = BIG_N / out["s2g_distributed_sec"]
"""

_EPILOGUE = r"""
spark.stop()
print("RESULT" + json.dumps(out))
"""

# the efficiency-granularity W2 variant: identical code over 512x30k (same
# 15.36M total points), separate output keys
_W_GROUPED_EFF = (
    _W_GROUPED.replace("N_SERIES", "N_SERIES_EFF")
    .replace("SERIES_LEN", "SERIES_LEN_EFF")
    .replace("s2g_grouped_", "s2g_grouped_eff_")
)

WORKLOADS = {
    "rollup": _W_ROLLUP,
    "grouped": _W_GROUPED,
    "grouped_eff": _W_GROUPED_EFF,
    "dist": _W_DIST,
}


def run_workload(cpus: int, workload: str) -> dict:
    body = _W_PREPARE if workload == "prepare" else WORKLOADS[workload]
    code = (
        _PRELUDE.format(
            repo=REPO,
            n_series=N_SERIES,
            n_series_eff=N_SERIES_EFF,
            series_len_eff=SERIES_LEN_EFF,
            series_len=SERIES_LEN,
            big_n=BIG_N,
            big_slices=BIG_SLICES,
            pages_parts=PAGES_PARTS,
            pages_per_part=PAGES_PER_PART,
            pages_path=PAGES_PATH,
        )
        + body
        + _EPILOGUE
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, str(cpus), workload],
        capture_output=True,
        text=True,
        timeout=3000,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT"):
            return json.loads(line[len("RESULT"):])
    raise RuntimeError(
        f"worker failed (cpus={cpus}, workload={workload}):\n{proc.stderr[-3000:]}"
    )


REPEATS = int(os.environ.get("SCALING_BENCH_REPEATS", "3"))


def run_levels(repeats: int = REPEATS) -> tuple[dict, dict, dict]:
    """Run every (workload, level) pair ``repeats`` times, INTERLEAVING the
    levels (8, 32, 8, 32, ...) so ambient noise on this shared VM hits both
    levels equally, and keep the MINIMUM time per pair (the least-interfered
    sample). Returns (level8, level32, samples)."""
    samples: dict[str, list[float]] = {}
    best: dict[tuple[int, str], dict] = {}
    for r in range(repeats):
        for w in WORKLOADS:
            for cpus in (8, 32):
                res = run_workload(cpus, w)
                key = next(k for k in res if k.endswith("_sec"))
                samples.setdefault(f"{key}@{cpus}", []).append(round(res[key], 2))
                prev = best.get((cpus, w))
                if prev is None or res[key] < prev[key]:
                    best[(cpus, w)] = res
                print(
                    f"  repeat {r}: {w}@{cpus} = {res[key]:.2f}s",
                    file=sys.stderr,
                    flush=True,
                )
    out = {}
    for cpus in (8, 32):
        merged = {"cpus": cpus}
        for w in WORKLOADS:
            merged.update(
                {k: v for k, v in best[(cpus, w)].items() if k != "cpus"}
            )
        out[cpus] = merged
    return out[8], out[32], samples


def main() -> None:
    if not os.path.exists(os.path.join(PAGES_PATH, "_SUCCESS")):
        print("preparing pages parquet input...", file=sys.stderr, flush=True)
        run_workload(32, "prepare")
    r8, r32, samples = run_levels()
    report = {
        "n_cpus": 8,
        "4n_cpus": 32,
        "repeats": REPEATS,
        "aggregation": "min time per (workload, level) across repeats, levels interleaved",
        "samples_sec": samples,
        "levels": [r8, r32],
    }
    for metric in (
        "rollup_sec",
        "s2g_grouped_sec",
        "s2g_grouped_eff_sec",
        "s2g_distributed_sec",
    ):
        t8, t32 = r8[metric], r32[metric]
        report[f"{metric}_efficiency"] = round((t8 / t32) / 4.0, 3)
        report[f"{metric}_speedup"] = round(t8 / t32, 2)
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()

"""The benchmark workloads.

Each workload generates its inputs from a seed, builds them, warms the
session, and then runs a
closed loop with one client: the next operation starts when the previous
one has returned and been checked. Every timed operation ends in a full
materialisation — parquet writes inside the job, or the ``toPandas``/
``collect`` its correctness check needs.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from dads_spark.checkpoint import SnapshotStore
from dads_spark.compress import read_compressed_tier, write_compressed_tier
from dads_spark.fixtures import benchmark_series
from dads_spark.fixtures.pages import BASE_TS, pages_pandas
from dads_spark.jobs import PagesRollupJob
from dads_spark.rollup import cascade, rollup_from_raw
from dads_spark.rollup.router import range_segments
from dads_spark.s2g import CANONICAL, ROLLUP, s2g_oracle
from dads_spark.s2g.pipeline import run_s2g_distributed, score_series_grouped

from tracing import clock, job_stats, median, since, window_execs, window_stats

JOB_STAGES = (
    "tier_hour", "tier_day", "tier_week", "sketch_hour", "sketch_day",
    "distinct_hour", "distinct_day", "gapfill_hour", "compress_hour",
    "s2g_scores", "discord_ranges", "changepoints", "forecast_baselines",
    "count_drift", "chart_rules",
)
S2G_PHASES = (
    "PCACreated", "IntersectionsCreated", "NodesExtracted",
    "EdgePartitionCreated", "PathScoresCreated", "PathScoresNormalized",
)
TIERS = ("tier_hour", "tier_day", "tier_week")
REFRESHED = ("refresh_hour", "refresh_day", "refresh_week")
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])

# The workload-specific half of the traced run's per-layer metrics. Every
# workload prints every name; a layer it does not run reads 0.
LAYER_METRICS = (
    *(f"stage.{s}.{k}" for s in JOB_STAGES for k in ("wall_s", "cpu_s", "py_s", "shuffle_mb")),
    "publish.wall_s", "publish.cpu_s", "publish.syncs",
    *(f"late.{s}.wall_s" for s in ("refresh_hour", "refresh_day", "refresh_week", "publish")),
    "resume.syncs",
    *(f"job.{k}" for k in ("gc_s", "arrow_mb", "util", "straggler")),
    *(f"serve.{k}" for k in (
        "plan_s", "exec_s", "syncs", "tasks", "decode_py_s", "blob_read_share",
    )),
    "snapshot.read_s",
    *(f"sliced.{p}.{k}" for p in S2G_PHASES for k in ("wall_s", "cpu_s", "py_s")),
    "sliced.syncs", "sliced.driver_s", "sliced.collected_kb", "oracle.wall_s",
    *(f"grouped.{k}" for k in ("wall_s", "cpu_s", "py_s", "arrow_mb", "util", "straggler")),
)


class Workload:
    """Shared closed-loop bookkeeping. Subclasses fill in the phases."""

    plan_graphs = False  # layers() reads operator metrics of the plan graphs

    def __init__(self, spark, params: dict, seed: int, work: str, tracer, cores: int):
        self.spark = spark
        self.p = params
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.raw_walls: dict[str, list[float]] = {}

    def build(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        pass

    def prepare_checks(self) -> None:
        pass

    def step(self) -> None:
        raise NotImplementedError

    def step_done(self) -> bool:
        """True when the loop may stop after this step."""
        return True

    def e2e(self) -> dict:
        raise NotImplementedError

    def detail(self) -> dict:
        raise NotImplementedError

    def layers(self, dump) -> dict:
        raise NotImplementedError

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.errors.append(what)
        return ok

    def timed(self, name: str, fn):
        """Run ``fn`` as one attempted operation; returns (steal-adjusted
        wall, result), or (None, None) when it raised. The raw wall goes to
        ``raw_walls``."""
        self.attempted += 1
        start = clock()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            return None, None
        wall, adjusted = since(start)
        self.raw_walls.setdefault(name, []).append(wall)
        return adjusted, out

    def verify(self, ok: bool, what: str) -> None:
        """Count the operation just timed as failed unless ``ok``."""
        if not self.check(ok, what):
            self.failed += 1


# -- pages_job -----------------------------------------------------------------

def fold_pages(pdf: pd.DataFrame, domains: int, days: int, tag: str) -> pd.DataFrame:
    """Fold the fixture's 64 domains x 28 days onto ``domains`` x ``days``
    (keeping its Zipf skew and silent weekdays) and give every row a URL
    under ``/<tag>/``."""
    base = pd.Timestamp(BASE_TS)
    secs = (pdf["warc_ts"] - base).dt.total_seconds().astype(np.int64) % (days * 86400)
    dom = pdf["url"].str.slice(9, 11).astype(int) % domains  # https://dNN.
    out = pdf.copy()
    out["warc_ts"] = base + pd.to_timedelta(secs, unit="s")
    out["url"] = [
        f"https://d{d:02d}.example.org/{tag}/{i:08d}" for i, d in enumerate(dom)
    ]
    return out


class PagesJob(Workload):
    """The batch side of the library. One cycle runs the S2G layer alone in
    its two distribution shapes (one long series through the slice-parallel
    plan, many short series through the one-series-per-task plan), then a
    cold 15-stage ``PagesRollupJob.run`` with publish, ``apply_late`` of a
    late batch at new URLs and a pure-resume rerun."""

    def build(self) -> None:
        p = self.p
        n, n_late = p["pages"], max(1, int(p["pages"] * p["late_share"]))
        pages = fold_pages(pages_pandas(n, self.seed), p["domains"], p["days"], "p")
        late = fold_pages(
            pages_pandas(n_late, self.seed + 1), p["domains"], p["days"], "late"
        )
        self.inputs = os.path.join(self.work, "inputs")
        for name, pdf in (("pages", pages), ("late", late)):
            os.makedirs(os.path.join(self.inputs, name))
            pq.write_table(
                pa.Table.from_pandas(pdf, PAGES_SCHEMA, preserve_index=False),
                os.path.join(self.inputs, name, "part-0.parquet"),
            )
        self.n, self.n_late = n, n_late
        self.pages = self.spark.read.parquet(os.path.join(self.inputs, "pages"))
        self.late = self.spark.read.parquet(os.path.join(self.inputs, "late"))
        self.desc = {"workload": "pages_job", "seed": self.seed, "pages": n}
        self.late_desc = {"late_seed": self.seed + 1, "pages": n_late}

        n, k, m = p["sliced_points"], p["grouped_series"], p["grouped_points"]
        self.x = benchmark_series(n, self.seed)
        self.series = self.spark.createDataFrame(
            pd.DataFrame({"idx": np.arange(n, dtype=np.int64), "value": self.x})
        ).cache()
        self.group_x = [benchmark_series(m, self.seed * 100_003 + i) for i in range(k)]
        self.groups = self.spark.createDataFrame(
            pd.DataFrame({
                "sid": np.repeat(np.arange(k, dtype=np.int64), m),
                "t": np.tile(np.arange(m, dtype=np.int64), k),
                "value": np.concatenate(self.group_x),
            })
        ).cache()
        self.series.count()
        self.groups.count()
        self.cycles: list[dict] = []

    def _sliced(self, df, n: int) -> pd.DataFrame:
        return run_s2g_distributed(
            self.spark, df, CANONICAL, self.cores, n=n, small_series_threshold=0
        ).toPandas()

    def _grouped(self, df) -> pd.DataFrame:
        return score_series_grouped(df, ["sid"], "t", "value", ROLLUP).toPandas()

    def prepare_checks(self) -> None:
        with self.tracer.span("s2g.oracle"):
            self.want = s2g_oracle(self.x, CANONICAL, n_slices=self.cores).scores
        rng = np.random.default_rng([self.seed, 2])
        self.sample = rng.choice(len(self.group_x), self.p["check_sample"], replace=False)
        self.group_want = {
            int(i): s2g_oracle(self.group_x[i], ROLLUP, n_slices=1).scores
            for i in self.sample
        }

    def _tier_totals(self, job, tables) -> dict:
        """``doc_count`` total of each published table, in one Spark job."""
        parts = [
            job.read_published(t).select(F.lit(t).alias("t"), "doc_count") for t in tables
        ]
        unioned = parts[0]
        for part in parts[1:]:
            unioned = unioned.unionByName(part)
        rows = unioned.groupBy("t").agg(F.sum("doc_count").alias("n")).collect()
        return {r["t"]: r["n"] for r in rows}

    def step(self) -> None:
        """The S2G steps run first: they start the Python workers and
        compile the pandas-UDF paths the job uses. A separate warm-up job
        run would cost as much as the cycle it warms."""
        sliced, grouped = self._s2g_cycle()
        cyc = self._job_cycle()
        cyc["sliced"], cyc["grouped"] = sliced, grouped
        self.cycles.append(cyc)

    def _job_cycle(self) -> dict:
        c = len(self.cycles)
        ck = os.path.join(self.work, f"ck{c}")
        pub = os.path.join(self.work, f"pub{c}")
        job = PagesRollupJob(self.spark, ck, publish_root=pub)
        cyc = {"cold": None, "late": None, "resume": None}
        cyc["cold"], _ = self.timed("job.run", lambda: job.run(self.pages, self.desc))
        if cyc["cold"] is not None:
            totals = self._tier_totals(job, TIERS)
            ok = self.check(
                totals == dict.fromkeys(TIERS, self.n),
                f"tier doc_count totals {totals} != pages",
            )
            history = job.store.history()
            for stage in JOB_STAGES:
                # read with pyarrow: ckpt.metrics() costs two Spark jobs a stage
                manifest = int(pq.read_table(
                    job.ckpt._manifest_path(stage), columns=["row_count"]
                )["row_count"].to_numpy().sum())
                version = job.store.latest_version(stage)
                latest = [
                    s["row_count"] for s in history
                    if s["table"] == stage and s["version"] == version
                ]
                ok &= self.check(latest == [manifest], f"{stage} published rows != manifest")
            self.verify(ok, "cold run checks")
            cyc["late"], _ = self.timed(
                "job.apply_late",
                lambda: job.apply_late(self.pages, self.late, self.desc, self.late_desc),
            )
        if cyc["late"] is not None:
            totals = self._tier_totals(job, REFRESHED)
            self.verify(
                totals == dict.fromkeys(REFRESHED, self.n + self.n_late),
                f"refreshed tier totals {totals} != pages + late",
            )
            resumed = PagesRollupJob(self.spark, ck, publish_root=pub)
            cyc["resume"], _ = self.timed(
                "job.resume", lambda: resumed.run(self.pages, self.desc)
            )
            if cyc["resume"] is not None:
                self.verify(
                    not resumed.ran_stages
                    and sorted(resumed.skipped_stages) == sorted(JOB_STAGES),
                    f"resume ran {resumed.ran_stages}, skipped {resumed.skipped_stages}",
                )
        cyc["rows"] = job.metrics.rows()
        shutil.rmtree(ck, ignore_errors=True)
        shutil.rmtree(pub, ignore_errors=True)
        return cyc

    def _s2g_cycle(self) -> tuple:
        n = self.p["sliced_points"]
        sliced, got = self.timed("s2g.sliced", lambda: self._sliced(self.series, n))
        if sliced is not None:
            got = got.sort_values("window_idx")
            self.verify(
                np.array_equal(got["window_idx"].to_numpy(), np.arange(len(self.want)))
                and np.array_equal(got["score"].to_numpy(), self.want),
                "sliced scores != s2g_oracle at equal slicing",
            )
        grouped, got = self.timed("s2g.grouped", lambda: self._grouped(self.groups))
        if grouped is not None:
            ok = set(got["sid"].unique()) == set(range(len(self.group_x)))
            for sid, want in self.group_want.items():
                mine = got[got["sid"] == sid].sort_values("window_idx")["score"]
                ok &= np.array_equal(mine.to_numpy(), want)
            self.verify(ok, "grouped scores != s2g_oracle(n_slices=1)")
        return sliced, grouped

    def _walls(self, key: str) -> list[float]:
        return [c[key] for c in self.cycles if c[key] is not None]

    def e2e(self) -> dict:
        maint = [
            c["late"] + c["resume"] for c in self.cycles
            if c["late"] is not None and c["resume"] is not None
        ]
        return {"main_s": median(self._walls("cold")), "aux_s": median(maint)}

    def detail(self) -> dict:
        sliced, grouped = median(self._walls("sliced")), median(self._walls("grouped"))
        grouped_points = self.p["grouped_series"] * self.p["grouped_points"]
        return {
            "job_wall_s": {"value": median(self._walls("cold")), "unit": "s"},
            "late_refresh_s": {"value": median(self._walls("late")), "unit": "s"},
            "resume_s": {"value": median(self._walls("resume")), "unit": "s"},
            "s2g_sliced_points_per_s": {
                "value": self.p["sliced_points"] / sliced if sliced else 0.0,
                "unit": "points/s",
            },
            "s2g_grouped_points_per_s": {
                "value": grouped_points / grouped if grouped else 0.0,
                "unit": "points/s",
            },
            "cycles": {"value": len(self.cycles), "unit": "count"},
        }

    def layers(self, dump) -> dict:
        return {**self._job_layers(dump), **self._s2g_layers(dump)}

    def _job_layers(self, dump) -> dict:
        tr, out = self.tracer, {}
        cold_spans, lates = tr.named("job.run"), tr.named("job.apply_late")
        resume_spans = tr.named("job.resume")
        n = max(1, len(self.cycles))
        for stage in JOB_STAGES:
            acc = dict.fromkeys(("wall_s", "cpu_s", "py_s", "shuffle_mb"), 0.0)
            for cyc, span in zip(self.cycles, cold_spans):
                for seq, row in enumerate(cyc["rows"]):
                    if row["stage"] != stage:
                        continue
                    group = f"dads_metrics::{stage}::{seq}"
                    ids = [
                        j["jobId"] for j in dump["jobs"]
                        if j.get("jobGroup") == group
                        and span["t0_ms"] <= j["submissionTime"] <= span["t1_ms"]
                    ]
                    st = job_stats(dump, ids, self.cores, row["wall_sec"])
                    acc["wall_s"] += row["wall_sec"]
                    for k in ("cpu_s", "py_s", "shuffle_mb"):
                        acc[k] += st[k]
            for k, v in acc.items():
                out[f"stage.{stage}.{k}"] = v / n
        pub = [c for s in cold_spans for c in tr.children(s, "snapshot.commit")]
        pub_stats = [window_stats(dump, c, self.cores) for c in pub]
        out["publish.wall_s"] = sum(c["wall_s"] for c in pub) / n
        out["publish.cpu_s"] = sum(s["cpu_s"] for s in pub_stats) / n
        out["publish.syncs"] = sum(s["syncs"] for s in pub_stats) / n
        for stage in REFRESHED:
            out[f"late.{stage}.wall_s"] = sum(
                r["wall_sec"] for c in self.cycles for r in c["rows"] if r["stage"] == stage
            ) / n
        out["late.publish.wall_s"] = sum(
            c["wall_s"] for s in lates for c in tr.children(s, "snapshot.commit")
        ) / n
        out["resume.syncs"] = sum(
            window_stats(dump, s, self.cores)["syncs"] for s in resume_spans
        ) / n
        job = [window_stats(dump, s, self.cores) for s in cold_spans]
        for k in ("gc_s", "arrow_mb", "util", "straggler"):
            out[f"job.{k}"] = median(s[k] for s in job)
        return out

    def _s2g_layers(self, dump) -> dict:
        tr, out = self.tracer, {}
        sliced = tr.named("s2g.sliced")
        n = max(1, len(sliced))
        acc: dict[str, float] = {}
        for span in sliced:
            execs = sorted(
                window_execs(dump, span["t0_ms"], span["t1_ms"]), key=lambda e: e["id"]
            )
            prev = span["t0_ms"]
            for i, e in enumerate(execs):
                phase = _phase_of(i, len(execs))
                end = e.get("t1_ms") or span["t1_ms"]
                st = job_stats(dump, e["jobs"], self.cores, (end - prev) / 1000.0)
                for k, v in (("wall_s", (end - prev) / 1000.0), ("cpu_s", st["cpu_s"]),
                             ("py_s", st["py_s"])):
                    key = f"sliced.{phase}.{k}"
                    acc[key] = acc.get(key, 0.0) + v
                prev = end
        for phase in S2G_PHASES:
            for k in ("wall_s", "cpu_s", "py_s"):
                out[f"sliced.{phase}.{k}"] = acc.get(f"sliced.{phase}.{k}", 0.0) / n
        whole = [window_stats(dump, s, self.cores) for s in sliced]
        out["sliced.syncs"] = median(s["syncs"] for s in whole)
        out["sliced.driver_s"] = median(s["driver_s"] for s in whole)
        out["sliced.collected_kb"] = median(s["result_kb"] for s in whole)
        out["oracle.wall_s"] = sum(s["wall_s"] for s in tr.named("s2g.oracle"))
        grouped = tr.named("s2g.grouped")
        g = [window_stats(dump, s, self.cores) for s in grouped]
        out["grouped.wall_s"] = median(s["wall_s"] for s in grouped)
        for k in ("cpu_s", "py_s", "arrow_mb", "util", "straggler"):
            out[f"grouped.{k}"] = median(s[k] for s in g)
        return out


def _phase_of(i: int, n: int) -> str:
    """Root SQL executions of one sliced run, in order: the first three are
    the PCA, intersection and node round trips; the last two the score
    summary and the final normalised collect; everything between (graph
    merge and slot-tail collects) is edge creation."""
    if i < 3:
        return S2G_PHASES[i]
    if i == n - 1:
        return "PathScoresNormalized"
    if i == n - 2:
        return "PathScoresCreated"
    return "EdgePartitionCreated"


# -- tier_serving --------------------------------------------------------------

T0 = 1704067200  # 2024-01-01T00:00Z, a Monday: week buckets align with it


def serving_query(spark, store: SnapshotStore, blobs: str, t0: int, t1: int):
    """Per-key (doc_count, value_sum) over [t0, t1): week and day rows from
    the published tiers, the hour fringe decoded from the compressed store
    (value and count channels)."""
    parts = []
    for tier, lo, hi in range_segments(t0, t1):
        if tier == "hour":
            lo_us, hi_us = lo * 1_000_000, hi * 1_000_000
            v = read_compressed_tier(
                spark, f"{blobs}/vals", ["key"], t0_us=lo_us, t1_us=hi_us
            )
            c = read_compressed_tier(
                spark, f"{blobs}/counts", ["key"], t0_us=lo_us, t1_us=hi_us,
                value_col="dc",
            )
            parts.append(
                v.join(c, ["key", "bucket_ts"]).select(
                    "key", F.col("dc").cast("long").alias("doc_count"), "value_sum"
                )
            )
        else:
            b = F.unix_timestamp(F.col("bucket_ts").cast("timestamp"))
            parts.append(
                store.read(tier)
                .filter((b >= lo) & (b < hi))
                .select("key", "doc_count", "value_sum")
            )
    unioned = parts[0]
    for part in parts[1:]:
        unioned = unioned.unionByName(part)
    return unioned.groupBy("key").agg(
        F.sum("doc_count").cast("long").alias("doc_count"),
        F.sum("value_sum").alias("value_sum"),
    )


def query_pool(rng, hours: int, strata: int, blocks: int) -> list[tuple[int, int]]:
    """(start_hour, length_hours) pairs. The lengths are the midpoints of
    ``strata`` equal strata of log-length over [1, hours] (a log-uniform
    quadrature), each at a fixed hour-of-week phase, so every block of
    ``strata`` queries splits into the same mix of week, day and hour
    segments whatever the seed. The seed picks the week each query starts
    in and the order within a block."""
    week = 168
    shapes = [
        ((17 + 53 * i) % week,
         max(1, int(round(np.exp((i + 0.5) / strata * np.log(hours))))))
        for i in range(strata)
    ]
    out = []
    for _ in range(blocks):
        for j in rng.permutation(strata):
            phase, length = shapes[j]
            weeks = (hours - length - phase) // week
            out.append((phase + week * int(rng.integers(0, weeks + 1)), length))
    return out


class TierServing(Workload):
    """Range queries over hour/day/week tiers published with
    ``SnapshotStore.commit`` and an hour tier in the compressed blob store."""

    plan_graphs = True

    def build(self) -> None:
        p = self.p
        rng = np.random.default_rng(self.seed)
        n, keys, hours = p["events"], p["keys"], p["days"] * 24
        key = np.minimum(rng.zipf(p["zipf_a"], n), keys) - 1
        ts = T0 + rng.integers(0, hours * 3600, n)
        val = rng.integers(0, p["value_max"], n)
        root = os.path.join(self.work, "store")
        raw_path = os.path.join(root, "raw")
        os.makedirs(raw_path)
        pq.write_table(
            pa.table({
                "key": key.astype(np.int64),
                "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
                "value": val.astype(np.float64),
            }),
            os.path.join(raw_path, "events.parquet"),
        )
        raw = self.spark.read.parquet(raw_path)
        self.store = SnapshotStore(self.spark, os.path.join(root, "tiers"))
        self.store.commit("hour", rollup_from_raw(raw, ["key"], "ts", "value", "hour"))
        hour = self.store.read("hour")
        self.store.commit("day", cascade(hour, ["key"], "day"))
        self.store.commit("week", cascade(self.store.read("day"), ["key"], "week"))
        self.blobs = os.path.join(root, "blobs")
        chunk = p["chunk_points"]
        write_compressed_tier(hour, ["key"], f"{self.blobs}/vals", chunk_points=chunk)
        write_compressed_tier(
            hour.withColumn("dc", F.col("doc_count").cast("double")),
            ["key"], f"{self.blobs}/counts", value_col="dc", chunk_points=chunk,
        )
        # reference answers: prefix sums of the raw events per (key, hour)
        h = (ts - T0) // 3600
        cnt = np.zeros((keys, hours + 1), np.int64)
        tot = np.zeros((keys, hours + 1), np.int64)
        np.add.at(cnt, (key, h + 1), 1)
        np.add.at(tot, (key, h + 1), val)
        self.cnt, self.tot = cnt.cumsum(axis=1), tot.cumsum(axis=1)
        self.queries = query_pool(
            np.random.default_rng([self.seed, 1]), hours, p["strata"], 64
        )
        self.latencies: list[float] = []
        self.multi_tier: list[bool] = []

    def _query(self, s: int, length: int) -> pd.DataFrame:
        t0, t1 = T0 + 3600 * s, T0 + 3600 * (s + length)
        return serving_query(self.spark, self.store, self.blobs, t0, t1).toPandas()

    def _expected(self, s: int, length: int) -> dict:
        n = self.cnt[:, s + length] - self.cnt[:, s]
        v = self.tot[:, s + length] - self.tot[:, s]
        return {k: (int(n[k]), float(v[k])) for k in np.flatnonzero(n)}

    def warm(self) -> None:
        """One query of every plan shape in the pool's last block (the
        sequence of tiers its segments read): every plan the loop will run
        is compiled and JIT-warmed before the loop starts."""
        seen = set()
        for s, length in self.queries[-self.p["strata"]:]:
            t0 = T0 + 3600 * s
            shape = tuple(tier for tier, _, _ in range_segments(t0, t0 + 3600 * length))
            if shape not in seen:
                seen.add(shape)
                self._query(s, length)

    def step(self) -> None:
        s, length = self.queries[self.attempted % len(self.queries)]
        wall, got = self.timed("serve.query", lambda: self._query(s, length))
        if wall is None:
            return
        self.latencies.append(wall)
        t0 = T0 + 3600 * s
        self.multi_tier.append(len(range_segments(t0, t0 + 3600 * length)) > 1)
        answer = {
            int(r.key): (int(r.doc_count), float(r.value_sum))
            for r in got.itertuples()
        }
        self.verify(
            answer == self._expected(s, length), f"query [{s}, +{length}h) != raw-event sums"
        )

    def step_done(self) -> bool:
        return len(self.latencies) % self.p["strata"] == 0

    def e2e(self) -> dict:
        """Short ranges are served by the compressed hour tier alone; long
        ones stitch week/day snapshot reads with hour fringes. The two
        latency groups sit far apart, so each gets its own figure: the mean
        over whole blocks, which weighs every length stratum of the group
        equally (a median of a few samples would pick one stratum)."""
        split = {False: [], True: []}
        for wall, multi in zip(self.latencies, self.multi_tier):
            split[multi].append(wall)
        return {k: statistics.fmean(split[multi]) if split[multi] else 0.0
                for k, multi in (("main_s", False), ("aux_s", True))}

    def detail(self) -> dict:
        lat = sorted(self.latencies)
        p90 = lat[min(len(lat) - 1, int(0.9 * len(lat)))] if lat else 0.0
        return {
            "range_query_p50_s": {"value": median(lat), "unit": "s"},
            "range_query_p90_s": {"value": p90, "unit": "s"},
            "queries": {"value": len(lat), "unit": "count"},
            "samples_s": self.latencies,
        }

    def layers(self, dump) -> dict:
        tr = self.tracer
        stored = sum(
            self.spark.read.parquet(f"{self.blobs}/{ch}").count()
            for ch in ("vals", "counts")
        )
        rows = []
        for q in tr.named("serve.query"):
            st = window_stats(dump, q, self.cores)
            scanned = 0.0
            for e in window_execs(dump, q["t0_ms"], q["t1_ms"], roots_only=False):
                for node in _flat_nodes(e.get("nodes", [])):
                    if node["name"].startswith("Scan parquet") and "ts_blob" in node["desc"]:
                        for m in node["metrics"]:
                            if m["name"] == "number of output rows":
                                scanned += float(
                                    e["values"].get(m["accumulatorId"], "0").replace(",", "")
                                )
            rows.append({
                "plan_s": st["plan_s"],
                "exec_s": q["wall_s"] - st["plan_s"],
                "syncs": st["syncs"],
                "tasks": st["tasks"],
                "decode_py_s": st["py_s"],
                "blob_read_share": scanned / stored if stored else 0.0,
                "read_s": sum(r["wall_s"] for r in tr.children(q, "snapshot.read")),
            })
        out = {
            f"serve.{k}": median(r[k] for r in rows)
            for k in ("plan_s", "exec_s", "syncs", "tasks", "decode_py_s", "blob_read_share")
        }
        out["snapshot.read_s"] = median(r["read_s"] for r in rows)
        return out


def _flat_nodes(nodes):
    for n in nodes:
        yield n
        yield from _flat_nodes(n.get("nodes", []))


WORKLOADS = {"pages_job": PagesJob, "tier_serving": TierServing}

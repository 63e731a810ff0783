"""End-to-end north-rule job: pages -> tiers -> gapfill -> compress -> anomaly,
resumable, text bytes untouched."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest

from pyspark.sql import functions as F

from dads_spark.compress import decode_timestamps, decode_values
from dads_spark.fixtures.pages import pages_table
from dads_spark.jobs import PagesRollupJob
from dads_spark.rollup import text_identity_fingerprint
from dads_spark.s2g import S2GParams


@pytest.fixture(scope="module")
def pages(spark):
    return pages_table(spark, 8000).cache()


def test_full_pipeline_and_resume(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("job"))
    params = S2GParams(m=20, c=6, S=30, ell=30)
    desc = {"source": "pages-fixture", "n": 8000}

    job = PagesRollupJob(spark, root, s2g_params=params)
    out = job.run(pages, desc)
    assert len(job.ran_stages) == 15 and not job.skipped_stages

    # tiers conserve totals
    hour_total = out["hour"].agg(F.sum("doc_count")).collect()[0][0]
    week_total = out["week"].agg(F.sum("doc_count")).collect()[0][0]
    assert hour_total == week_total == 8000

    # gap-fill produced dense hourly series with some filled buckets
    gf = out["gapfilled"]
    assert gf.filter(F.col("gap_filled")).count() > 0

    # compressed blobs (the read_compressed_tier format) round-trip for
    # one domain chunk
    row = out["compressed"].orderBy(F.col("n_points").desc()).first()
    ts = decode_timestamps(bytes(row["ts_blob"]), row["n_points"])
    vals = decode_values(bytes(row["val_blob"]), row["n_points"])
    assert len(ts) == len(vals) == row["n_points"] > 1
    assert (np.diff(ts) == 3_600_000_000).all()  # dense hourly µs after gap-fill
    assert (ts[0], ts[-1]) == (row["t_min_us"], row["t_max_us"])

    # anomaly outputs exist for long-enough series
    assert out["s2g_scores"].count() > 0

    # digest cascade: day p50/p90 derived from the MERGED hour sketches
    # (out["sketch_day"] reads only the persisted sketch_hour stage) must
    # sit within the sketch's 2% rank-error bound of the exact day
    # quantiles computed from raw text lengths
    from dads_spark.rollup import bucket_expr
    from dads_spark.rollup.series import with_domain

    raw = (
        with_domain(pages)
        .select(
            "domain",
            bucket_expr("warc_ts", "day").cast("string").alias("bucket_day"),
            F.octet_length("text").cast("double").alias("text_len"),
        )
        .toPandas()
    )
    got = out["day_quantiles"].toPandas()
    assert len(got) > 0
    checked = 0
    for (dom, day), grp in raw.groupby(["domain", "bucket_day"]):
        vals = np.sort(grp["text_len"].to_numpy())
        sub = got[(got.domain == dom) & (got.bucket_day == day)]
        if sub.empty:
            continue
        for _, r in sub.iterrows():
            # rank error: where the sketch value falls in the exact CDF.
            # Duplicated values occupy a rank INTERVAL [lo, hi]; the error
            # is the distance from the target prob to that interval.
            n = max(len(vals), 1)
            lo = np.searchsorted(vals, r["value"], side="left") / n
            hi = np.searchsorted(vals, r["value"], side="right") / n
            err = max(lo - r["prob"], r["prob"] - hi, 0.0)
            assert err <= 0.02 + 1.0 / n, (dom, day, r["prob"], lo, hi)
            checked += 1
    assert checked > 0

    # distinct cascade: day distinct-url estimates derived by UNIONING the
    # persisted hour HLL sketches (distinct_day reads only distinct_hour)
    # sit within the sketch's error envelope of exact COUNT(DISTINCT url)
    exact_d = (
        with_domain(pages)
        .groupBy("domain", bucket_expr("warc_ts", "day").alias("bucket_ts"))
        .agg(F.countDistinct("url").alias("exact"))
    )
    est = out["day_distinct_urls"].join(exact_d, ["domain", "bucket_ts"])
    est_rows = est.collect()
    assert est_rows
    for r in est_rows:
        assert abs(r["approx_distinct"] - r["exact"]) <= max(0.05 * r["exact"], 1)

    # analytics stages emit per-domain rows from committed tiers only
    assert out["forecast_baselines"].count() > 0
    assert out["count_drift"].count() > 0
    for r in out["count_drift"].collect():
        assert 0 <= r["tv"] <= 1
    cps = out["changepoints"]
    assert cps.filter(~F.col("cp_idx").between(1, F.col("n") - 1)).count() == 0

    # resume: everything committed -> all skipped
    job2 = PagesRollupJob(spark, root, s2g_params=params)
    job2.run(pages, desc)
    assert len(job2.skipped_stages) == 15 and not job2.ran_stages


def test_wap_publish_rollback_and_resume(spark, pages, tmp_path_factory):
    """SnapshotStore wiring: every stage is written once, as a snapshot
    version; a rolled-back-past version is invisible to the job's readers;
    a re-run resumes from the last PUBLISHED snapshot (the rollback
    survives) and heals a lost log entry or a lost manifest."""
    root = str(tmp_path_factory.mktemp("jobwap"))
    params = S2GParams(m=20, c=6, S=30, ell=30)
    desc = {"source": "pages-fixture", "n": 8000}
    pub = f"{root}/published"

    job = PagesRollupJob(spark, f"{root}/ckpt", s2g_params=params, publish_root=pub)
    out = job.run(pages, desc)
    assert len(job.ran_stages) == 15
    # each stage's rows are written once: one snapshot version per stage,
    # and the checkpoint root holds only lineage manifests + metrics
    versions = [s["table"] for s in job.store.history()]
    assert sorted(versions) == sorted(job.ran_stages)
    assert sorted(os.listdir(f"{root}/ckpt")) == ["_manifest", "_metrics"]
    # published latest == the stage output, row for row
    assert job.read_published("tier_day").count() == out["day"].count()
    v0 = job.store.latest_version("tier_day")

    # a bad manual publish (wrong data) lands as v0+1 ...
    bad = out["day"].limit(3)
    v1 = job.store.commit("tier_day", bad, note="bad manual publish")
    assert job.read_published("tier_day").count() == 3
    # ... and rollback republishes v0's data; v1 becomes invisible to
    # latest-readers while staying time-travelable
    v2 = job.store.rollback("tier_day", v0)
    assert v2 > v1
    assert job.read_published("tier_day").count() == out["day"].count()
    assert job.read_published("tier_day", version=v1).count() == 3

    # re-run: all stages checkpoint-committed AND published for this fp
    # (the rollback entry carries v0's fp) -> nothing re-published, the
    # rollback is NOT clobbered
    job2 = PagesRollupJob(spark, f"{root}/ckpt", s2g_params=params, publish_root=pub)
    job2.run(pages, desc)
    assert len(job2.skipped_stages) == 15 and not job2.ran_stages
    assert job2.store.latest_version("tier_day") == v2

    # heal path: wipe ONE stage's snapshot history; the next run
    # recomputes exactly that stage (numbering around its orphaned data)
    hist = [s for s in job2.store.history() if s["table"] != "tier_week"]
    with open(job2.store._log_path, "w") as fh:
        json.dump(hist, fh)
    job3 = PagesRollupJob(spark, f"{root}/ckpt", s2g_params=params, publish_root=pub)
    job3.run(pages, desc)
    assert job3.ran_stages == ["tier_week"]
    assert job3.read_published("tier_week").count() == out["week"].count()

    # crash after the snapshot-log swap but before the manifest write:
    # the rerun recomputes only that stage and publishes v+1 with the same
    # rows; the previous version stays readable
    def week(j, version=None):
        pdf = j.read_published("tier_week", version).toPandas()
        return pdf.sort_values(["domain", "bucket_ts"]).reset_index(drop=True)

    week_v = job3.store.latest_version("tier_week")
    week_before = week(job3)
    shutil.rmtree(f"{root}/ckpt/_manifest/stage=tier_week")
    job4 = PagesRollupJob(spark, f"{root}/ckpt", s2g_params=params, publish_root=pub)
    job4.run(pages, desc)
    assert job4.ran_stages == ["tier_week"]
    assert job4.store.latest_version("tier_week") == week_v + 1
    assert week(job4).equals(week_before)
    assert week(job4, week_v).equals(week_before)

    # WAP: an audit rejection never becomes visible
    before = job3.store.latest_version("tier_day")
    with pytest.raises(ValueError, match="audit rejected"):
        job3.store.commit(
            "tier_day",
            out["day"],
            audit=lambda staged: (_ for _ in ()).throw(ValueError("gate says no")),
        )
    assert job3.store.latest_version("tier_day") == before

    # vacuum respects the rollback's shared data path: vacuuming down to
    # the newest 1 version must NOT delete the directory v2 points at
    # (shared with v0) — the rolled-back data keeps serving
    job3.store.vacuum("tier_day", keep_last=1)
    assert job3.read_published("tier_day").count() == out["day"].count()
    with pytest.raises(ValueError, match="vacuumed"):
        job3.read_published("tier_day", version=v1)


def test_text_bytes_untouched(spark, pages):
    before = text_identity_fingerprint(pages).withColumnRenamed("text_sha256", "a")
    after = text_identity_fingerprint(pages).withColumnRenamed("text_sha256", "b")
    assert before.join(after, "url").filter(F.col("a") != F.col("b")).count() == 0


def test_apply_late_equals_full_rerun(spark, tmp_path_factory):
    """Invalidation refresh through the job: run() on the base slice,
    apply_late() with the held-out slice, and every refreshed tier must
    equal a from-scratch run() over the full table — including buckets
    that exist ONLY in the late data. Resume skips committed refreshes."""
    root = str(tmp_path_factory.mktemp("latejob"))
    params = S2GParams(m=20, c=6, S=30, ell=30)
    full = pages_table(spark, 6000).cache()
    is_late = F.crc32(F.col("url")) % 5 == 0
    base, late = full.filter(~is_late).cache(), full.filter(is_late).cache()

    job = PagesRollupJob(spark, f"{root}/a", s2g_params=params)
    job.run(base, {"source": "base", "n": 6000})
    refreshed = job.apply_late(
        base, late, {"source": "base", "n": 6000}, {"slice": "late"}
    )
    assert {"refresh_hour", "refresh_day", "refresh_week"} <= set(
        job.ran_stages
    )

    ref_job = PagesRollupJob(spark, f"{root}/b", s2g_params=params)
    want = ref_job.run(full, {"source": "full", "n": 6000})
    for tier in ("hour", "day", "week"):
        g = refreshed[tier].orderBy("domain", "bucket_ts").toPandas()
        w = want[tier].orderBy("domain", "bucket_ts").toPandas()
        assert g.reset_index(drop=True).equals(w.reset_index(drop=True)), tier

    # second apply_late with identical inputs is a pure resume
    job2 = PagesRollupJob(spark, f"{root}/a", s2g_params=params)
    job2.apply_late(
        base, late, {"source": "base", "n": 6000}, {"slice": "late"}
    )
    assert {"refresh_hour", "refresh_day", "refresh_week"} <= set(
        job2.skipped_stages
    )
    assert not job2.ran_stages


def test_chart_rules_stage_matches_direct_call(spark, tmp_path):
    from pyspark.sql import functions as F

    from dads_spark.jobs import PagesRollupJob
    from dads_spark.rollup import control_chart_flags
    from dads_spark.rollup.series import domain_hourly_series

    pages = pages_table(spark, 3000)
    job = PagesRollupJob(spark, str(tmp_path / "ck"))
    out = job.run(pages, {"fixture": "chart", "n": 3000})
    got = sorted(
        tuple(r) for r in out["chart_rules"].collect()
    )
    hour = domain_hourly_series(pages)
    want = sorted(
        tuple(r)
        for r in control_chart_flags(
            hour.select(
                "domain",
                F.expr("unix_micros(bucket_ts) DIV 3600000000").alias("hb"),
                F.col("doc_count").alias("v"),
            ),
            ["domain"],
            "hb",
            "v",
        ).collect()
    )
    assert got == want

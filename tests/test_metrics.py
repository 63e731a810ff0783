"""Per-stage statistics collector (the reference's statistics-protocol
counterpart): one duration/bytes row per pipeline stage, from the driver's
AppStatusStore, persisted next to the checkpoint manifests."""

from __future__ import annotations

import pytest

from dads_spark.metrics import StageMetricsCollector


def test_collector_one_row_per_stage_with_spark_metrics(spark):
    mc = StageMetricsCollector(spark)
    with mc.stage("shuffle_agg"):
        spark.range(0, 500_000).selectExpr("id % 13 k", "id v").groupBy(
            "k"
        ).sum("v").collect()
    with mc.stage("narrow_scan"):
        spark.range(0, 10_000).collect()  # no shuffle boundary
    rows = mc.rows()
    assert [r["stage"] for r in rows] == ["shuffle_agg", "narrow_scan"]
    for r in rows:
        assert r["wall_sec"] > 0
        assert r["n_jobs"] >= 1
        assert r["n_spark_stages"] >= 1
        assert r["n_tasks"] >= 1
    # the aggregation stage crossed a shuffle boundary; the scan didn't
    assert rows[0]["shuffle_write_bytes"] > 0
    assert rows[1]["shuffle_write_bytes"] == 0
    df = mc.to_df()
    assert df.count() == 2
    assert "executor_run_ms" in df.columns


def test_unreadable_status_store_flags_row_not_zeros(spark, tmp_path, monkeypatch):
    """A failed measurement is flagged in its row, never written as 0."""
    mc = StageMetricsCollector(spark)

    def broken():
        raise RuntimeError("status store gone")

    monkeypatch.setattr(spark.sparkContext, "statusTracker", broken)
    with mc.stage("blind"):
        spark.range(0, 1000).collect()
    monkeypatch.undo()
    with mc.stage("seen"):
        spark.range(0, 1000).collect()
    blind, seen = mc.rows()
    assert blind["error"] == "RuntimeError: status store gone"
    assert blind["wall_sec"] > 0
    for col in ("executor_run_ms", "n_jobs", "n_tasks", "shuffle_write_bytes"):
        assert blind.get(col) is None
    assert seen.get("error") is None and seen["n_tasks"] >= 1

    # persisted (and merged on a second write) with the flag + nulls intact
    mc.write(str(tmp_path))
    mc.write(str(tmp_path))
    got = {r["stage"]: r for r in spark.read.parquet(f"{tmp_path}/_metrics").collect()}
    assert got["blind"]["error"] == "RuntimeError: status store gone"
    assert got["blind"]["n_tasks"] is None
    assert got["seen"]["error"] is None and got["seen"]["n_tasks"] >= 1


def test_metrics_merge_reads_table_without_error_column(spark, tmp_path):
    """A table written before the ``error`` column still merges."""
    old = StageMetricsCollector(spark)
    with old.stage("old_stage"):
        spark.range(0, 100).collect()
    old.to_df().drop("error").write.parquet(f"{tmp_path}/_metrics")
    mc = StageMetricsCollector(spark)
    with mc.stage("new_stage"):
        spark.range(0, 100).collect()
    mc.write(str(tmp_path))
    got = {r["stage"]: r for r in spark.read.parquet(f"{tmp_path}/_metrics").collect()}
    assert set(got) == {"old_stage", "new_stage"}
    assert got["old_stage"]["error"] is None and got["old_stage"]["n_tasks"] >= 1


def test_job_persists_metrics_next_to_manifests(spark, tmp_path):
    from dads_spark.fixtures.pages import pages_table
    from dads_spark.jobs import PagesRollupJob
    from dads_spark.s2g import S2GParams

    params = S2GParams(m=20, c=6, S=30, ell=30)
    root = str(tmp_path / "ckpt")
    pages = pages_table(spark, 1500)
    job = PagesRollupJob(spark, root, s2g_params=params)
    job.run(pages, {"source": "synth", "n": 1500})

    got = spark.read.parquet(f"{root}/_metrics")
    rows = {r["stage"]: r for r in got.collect()}
    # one metrics row per executed stage, none missing
    assert set(rows) == set(job.ran_stages)
    assert all(r["wall_sec"] > 0 for r in rows.values())
    assert all(r["n_tasks"] >= 1 for r in rows.values())

    # a pure-resume rerun executes nothing and keeps the prior table intact
    job2 = PagesRollupJob(spark, root, s2g_params=params)
    job2.run(pages, {"source": "synth", "n": 1500})
    assert job2.ran_stages == []
    assert job2.metrics.rows() == []
    again = {r["stage"] for r in spark.read.parquet(f"{root}/_metrics").collect()}
    assert again == set(rows)


def test_mid_pipeline_resume_recomputes_only_missing_stage(spark, tmp_path):
    """Kill/resume contract at stage granularity: wiping ONE committed
    stage's manifest makes the rerun recompute exactly that stage, reusing
    every other commit."""
    import shutil

    from dads_spark.fixtures.pages import pages_table
    from dads_spark.jobs import PagesRollupJob
    from dads_spark.s2g import S2GParams

    params = S2GParams(m=20, c=6, S=30, ell=30)
    root = str(tmp_path / "ckpt")
    pages = pages_table(spark, 1500)
    desc = {"source": "synth", "n": 1500}
    job = PagesRollupJob(spark, root, s2g_params=params)
    out1 = job.run(pages, desc)
    day1 = out1["day"].toPandas().sort_values(["domain", "bucket_ts"])

    # simulate a crash that lost the day tier's commit
    shutil.rmtree(f"{root}/_manifest/stage=tier_day")
    job2 = PagesRollupJob(spark, root, s2g_params=params)
    out2 = job2.run(pages, desc)
    assert job2.ran_stages == ["tier_day"]
    assert set(job2.skipped_stages) == {
        "tier_hour", "tier_week", "sketch_hour", "sketch_day",
        "distinct_hour", "distinct_day",
        "gapfill_hour", "compress_hour", "s2g_scores", "discord_ranges",
        "changepoints", "forecast_baselines", "count_drift",
        "chart_rules",
    }
    day2 = out2["day"].toPandas().sort_values(["domain", "bucket_ts"])
    assert day1.reset_index(drop=True).equals(day2.reset_index(drop=True))
    # the recomputed stage got a fresh metrics row AND the persisted table
    # still describes the whole pipeline (merge, not overwrite)
    assert [r["stage"] for r in job2.metrics.rows()] == ["tier_day"]
    persisted = spark.read.parquet(f"{root}/_metrics").toPandas()
    assert set(persisted["stage"]) == {
        "tier_hour", "tier_day", "tier_week", "sketch_hour", "sketch_day",
        "distinct_hour", "distinct_day",
        "gapfill_hour", "compress_hour", "s2g_scores", "discord_ranges",
        "changepoints", "forecast_baselines", "count_drift",
        "chart_rules",
    }
    assert len(persisted) == 15

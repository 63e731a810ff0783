"""A stage commit is one Spark job and a snapshot read none: lineage row
counts come from the parquet footers, the schema from the snapshot log.
Also the crash points around the footer path of a tiny PagesRollupJob."""

from __future__ import annotations

import glob
import hashlib
import os
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dads_spark.checkpoint import CheckpointManager, SnapshotStore, fingerprint
from dads_spark.fixtures.pages import pages_table
from dads_spark.jobs import PagesRollupJob
from dads_spark.s2g import S2GParams

PARAMS = S2GParams(m=20, c=6, S=30, ell=30)
DESC = {"source": "synth", "n": 1500}
STAGES = [
    "tier_hour", "tier_day", "tier_week", "sketch_hour", "sketch_day",
    "distinct_hour", "distinct_day", "gapfill_hour", "compress_hour",
    "s2g_scores", "discord_ranges", "changepoints", "forecast_baselines",
    "count_drift", "chart_rules",
]
CRASHED = "tier_day"


def _jobs(spark, fn):
    """Spark jobs ``fn`` starts, counted in a fresh job group."""
    sc = spark.sparkContext
    group = f"test_jobs::{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _part_rows(path):
    """Rows per write task, read back from the part files' footers."""
    rows = {}
    for f in glob.glob(os.path.join(path, "part-*")):
        part = str(int(os.path.basename(f).split("-")[1]))
        rows[part] = rows.get(part, 0) + pq.read_metadata(f).num_rows
    return rows


def _digest(df):
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def _tiny(spark):
    return spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))


def test_commit_without_shuffle_is_one_job(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    assert _jobs(spark, lambda: store.commit("t", _tiny(spark))) == 1
    ckpt = CheckpointManager(spark, str(tmp_path / "ck"), store)
    out = []
    assert _jobs(spark, lambda: out.append(ckpt.commit("s", _tiny(spark), "fp"))) == 1
    assert out[0].count() == 100


def test_read_of_committed_version_starts_no_job(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("t", _tiny(spark))
    store.commit("t", _tiny(spark).limit(7))
    store.delete_keys_mor("t", spark.range(3).select(F.col("id").alias("k")), ["k"])
    got = {}
    for v in (None, 0, 1, 2):
        assert _jobs(spark, lambda: got.update({v: store.read("t", v)})) == 0
    assert got[0].count() == 100 and got[1].count() == 7
    assert got[None].count() == got[2].count() == 4
    # the MOR entry carries its base's schema; the sidecar reads its keys
    entry = store.entry("t")
    assert entry["schema"] == store.entry("t", 1)["schema"]
    assert got[None].schema == spark.read.parquet(entry["path"]).schema


def test_entry_without_schema_still_infers(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("t", _tiny(spark))
    log = store.history()
    del log[0]["schema"]
    store._append({**log[0], "version": 1})
    df = store.read("t", 1)
    assert df.schema == store.read("t", 0).schema and df.count() == 100


def test_partition_rows_match_part_file_footers(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("t", _tiny(spark).repartition(3))
    entry = store.entry("t")
    assert len(entry["partition_rows"]) == 3
    assert entry["partition_rows"] == _part_rows(entry["path"])
    assert sum(entry["partition_rows"].values()) == entry["row_count"] == 100
    # a task that writes several files is counted once, as their sum
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "10")
    try:
        store.commit("t", _tiny(spark).repartition(3))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    entry = store.entry("t")
    assert len(glob.glob(os.path.join(entry["path"], "part-*"))) > 3
    assert entry["partition_rows"] == _part_rows(entry["path"])
    assert len(entry["partition_rows"]) == 3 and entry["row_count"] == 100
    # the manifest's int32 partition_id is the write task's part number
    ckpt = CheckpointManager(spark, str(tmp_path / "ck"), store)
    ckpt.commit("s", _tiny(spark).repartition(3), fingerprint({"x": 1}))
    entry = store.entry("s")
    assert {
        str(r["partition_id"]): r["row_count"] for r in ckpt.metrics("s")
    } == entry["partition_rows"]


@pytest.fixture(scope="module")
def pages(spark):
    return pages_table(spark, 1500).cache()


@pytest.fixture(scope="module")
def clean(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("clean"))
    job = PagesRollupJob(spark, root, s2g_params=PARAMS)
    job.run(pages, DESC)
    assert job.ran_stages == STAGES
    return job


def test_logged_schema_equals_inferred_for_every_stage(spark, clean):
    for t in STAGES:
        entry = clean.store.entry(t)
        assert clean.store.read(t).schema == spark.read.parquet(entry["path"]).schema, t


def test_count_drift_is_two_jobs(clean):
    # the keyed baseline split has one shuffle: its map job and the write
    n_jobs = {r["stage"]: r["n_jobs"] for r in clean.metrics.rows()}
    assert n_jobs["count_drift"] == 2


def test_pure_resume_starts_no_job(spark, pages, clean):
    job = PagesRollupJob(spark, clean.ckpt.root, s2g_params=PARAMS)
    assert _jobs(spark, lambda: job.run(pages, DESC)) == 0
    assert job.ran_stages == [] and job.skipped_stages == STAGES


class Crash(Exception):
    pass


def _after_write_before_log_swap(monkeypatch):
    append = SnapshotStore._append

    def crash(self, entry):
        if entry["table"] == CRASHED:
            raise Crash
        append(self, entry)

    monkeypatch.setattr(SnapshotStore, "_append", crash)


def _after_log_swap_before_manifest(monkeypatch):
    commit = SnapshotStore.commit

    def crash(self, table, *a, **kw):
        version = commit(self, table, *a, **kw)
        if table == CRASHED:
            raise Crash
        return version

    monkeypatch.setattr(SnapshotStore, "commit", crash)


@pytest.mark.parametrize(
    "inject", [_after_write_before_log_swap, _after_log_swap_before_manifest]
)
def test_crash_at_commit_then_rerun_equals_clean_run(
    spark, pages, clean, tmp_path, monkeypatch, inject
):
    root = str(tmp_path / "ck")
    inject(monkeypatch)
    with pytest.raises(Crash):
        PagesRollupJob(spark, root, s2g_params=PARAMS).run(pages, DESC)
    monkeypatch.undo()
    # the crashed commit left version 0's data dir behind (an orphan, or a
    # published version without a manifest); the retry numbers around it
    job = PagesRollupJob(spark, root, s2g_params=PARAMS)
    assert os.path.isdir(job.store._data_path(CRASHED, 0))
    job.run(pages, DESC)
    assert job.ran_stages == STAGES[STAGES.index(CRASHED):]
    entry = job.store.entry(CRASHED)
    assert entry["version"] == 1
    assert entry["partition_rows"] == _part_rows(entry["path"])
    assert entry["partition_rows"] == clean.store.entry(CRASHED)["partition_rows"]
    for t in STAGES:
        assert _digest(job.read_published(t)) == _digest(clean.read_published(t)), t
        manifest = sum(r["row_count"] for r in job.ckpt.metrics(t))
        assert manifest == job.store.entry(t)["row_count"], t

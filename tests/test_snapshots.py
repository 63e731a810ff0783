"""Versioned tier store (checkpoint/snapshots.py): commit, time travel,
vacuum, pinned-reader safety."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dads_spark.checkpoint import SnapshotStore


def _df(spark, n, tag):
    return spark.range(n).select(
        F.col("id").alias("k"), F.lit(tag).alias("tag")
    )


def test_commit_read_time_travel(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    v0 = store.commit("t", _df(spark, 3, "a"))
    v1 = store.commit("t", _df(spark, 5, "b"))
    assert (v0, v1) == (0, 1)
    assert store.read("t").count() == 5  # latest
    assert store.read("t", 0).count() == 3  # as-of
    assert {r["tag"] for r in store.read("t", 0).collect()} == {"a"}
    assert store.latest_version("t") == 1
    hist = store.history()
    assert [h["version"] for h in hist] == [0, 1]
    assert [h["row_count"] for h in hist] == [3, 5]


def test_committed_data_is_immune_to_later_publishes(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("t", _df(spark, 4, "a"))
    pinned = store.read("t", 0)  # reader pins v0
    store.commit("t", _df(spark, 9, "b"))  # writer publishes v1
    assert pinned.count() == 4  # pinned plan still serves v0's files
    assert store.read("t").count() == 9


def test_vacuum_keeps_window_and_fails_cleanly_outside_it(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    for i in range(4):
        store.commit("t", _df(spark, i + 1, f"v{i}"))
    removed = store.vacuum("t", keep_last=2)
    assert removed == [0, 1]
    assert store.read("t", 2).count() == 3
    assert store.read("t", 3).count() == 4
    with pytest.raises(ValueError, match="vacuumed"):
        store.read("t", 0)
    # history survives as an audit trail
    assert [h["version"] for h in store.history()] == [0, 1, 2, 3]
    with pytest.raises(ValueError):
        store.vacuum("t", keep_last=0)


def test_unknown_reads_raise(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    with pytest.raises(ValueError, match="no snapshots"):
        store.read("missing")
    store.commit("t", _df(spark, 1, "a"))
    with pytest.raises(ValueError, match="unknown snapshot"):
        store.read("t", 7)


def test_tables_are_independent(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("a", _df(spark, 2, "x"))
    store.commit("b", _df(spark, 6, "y"))
    assert store.latest_version("a") == 0 and store.latest_version("b") == 0
    assert store.read("a").count() == 2 and store.read("b").count() == 6


def test_commit_skips_orphaned_data_dir(spark, tmp_path):
    import os

    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("t", _df(spark, 2, "a"))
    # simulate a crash between data-write and log-swap: v=1 data exists
    # but was never published
    orphan = os.path.join(str(tmp_path / "store"), "data", "t", "v=1")
    _df(spark, 9, "orphan").write.parquet(orphan)
    v = store.commit("t", _df(spark, 3, "b"))
    assert v == 2  # numbering skips the orphan instead of erroring
    assert store.read("t").count() == 3
    assert store.latest_version("t") == 2
    with pytest.raises(ValueError, match="unknown snapshot"):
        store.read("t", 1)  # the orphan is unpublished garbage


def test_write_audit_publish_gate(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("t", _df(spark, 5, "good"))

    def audit_min_rows(staged):
        if staged.count() < 4:
            raise AssertionError("row count collapsed")

    # failing audit: nothing published, readers keep the old version
    with pytest.raises(ValueError, match="audit rejected"):
        store.commit("t", _df(spark, 2, "bad"), audit=audit_min_rows)
    assert store.latest_version("t") == 0
    assert store.read("t").count() == 5
    # passing audit publishes; numbering skips the rejected staging dir
    v = store.commit("t", _df(spark, 7, "good2"), audit=audit_min_rows)
    assert v == 2
    assert store.read("t").count() == 7


def test_commit_records_partition_lineage(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    store.commit("t", _df(spark, 10, "a").repartition(3))
    entry = store.history()[-1]
    assert entry["row_count"] == 10
    assert sum(entry["partition_rows"].values()) == 10
    assert len(entry["partition_rows"]) >= 1


def test_upsert_replaces_keys_copy_on_write(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    store.commit("t", base)
    pinned = store.read("t", 0)
    delta = spark.createDataFrame([(2, "B2"), (9, "NEW")], "k long, v string")
    v = store.upsert("t", delta, ["k"])
    assert v == 1
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {1: "a", 2: "B2", 3: "c", 9: "NEW"}
    # copy-on-write: the pinned reader still sees the old row
    assert {r["k"]: r["v"] for r in pinned.collect()}[2] == "b"


def test_delete_where_then_vacuum_erases(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    base = spark.createDataFrame(
        [(1, "keep"), (2, "forget"), (3, "keep")], "k long, v string"
    )
    store.commit("t", base)
    v = store.delete_where("t", F.col("v") == "forget")
    assert v == 1
    assert sorted(r["k"] for r in store.read("t").collect()) == [1, 3]
    # the old version still HOLDS the row until vacuum reclaims it
    assert store.read("t", 0).filter(F.col("v") == "forget").count() == 1
    store.vacuum("t", keep_last=1)
    with pytest.raises(ValueError, match="vacuumed"):
        store.read("t", 0)
    # erased on disk, not just unpublished
    import glob

    files = glob.glob(str(tmp_path / "store" / "data" / "t" / "**" / "*.parquet"),
                      recursive=True)
    import pyarrow.parquet as pq

    remaining = set()
    for f in files:
        remaining.update(pq.read_table(f).column("v").to_pylist())
    assert "forget" not in remaining


def test_diff_classifies_all_change_kinds(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    v0 = store.commit(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, tag string"
        ),
    )
    v1 = store.commit(
        "t",
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "k long, tag string"
        ),
    )
    out = {r["k"]: r for r in store.diff("t", v0, v1, ["k"]).collect()}
    assert out[1]["change"] == "unchanged"
    assert out[2]["change"] == "changed"
    assert (out[2]["old_tag"], out[2]["new_tag"]) == ("b", "B")
    assert out[3]["change"] == "removed" and out[3]["new_tag"] is None
    assert out[4]["change"] == "added" and out[4]["old_tag"] is None


def test_diff_null_safe_value_compare(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    v0 = store.commit(
        "t", spark.createDataFrame([(1, None), (2, "x")], "k long, tag string")
    )
    v1 = store.commit(
        "t", spark.createDataFrame([(1, None), (2, None)], "k long, tag string")
    )
    out = {r["k"]: r["change"] for r in store.diff("t", v0, v1, ["k"]).collect()}
    assert out[1] == "unchanged"  # NULL == NULL under eqNullSafe
    assert out[2] == "changed"


def test_diff_rejects_schema_drift(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "store"))
    v0 = store.commit("t", _df(spark, 2, "a"))
    v1 = store.commit(
        "t",
        spark.range(2).select(F.col("id").alias("k"), F.lit(1).alias("other")),
    )
    with pytest.raises(ValueError, match="identical schemas"):
        store.diff("t", v0, v1, ["k"])


def test_mor_deletes_match_copy_on_write(spark, tmp_path):
    a = SnapshotStore(spark, str(tmp_path / "mor"))
    b = SnapshotStore(spark, str(tmp_path / "cow"))
    a.commit("t", _df(spark, 10, "x"))
    b.commit("t", _df(spark, 10, "x"))
    keys = spark.createDataFrame([(2,), (5,), (7,)], "k long")
    a.delete_keys_mor("t", keys, ["k"])
    b.delete_where("t", F.col("k").isin(2, 5, 7))
    got = sorted(tuple(r) for r in a.read("t").collect())
    want = sorted(tuple(r) for r in b.read("t").collect())
    assert got == want and len(got) == 7
    # MOR wrote no new base data: v1 shares v0's path
    hist = {h["version"]: h for h in a.history()}
    assert hist[1]["path"] == hist[0]["path"]
    assert hist[1]["row_count"] == 7


def test_mor_deletes_stack_and_fold(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "s"))
    store.commit("t", _df(spark, 10, "x"))
    store.delete_keys_mor("t", spark.createDataFrame([(1,)], "k long"), ["k"])
    store.delete_keys_mor("t", spark.createDataFrame([(3,)], "k long"), ["k"])
    assert {r["k"] for r in store.read("t").collect()} == (
        set(range(10)) - {1, 3}
    )
    # time travel: v1 has only the first delete; v0 has none
    assert {r["k"] for r in store.read("t", 1).collect()} == (
        set(range(10)) - {1}
    )
    assert store.read("t", 0).count() == 10


def test_compact_deletes_materializes_and_clears(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path / "s"))
    store.commit("t", _df(spark, 8, "x"))
    store.delete_keys_mor(
        "t", spark.createDataFrame([(0,), (4,)], "k long"), ["k"]
    )
    before = sorted(r["k"] for r in store.read("t").collect())
    v = store.compact_deletes("t")
    after = sorted(r["k"] for r in store.read("t").collect())
    assert before == after
    hist = {h["version"]: h for h in store.history()}
    assert "delete_path" not in hist[v]
    assert hist[v]["path"] != hist[0]["path"]  # real rewrite
    # idempotent: compacting again is a no-op version-wise
    assert store.compact_deletes("t") == v


def test_vacuum_reclaims_orphaned_sidecars(spark, tmp_path):
    import os

    store = SnapshotStore(spark, str(tmp_path / "s"))
    store.commit("t", _df(spark, 6, "x"))
    store.delete_keys_mor(
        "t", spark.createDataFrame([(1,)], "k long"), ["k"]
    )
    hist = {h["version"]: h for h in store.history()}
    sidecar = hist[1]["delete_path"]
    store.compact_deletes("t")
    store.commit("t", _df(spark, 2, "y"))
    store.vacuum("t", keep_last=2)
    assert not os.path.exists(sidecar)
    assert store.read("t").count() == 2


def test_mor_delete_retry_skips_orphaned_sidecar(spark, tmp_path):
    # crash-retry numbering contract (r4 ADVICE item): a crash between
    # the sidecar write and the log append leaves an orphan
    # _deletes_v{N} dir with NO new data dir; the retry must number past
    # the orphan instead of tripping errorifexists forever
    import os

    store = SnapshotStore(spark, str(tmp_path / "s"))
    store.commit("t", _df(spark, 6, "x"))
    orphan = os.path.join(str(tmp_path / "s"), "t", "_deletes_v1")
    spark.createDataFrame([(5,)], "k long").write.parquet(orphan)
    v = store.delete_keys_mor(
        "t", spark.createDataFrame([(2,)], "k long"), ["k"]
    )
    assert v == 2  # numbered around the orphan
    assert {r["k"] for r in store.read("t").collect()} == (
        set(range(6)) - {2}
    )


def test_mor_delete_retry_sees_orphan_beside_malformed_sidecar(spark, tmp_path):
    # a malformed _deletes_v* name must be skipped on its own, not hide
    # the real orphan next to it (else the retry recomputes v1 and trips
    # errorifexists on the orphan forever)
    import os

    store = SnapshotStore(spark, str(tmp_path / "s"))
    store.commit("t", _df(spark, 6, "x"))
    table_dir = os.path.join(str(tmp_path / "s"), "t")
    spark.createDataFrame([(5,)], "k long").write.parquet(
        os.path.join(table_dir, "_deletes_v1")
    )
    os.makedirs(os.path.join(table_dir, "_deletes_vX"))
    v = store.delete_keys_mor(
        "t", spark.createDataFrame([(2,)], "k long"), ["k"]
    )
    assert v == 2
    assert {r["k"] for r in store.read("t").collect()} == (
        set(range(6)) - {2}
    )


def test_vacuum_reclaims_superseded_stacked_sidecars(spark, tmp_path):
    # stacked MOR deletes share one base data path; vacuum with the base
    # path retained by a kept version must still reclaim the superseded
    # sidecar (r4 ADVICE item: the kept-path continue ran first and S1
    # leaked forever)
    import os

    store = SnapshotStore(spark, str(tmp_path / "s"))
    store.commit("t", _df(spark, 10, "x"))  # v0 COW
    store.delete_keys_mor(
        "t", spark.createDataFrame([(1,)], "k long"), ["k"]
    )  # v1 MOR(S1)
    store.delete_keys_mor(
        "t", spark.createDataFrame([(3,)], "k long"), ["k"]
    )  # v2 MOR(S2, folded)
    hist = {h["version"]: h for h in store.history()}
    s1, s2 = hist[1]["delete_path"], hist[2]["delete_path"]
    store.vacuum("t", keep_last=1)
    assert not os.path.exists(s1), "superseded sidecar must be reclaimed"
    assert os.path.exists(s2), "referenced sidecar must survive"
    assert {r["k"] for r in store.read("t").collect()} == (
        set(range(10)) - {1, 3}
    )

"""Versioned tier store: snapshot commits, time-travel reads, vacuum.

The checkpoint manifests (`manifest.py`) record lineage over this store's
commits for kill/resume of a RUNNING job; this module gives the tier
STORE a history: every commit writes a
new immutable data directory and appends a snapshot entry, so readers
can pin "the day tier as of snapshot N" while a writer publishes N+1 —
the serving contract Iceberg snapshots provide, reduced to its parquet
essentials (README "Iceberg proper" documents the swap path):

- data lives under ``data/<table>/v=<N>/`` — never rewritten, so a
  reader holding version N is immune to concurrent publishes;
- the snapshot log ``_snapshots.json`` is replaced atomically
  (``os.replace`` of a temp file) — the single pointer swap that makes a
  commit visible all-or-nothing. Single-writer (one maintenance job owns
  a store), many-reader;
- each entry carries the metadata a reader or a lineage manifest needs,
  so neither scans data files for it (the Delta/Iceberg table-log idea):
  per-file row counts taken from the written files' parquet footers, and
  the table's schema, which :meth:`SnapshotStore.read` hands to the
  parquet reader instead of inferring it (an entry without one still
  infers). A commit is then one Spark job, the write, and a read none;
- ``vacuum(keep_last=K)`` deletes data directories no kept snapshot
  references — the retention engine's GC step after compaction /
  re-publish, without which a daily-published 100 TB tier doubles its
  footprint every rewrite cycle. Vacuum only touches versions strictly
  older than the kept window, so pinned readers inside the window never
  lose files.

Reference analog: none (DADS holds results in actor memory); spec source
BASELINE.json:6,14 (retention engine owns the tier store lifecycle;
checkpointed stages need a publish/rollback story at 10^12 docs).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

__all__ = ["SnapshotStore"]


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- snapshot log ------------------------------------------------------
    @property
    def _log_path(self) -> str:
        return os.path.join(self.root, "_snapshots.json")

    def history(self) -> list[dict]:
        try:
            with open(self._log_path) as fh:
                return json.load(fh)
        except OSError:
            return []

    def _append(self, entry: dict) -> None:
        log = self.history() + [entry]
        tmp = self._log_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(log, fh, indent=1)
        os.replace(tmp, self._log_path)  # atomic pointer swap

    def latest_version(self, table: str) -> int | None:
        latest = self.entry(table)
        return None if latest is None else latest["version"]

    def entry(self, table: str, version: int | None = None) -> dict | None:
        """The log entry of ``table`` at ``version`` (``None`` = the latest
        version), or ``None`` when there is none. One log parse."""
        entries = [s for s in self.history() if s["table"] == table]
        if version is None:
            return max(entries, key=lambda s: s["version"], default=None)
        return next((s for s in entries if s["version"] == version), None)

    # -- commit / read / vacuum -------------------------------------------
    def _data_path(self, table: str, version: int) -> str:
        return os.path.join(self.root, "data", table, f"v={version}")

    @staticmethod
    def _dir_versions(base: str, prefix: str) -> list[int]:
        """Version numbers of the ``<prefix><int>`` entries under ``base``.
        Each name is parsed on its own: a malformed one is skipped, never
        allowed to hide the well-formed orphans beside it."""
        try:
            entries = os.listdir(base)
        except OSError:
            return []
        tails = [e[len(prefix):] for e in entries if e.startswith(prefix)]
        return [int(t) for t in tails if t.isdecimal()]

    def _stray_versions(self, table: str) -> list[int]:
        """Data dirs on disk (committed or orphaned by a crash mid-commit)."""
        return self._dir_versions(os.path.join(self.root, "data", table), "v=")

    def _stray_sidecar_versions(self, table: str) -> list[int]:
        """MOR-delete sidecar dirs on disk (committed or orphaned by a
        crash between sidecar write and log append)."""
        return self._dir_versions(os.path.join(self.root, table), "_deletes_v")

    def commit(
        self, table: str, df: DataFrame, note: str = "", audit=None, extra=None
    ) -> int:
        """Write ``df`` as the next immutable version of ``table`` and
        publish it. Returns the new version number. Version numbering
        skips past any orphaned data dir a crash between data-write and
        log-swap left behind (the orphan is unpublished garbage — vacuum
        of the log's history never references it, and numbering around it
        keeps ``errorifexists`` from tripping on the retry).

        The write is the commit's only Spark job. The entry's lineage
        (``partition_rows``: rows per write task, keyed by the part number
        of its ``part-NNNNN-…`` files; ``row_count``: their sum) comes from
        the parquet footers of the files just written, and ``schema`` is
        ``df.schema`` as JSON, so :meth:`read` skips schema inference.

        ``audit`` enables write-audit-publish: a callable receiving the
        STAGED (already written, not yet published) DataFrame; if it
        raises, the log is never swapped — readers keep serving the prior
        version and the staged data is left as an unpublished orphan for
        inspection (next commit numbers around it). This is how ingest
        gates (profile_drift thresholds, tier-consistency audits) block a
        bad publish without ever exposing it."""
        prev = self.latest_version(table)
        floor = -1 if prev is None else prev
        version = max([floor] + self._stray_versions(table)) + 1
        path = self._data_path(table, version)
        df.write.mode("errorifexists").parquet(path)
        schema = df.schema
        if audit is not None:
            try:
                audit(self.spark.read.schema(schema).parquet(path))
            except Exception as e:
                raise ValueError(
                    f"audit rejected {table!r} v{version} (left staged, "
                    f"unpublished): {e}"
                ) from e
        per_part = _footer_rows(path)
        self._append(
            {
                "table": table,
                "version": version,
                "path": path,
                "row_count": sum(per_part.values()),
                "partition_rows": per_part,
                "schema": schema.json(),
                "note": note,
                "committed_at": time.time(),
                **(extra or {}),
            }
        )
        return version

    def read(self, table: str, version: int | None = None) -> DataFrame:
        """The table at ``version`` (time travel), or at the latest
        snapshot. Raises if the version was never committed or vacuumed.
        The schema comes from the entry, so the read starts no Spark job;
        an entry without one (written before the log carried it) infers."""
        entry = self.entry(table, version)
        if entry is None:
            raise ValueError(
                f"no snapshots for table {table!r}"
                if version is None
                else f"unknown snapshot {table!r} v{version}"
            )
        if not os.path.exists(entry["path"]):
            raise ValueError(
                f"snapshot {table!r} v{entry['version']} was vacuumed (data gone)"
            )
        schema = _entry_schema(entry)
        df = self._parquet(entry["path"], schema)
        if entry.get("delete_path"):
            keys = entry["delete_keys"]
            dels = self._parquet(entry["delete_path"], _key_schema(schema, keys))
            df = df.join(F.broadcast(dels), keys, "left_anti")
        return df

    def _parquet(self, path: str, schema: StructType | None) -> DataFrame:
        reader = self.spark.read
        return (reader if schema is None else reader.schema(schema)).parquet(path)

    def diff(
        self,
        table: str,
        v_from: int,
        v_to: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Row-level change set between two committed versions (Iceberg
        changelog-scan semantics): one row per key present in either
        version, classified 'added' / 'removed' / 'changed' / 'unchanged'
        by a FULL OUTER join on ``key_cols`` with null-safe equality over
        every non-key column. Non-key columns are emitted twice, prefixed
        ``old_`` / ``new_`` (flat scalars — no struct/array surface).

        Plan shape: both sides are snapshot parquet scans (tier-sized,
        never raw-sized); the join keys on the tier grain, so the diff of
        two 10^12-doc-derived tiers shuffles tier rows only. This is the
        incremental-consumer primitive: downstream jobs read the change
        set instead of re-scanning the new version."""
        old = self.read(table, v_from)
        new = self.read(table, v_to)
        val_cols = [c for c in old.columns if c not in key_cols]
        if set(old.columns) != set(new.columns):
            raise ValueError("diff requires identical schemas")
        o = old.select(
            *key_cols, *[F.col(c).alias(f"old_{c}") for c in val_cols]
        ).withColumn("_in_old", F.lit(True))
        n = new.select(
            *key_cols, *[F.col(c).alias(f"new_{c}") for c in val_cols]
        ).withColumn("_in_new", F.lit(True))
        j = o.join(n, key_cols, "full_outer")
        same = F.lit(True)
        for c in val_cols:
            same = same & F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        change = (
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(same, F.lit("unchanged"))
            .otherwise(F.lit("changed"))
        )
        return j.select(
            change.alias("change"),
            *key_cols,
            *[F.col(f"old_{c}") for c in val_cols],
            *[F.col(f"new_{c}") for c in val_cols],
        )

    def upsert(
        self, table: str, delta: DataFrame, key_cols: list[str], note: str = ""
    ) -> int:
        """SCD1 keyed merge: rows of ``delta`` replace same-key rows of
        the latest snapshot, new keys append — published as a NEW version
        (copy-on-write; readers pinned to older versions are untouched).
        The anti-join keys on the (small) delta side, so the base scan
        streams against a broadcast."""
        base = self.read(table)
        survivors = base.join(
            F.broadcast(delta.select(*key_cols).distinct()), key_cols, "left_anti"
        )
        return self.commit(table, survivors.unionByName(delta), note=note)

    def delete_where(self, table: str, predicate, note: str = "") -> int:
        """Publish a new version WITHOUT rows matching ``predicate`` (a
        Column) — the per-key erasure path (takedowns / right-to-be-
        forgotten) a web-corpus store must support. Copy-on-write like
        :meth:`upsert`; older versions still hold the rows until
        :meth:`vacuum` reclaims them — complete erasure = delete_where +
        vacuum(keep_last=1), which the tests pin. Derived sketch tiers
        (HLL/count-min) cannot subtract and must be REBUILT from the new
        version — callers own that invalidation."""
        base = self.read(table)
        return self.commit(table, base.filter(~predicate), note=note)

    def delete_keys_mor(
        self, table: str, keys: DataFrame, key_cols: list[str],
        note: str = "",
    ) -> int:
        """MERGE-ON-READ equality deletes (the Iceberg-v2 format
        contract, complementing :meth:`delete_where`'s copy-on-write):
        publish a new version that references the SAME immutable base
        data plus a tiny key sidecar; :meth:`read` anti-joins the
        broadcast sidecar at scan time. Metadata + keys only — a
        takedown on a 10^12-row tier writes kilobytes, not the tier.

        Consecutive MOR deletes FOLD: the new sidecar is the union of
        the base version's pending keys and ``keys``, so a read always
        applies exactly one broadcast anti-join regardless of how many
        delete commits stacked. :meth:`compact_deletes` is the major
        compaction that materializes the survivors and drops the
        sidecar reference.
        """
        entry = self.entry(table)
        if entry is None:
            raise ValueError(f"no snapshots for table {table!r}")
        prev = entry["version"]
        if entry.get("delete_path") and entry["delete_keys"] != key_cols:
            raise ValueError("stacked MOR deletes must share key columns")
        schema = _entry_schema(entry)
        key_schema = _key_schema(schema, key_cols)
        # the sidecar is written with the base's key types, so a read can
        # declare them instead of inferring
        pending = keys.select(
            *key_cols
            if key_schema is None
            else [F.col(f.name).cast(f.dataType) for f in key_schema.fields]
        ).distinct()
        if entry.get("delete_path"):
            pending = pending.unionByName(
                self._parquet(entry["delete_path"], key_schema)
            ).distinct()
        # fold orphan SIDECAR dirs into the version floor too: a crash
        # between the sidecar write below and the log append would
        # otherwise make the retry recompute the same version (no new
        # data dir exists for _stray_versions to see) and trip
        # errorifexists on the orphan — permanently blocking MOR deletes
        # on this table (same crash-retry numbering contract as commit())
        version = (
            max(
                [prev]
                + self._stray_versions(table)
                + self._stray_sidecar_versions(table)
            )
            + 1
        )
        sidecar = os.path.join(self.root, table, f"_deletes_v{version}")
        pending.write.mode("errorifexists").parquet(sidecar)
        base = self._parquet(entry["path"], schema)
        survivors = base.join(
            F.broadcast(self._parquet(sidecar, key_schema)),
            key_cols,
            "left_anti",
        ).count()
        self._append(
            {
                "table": table,
                "version": version,
                "path": entry["path"],
                "row_count": survivors,
                "partition_rows": {},
                "schema": entry.get("schema"),
                "note": note,
                "committed_at": time.time(),
                "delete_path": sidecar,
                "delete_keys": list(key_cols),
            }
        )
        return version

    def compact_deletes(self, table: str, note: str = "") -> int:
        """Major compaction for MOR deletes: materialize the current
        read (anti-join applied) as a plain copy-on-write version with
        no sidecar reference. Readers see identical rows before and
        after; the fold means subsequent reads stop paying the
        anti-join."""
        entry = self.entry(table)
        if entry is None:
            raise ValueError(f"no snapshots for table {table!r}")
        if not entry.get("delete_path"):
            return entry["version"]
        return self.commit(table, self.read(table), note=note)

    def rollback(self, table: str, version: int, note: str = "") -> int:
        """Re-publish an OLDER version's data as the new latest snapshot
        (Iceberg rollback semantics): metadata-only — a new log entry
        points at the old immutable data path, nothing is copied or
        deleted. Readers of "latest" immediately see the old data; the
        rolled-back-PAST versions stay in the history for audit/time
        travel until vacuumed. Returns the new version number."""
        src = self.entry(table, version)
        if src is None:
            raise ValueError(f"unknown snapshot {table!r} v{version}")
        if not os.path.exists(src["path"]):
            raise ValueError(
                f"snapshot {table!r} v{version} was vacuumed (data gone)"
            )
        prev = self.latest_version(table)
        new_version = max([prev] + self._stray_versions(table)) + 1
        self._append(
            {
                **src,
                "version": new_version,
                "note": note or f"rollback to v{version}",
                "committed_at": time.time(),
            }
        )
        return new_version

    def vacuum(self, table: str, keep_last: int = 2) -> list[int]:
        """Delete data directories no kept snapshot references — all but
        the newest ``keep_last`` versions of ``table``, EXCEPT paths a
        kept version still points at (a rollback entry shares the data
        path of the version it restored). The snapshot log keeps the full
        history (audit trail). Returns the vacuumed version numbers."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        entries = [s for s in self.history() if s["table"] == table]
        versions = sorted(s["version"] for s in entries)
        kept = set(versions[-keep_last:])
        kept_paths = {s["path"] for s in entries if s["version"] in kept}
        kept_sidecars = {
            s.get("delete_path")
            for s in entries
            if s["version"] in kept and s.get("delete_path")
        }
        removed = []
        for s in entries:
            if s["version"] in kept:
                continue
            # reclaim superseded sidecars BEFORE the shared-base-path
            # continue: stacked MOR deletes share one base path, so a
            # kept version retaining that path must not keep every
            # superseded sidecar alive (only kept_sidecars survive)
            sc = s.get("delete_path")
            if sc and sc not in kept_sidecars and os.path.exists(sc):
                shutil.rmtree(sc)
            if s["path"] in kept_paths:
                continue
            if os.path.exists(s["path"]):
                shutil.rmtree(s["path"])
                removed.append(s["version"])
        return removed


def _footer_rows(path: str) -> dict[str, int]:
    """Rows per write task of a freshly written parquet directory, from the
    file footers: Spark names a task's files ``part-NNNNN-…`` after its
    partition number, and one task may write several files."""
    rows: dict[str, int] = {}
    for name in os.listdir(path):
        if name.startswith("part-"):
            part = str(int(name.split("-")[1]))
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[part] = rows.get(part, 0) + n
    return rows


def _entry_schema(entry: dict) -> StructType | None:
    logged = entry.get("schema")
    return None if logged is None else StructType.fromJson(json.loads(logged))


def _key_schema(schema: StructType | None, keys: list[str]) -> StructType | None:
    if schema is None or not set(keys) <= set(schema.names):
        return None
    return StructType([schema[k] for k in keys])

"""The north-rule pipeline, end to end, as one resumable job.

pages(url, warc_ts, html, text, lang)
  -> per-domain hourly series (doc_count, text_bytes, lang_share)   [tier: hour]
  -> day and week continuous aggregates (cascaded)                  [tiers]
  -> linear-interpolation gap-fill per (domain)
  -> Gorilla/delta-of-delta compressed tier blobs per domain
  -> sequential-anomaly scoring per domain series (S2G) + DRAG discord ranges

Every stage is written once, as a snapshot version plus a checkpoint
manifest (per-partition row counts + input fingerprint); a rerun resumes
from the last committed stage. The text column is never touched
(byte-identity invariant, verifiable with rollup.text_identity_fingerprint).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .checkpoint import CheckpointManager, SnapshotStore, fingerprint
from .compress.blobstore import compressed_tier_blobs
from .metrics import StageMetricsCollector
from .ops.sketch import digest, digest_quantiles, merge_digests
from .rollup import bucket_expr, cascade, gap_fill_linear, pelt_grouped
from .rollup.controlchart import control_chart_flags
from .rollup.analytics import seasonal_naive_error
from .rollup.drift import tv_drift
from .rollup.distinct import cascade_distinct, distinct_sketch_tier, with_estimate
from .rollup.series import domain_hourly_series, with_domain
from .s2g import ROLLUP as S2G_ROLLUP_PARAMS, S2GParams
from .s2g.discord import discord_series_grouped
from .s2g.pipeline import score_series_grouped


class PagesRollupJob:
    """Resumable pages -> tiers -> gap-fill -> anomaly job.

    Every stage is written once: as the next version of its table in a
    versioned :class:`SnapshotStore` (``publish_root``, or
    ``<ckpt_root>/_snapshots`` without one), followed by a lineage manifest
    under ``<ckpt_root>/_manifest`` (checkpoint/manifest.py). A rerun skips
    a stage when its manifest and the store's latest version both carry
    the current input fingerprint; anything else recomputes the stage and
    publishes a new version. In particular, an operator ``rollback()``
    (which re-publishes an older version of the same fingerprint) SURVIVES
    a re-run instead of being clobbered. Readers go through
    :meth:`read_published` (time travel via ``version=``). The publish is
    a copy-on-write parquet write; on a warehouse filesystem the seam
    swaps to an Iceberg snapshot commit / directory rename (README)."""

    def __init__(
        self,
        spark: SparkSession,
        ckpt_root: str,
        s2g_params: S2GParams = S2G_ROLLUP_PARAMS,
        discord_m: int = 24,
        publish_root: str | None = None,
    ):
        self.spark = spark
        self.store = SnapshotStore(
            spark, publish_root or os.path.join(ckpt_root, "_snapshots")
        )
        self.ckpt = CheckpointManager(spark, ckpt_root, self.store)
        self.s2g_params = s2g_params
        self.discord_m = discord_m
        self.ran_stages: list[str] = []
        self.skipped_stages: list[str] = []
        # statistics-protocol counterpart: one duration/bytes row per
        # executed stage, persisted next to the manifests after run()
        self.metrics = StageMetricsCollector(spark)

    def read_published(self, name: str, version: int | None = None) -> DataFrame:
        """A stage's PUBLISHED output (latest snapshot, or time travel)."""
        return self.store.read(name, version)

    def _stage(self, name: str, fp: str, build):
        if self.ckpt.is_committed(name, fp):
            self.skipped_stages.append(name)
            return self.ckpt.load(name)
        with self.metrics.stage(name):
            out = self.ckpt.commit(name, build(), fp)
        self.ran_stages.append(name)
        return out

    def run(self, pages: DataFrame, input_desc: dict) -> dict[str, DataFrame]:
        fp = fingerprint({**input_desc, "params": str(self.s2g_params)})
        out: dict[str, DataFrame] = {}

        out["hour"] = self._stage("tier_hour", fp, lambda: domain_hourly_series(pages))

        hour_metric = out["hour"].select(
            "domain",
            "bucket_ts",
            F.col("doc_count").alias("doc_count"),
            F.col("text_bytes").alias("value_sum"),
            F.col("text_bytes").alias("value_min"),
            F.col("text_bytes").alias("value_max"),
        )
        out["day"] = self._stage(
            "tier_day", fp, lambda: cascade(hour_metric, ["domain"], "day")
        )
        out["week"] = self._stage(
            "tier_week", fp, lambda: cascade(out["day"], ["domain"], "week")
        )

        # Quantile cascade: exact-decomposable aggs (count/sum/min/max)
        # cascade through the tiers for free; per-page SIZE percentiles need
        # the mergeable sketch. Hour-level digests of octet_length(text) per
        # (domain, hour) persist beside the hour tier, and the day stage
        # merges the STORED hour sketches — at most `compression` centroids
        # per (domain, hour) cross the wire, raw pages are never re-read.
        def build_hour_sketch():
            base = with_domain(pages).select(
                "domain",
                bucket_expr("warc_ts", "hour").cast("string").alias("bucket_hour"),
                F.octet_length("text").cast("double").alias("text_len"),
            )
            return digest(base, ["domain", "bucket_hour"], "text_len")

        out["sketch_hour"] = self._stage("sketch_hour", fp, build_hour_sketch)

        def build_day_sketch():
            rekeyed = out["sketch_hour"].withColumn(
                "bucket_day", bucket_expr("bucket_hour", "day").cast("string")
            )
            return merge_digests(rekeyed, ["domain", "bucket_day"])

        out["sketch_day"] = self._stage("sketch_day", fp, build_day_sketch)
        # derived view, not a stage: quantile interpolation over the stored
        # day sketches is a cheap projection
        out["day_quantiles"] = digest_quantiles(
            out["sketch_day"], ["domain", "bucket_day"], [0.5, 0.9]
        )

        # Distinct-count cascade: COUNT(DISTINCT url) doesn't decompose
        # either; hour-level HLL register arrays (rollup/distinct.py)
        # persist beside the hour tier and the day stage UNIONS the stored
        # sketches — <=4 KB per (domain, hour) crosses the wire, raw pages
        # are never re-read for day/week distinct counts.
        out["distinct_hour"] = self._stage(
            "distinct_hour",
            fp,
            lambda: distinct_sketch_tier(
                with_domain(pages), ["domain"], "warc_ts", "url", lg_k=12
            ),
        )
        out["distinct_day"] = self._stage(
            "distinct_day",
            fp,
            lambda: cascade_distinct(out["distinct_hour"], ["domain"], "day"),
        )
        # derived view: the estimate is a projection over stored registers
        out["day_distinct_urls"] = with_estimate(out["distinct_day"])

        filled = gap_fill_linear(
            out["hour"].select(
                "domain", "bucket_ts", F.col("doc_count").cast("double").alias("v")
            ),
            ["domain"],
            "bucket_ts",
            ["v"],
            3600,
        )
        out["gapfilled"] = self._stage("gapfill_hour", fp, lambda: filled)

        out["compressed"] = self._stage(
            "compress_hour",
            fp,
            lambda: compressed_tier_blobs(
                out["gapfilled"], ["domain"], "bucket_ts", "v", 1024
            ),
        )

        out["s2g_scores"] = self._stage(
            "s2g_scores",
            fp,
            lambda: score_series_grouped(
                out["gapfilled"], ["domain"], "bucket_ts", "v", self.s2g_params
            ),
        )
        out["discord_ranges"] = self._stage(
            "discord_ranges",
            fp,
            lambda: discord_series_grouped(
                out["gapfilled"], ["domain"], "bucket_ts", "v", m=self.discord_m
            ),
        )

        # Analytics stages over the TIERS (never raw): exact PELT regime
        # boundaries separate "level changed" from the point anomalies the
        # S2G/discord stages flag; seasonal-vs-naive SAE baselines triage
        # which forecast family each domain deserves; day-grain TV drift
        # watches the count distribution against each domain's first week.
        # All three read committed stage outputs, so a resume re-derives
        # them from the checkpoint store without touching pages.
        out["changepoints"] = self._stage(
            "changepoints",
            fp,
            lambda: pelt_grouped(out["gapfilled"], ["domain"], "bucket_ts", "v"),
        )
        out["forecast_baselines"] = self._stage(
            "forecast_baselines",
            fp,
            lambda: seasonal_naive_error(
                out["hour"].select("domain", "bucket_ts", "doc_count"),
                ["domain"],
                "bucket_ts",
                "doc_count",
            ),
        )
        out["count_drift"] = self._stage(
            "count_drift",
            fp,
            lambda: tv_drift(
                out["hour"].select(
                    "domain",
                    "bucket_ts",
                    F.col("doc_count").cast("double").alias("value"),
                ),
                ["domain"],
                "bucket_ts",
                "value",
                baseline_days=7,
                period="day",
            ),
        )
        # SPC chart rules over the committed hour tier: out-of-control
        # LEVELS and RUNS per domain (integer-exact WE/Nelson tests)
        # beside the S2G/discord SHAPE anomalies — the 15th stage, also
        # checkpoint-resumable and published like every other stage.
        out["chart_rules"] = self._stage(
            "chart_rules",
            fp,
            lambda: control_chart_flags(
                out["hour"].select(
                    "domain",
                    F.expr("unix_micros(bucket_ts) DIV 3600000000").alias(
                        "hb"
                    ),
                    F.col("doc_count").alias("v"),
                ),
                ["domain"],
                "hb",
                "v",
            ),
        )
        if self.ran_stages:  # pure-resume reruns keep the prior metrics table
            self.metrics.write(self.ckpt.root)
        return out

    def apply_late(
        self,
        pages: DataFrame,
        late: DataFrame,
        input_desc: dict,
        late_desc: dict,
    ) -> dict[str, DataFrame]:
        """Late-data maintenance: the invalidation refresh of
        rollup/refresh.py composed with the checkpoint machinery.

        Refreshes ONLY the (domain, bucket) groups the late rows touch —
        hour from a broadcast-semi pruned rescan of pages ∪ late, day
        from the refreshed hour tier, week from the refreshed day tier —
        and commits them as ``refresh_hour/day/week`` stages under a
        fingerprint covering BOTH inputs, so a killed maintenance run
        resumes like any other stage and each refreshed tier is published
        as a new snapshot version. Output tiers
        are bit-identical to rerunning the whole job over pages ∪ late
        (asserted in test_jobs): untouched buckets carry the committed
        bytes forward, touched buckets recompute from scratch.

        Requires the base tiers committed (``run()`` first).
        """
        from .rollup.refresh import invalidation_set

        fp = fingerprint(
            {**input_desc, "late": late_desc, "params": str(self.s2g_params)}
        )
        facts = with_domain(pages.unionByName(late))
        inval_h = invalidation_set(
            with_domain(late), ["domain"], "warc_ts", "hour"
        )
        out: dict[str, DataFrame] = {}

        def refresh_hour():
            stale = self.ckpt.load("tier_hour")
            touched = facts.withColumn(
                "bucket_ts", bucket_expr("warc_ts", "hour")
            ).join(F.broadcast(inval_h), ["domain", "bucket_ts"], "left_semi")
            kept = stale.join(
                F.broadcast(inval_h), ["domain", "bucket_ts"], "left_anti"
            )
            return kept.unionByName(
                domain_hourly_series(touched.drop("bucket_ts", "domain"))
            )

        out["hour"] = self._stage("refresh_hour", fp, refresh_hour)

        hour_metric = out["hour"].select(
            "domain",
            "bucket_ts",
            F.col("doc_count").alias("doc_count"),
            F.col("text_bytes").alias("value_sum"),
            F.col("text_bytes").alias("value_min"),
            F.col("text_bytes").alias("value_max"),
        )

        def refresh_cascade(src_metric, stale_name: str, to_tier: str):
            def build():
                stale = self.ckpt.load(stale_name)
                inval = inval_h.select(
                    "domain", bucket_expr("bucket_ts", to_tier)
                ).distinct()
                touched = (
                    src_metric.withColumn(
                        "_coarse", bucket_expr("bucket_ts", to_tier)
                    )
                    .join(
                        F.broadcast(
                            inval.withColumnRenamed("bucket_ts", "_coarse")
                        ),
                        ["domain", "_coarse"],
                        "left_semi",
                    )
                    .drop("_coarse")
                )
                kept = stale.join(
                    F.broadcast(inval), ["domain", "bucket_ts"], "left_anti"
                )
                return kept.unionByName(cascade(touched, ["domain"], to_tier))

            return build

        out["day"] = self._stage(
            "refresh_day", fp, refresh_cascade(hour_metric, "tier_day", "day")
        )
        out["week"] = self._stage(
            "refresh_week", fp, refresh_cascade(out["day"], "tier_week", "week")
        )
        if self.ran_stages:
            self.metrics.write(self.ckpt.root)
        return out

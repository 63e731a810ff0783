"""Linear-interpolation gap-fill over bucketed series.

Per (key) group: re-index onto the dense bucket grid between the series'
first and last observed buckets, then ``np.interp`` the missing values
(north rule: BASELINE.json:6). Runs behind ``mapInArrow`` through the
per-series runner ``dads_spark.groups.per_series`` — one whole series per
kernel call, NumPy-vectorized inside, no cross-task coordination.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame

from ..groups import per_series

TIER_SECONDS = {"hour": 3600, "day": 86400, "week": 604800}


def _gap_fill(df, key_cols, bucket_col, value_cols, step_seconds, fill) -> DataFrame:
    """Densify each series onto its whole-second ``step_seconds`` grid;
    ``fill(dense, ts, observed)`` gives one value column on the grid."""

    def densify(t_us, *observed):
        ts = t_us // 10**6
        dense = np.arange(ts[0], ts[-1] + 1, step_seconds)
        filled = [fill(dense, ts, v) for v in observed]
        return dense * 10**6, *filled, ~np.isin(dense, ts)

    fields = ", ".join(
        [f"{bucket_col} timestamp"] + [f"{c} double" for c in value_cols] + ["gap_filled boolean"]
    )
    return per_series(df, key_cols, bucket_col, value_cols, densify, fields)


def gap_fill_linear(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_cols: list[str],
    step_seconds: int,
) -> DataFrame:
    """Densify (key, bucket) series; output adds ``gap_filled`` boolean.

    Missing buckets get linearly interpolated values between their observed
    neighbors (np.interp semantics; a series with one observation stays as
    is — nothing to interpolate toward).
    """
    return _gap_fill(df, key_cols, bucket_col, value_cols, step_seconds, np.interp)


def _locf(dense: np.ndarray, ts: np.ndarray, observed: np.ndarray) -> np.ndarray:
    # index of the latest observation at-or-before each dense bucket
    return observed[np.searchsorted(ts, dense, side="right") - 1]


def gap_fill_locf(
    df: DataFrame,
    key_cols: list[str],
    bucket_col: str,
    value_cols: list[str],
    step_seconds: int,
) -> DataFrame:
    """LOCF (last-observation-carried-forward) gap-fill — the other
    standard continuous-aggregate fill besides linear interpolation:
    missing buckets repeat the most recent observed value. Same dense
    reindex + per-series runner shape as :func:`gap_fill_linear`; fully
    ANSI-SQL-expressible (last_value IGNORE NULLS), so it carries an exact
    oracle."""
    return _gap_fill(df, key_cols, bucket_col, value_cols, step_seconds, _locf)

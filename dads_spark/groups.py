"""Whole-group Arrow runners: one Python boundary for every per-key kernel.

``mapInArrow`` hands a partition over as Arrow batches. On a partition that
is hash-partitioned by key and sorted by key, :func:`map_key_runs` cuts those
batches into runs of whole groups, carrying only each batch's trailing
(possibly incomplete) group into the next batch, so a NumPy kernel sees
every group whole with no pandas conversion and no per-group Python call on
the Spark side. ``ops/sketch.py`` merges its t-digest centroids over these
runs in one vectorised pass; :func:`per_series` runs a kernel once per
key's series and is the shape of every grouped time-series operator:
S2G, DRAG discords, PELT, gap-fill, blob encoding, matrix profile,
forecasting (Holt, Holt-Winters, CUSUM, Croston), LTTB/EWMA/ASAP,
Theil-Sen and Mann-Kendall trends, seasonal ESD, V-optimal and Haar
synopses, PLA, ACF period, pattern search, codec round-trips and
isotonic calibration.

Key columns keep the type they have in the input: the runner reads them
from the input schema and takes the output keys from the input rows, so no
kernel names a key type.

:func:`per_group` is the other boundary, for work keyed by a slice id (the
slice-parallel S2G stages, the embedding TSQR): ``groupBy().applyInArrow``
keeps an exchange the caller fixed with ``repartition(P, key)``, one task
per slice, where :func:`map_key_runs`' own ``repartition(*keys)`` may be
coalesced by AQE into fewer tasks than slices.

:func:`map_batches` is the row-batch boundary, for work with no key at all
(the embedding operators: k-means assignment, cosine and ADC scans, PQ and
SQ8 encoding, the PCA projection): ``mapInArrow`` hands each batch's
columns over as NumPy arrays, a list column as one 2-D matrix
(:func:`list_matrix`) rather than one Python object per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

__all__ = [
    "key_groups",
    "keyed_schema",
    "list_matrix",
    "map_batches",
    "map_key_runs",
    "per_group",
    "per_series",
]


def key_groups(t: pa.Table, key_cols: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """Group id of each row of a key-sorted table and each group's first row.
    A group ends where any key column's run of equal values ends; nulls are
    equal within a run, so null keys form one group, as in Spark's groupBy."""
    new = np.arange(t.num_rows) == 0
    for k in key_cols:
        new[pc.run_end_encode(t.column(k).combine_chunks()).run_ends.to_numpy()[:-1]] = True
    return np.cumsum(new) - 1, np.flatnonzero(new)


def keyed_schema(df: DataFrame, key_cols: list[str], fields: str) -> StructType:
    """The key columns' fields as ``df`` types them, then the DDL ``fields``."""
    return StructType([df.schema[k] for k in key_cols] + DataType.fromDDL(fields).fields)


def map_key_runs(df: DataFrame, key_cols: list[str], fn, schema: StructType, *order_cols):
    """Hash-partition ``df`` by the keys, sort each partition by the keys and
    then ``order_cols``, and yield the batches of ``fn(table, gid, rep)`` for
    every run of whole groups (``gid``, ``rep`` as :func:`key_groups` gives
    them). Each batch's trailing group is carried, zero-copy, into the next
    batch; no partition is ever concatenated whole."""

    def run(batches):
        carry = []
        for b in batches:
            if b.num_rows:
                t = pa.Table.from_batches(carry + [b])
                gid, rep = key_groups(t, key_cols)
                cut = int(rep[-1])  # the trailing group starts here
                if cut:
                    yield from fn(t.slice(0, cut), gid[:cut], rep[:-1])
                carry = t.slice(cut).to_batches()
        if carry:
            t = pa.Table.from_batches(carry)
            yield from fn(t, *key_groups(t, key_cols))

    keyed = df.repartition(*key_cols).sortWithinPartitions(*key_cols, *order_cols)
    return keyed.mapInArrow(run, schema)


def per_series(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_cols: list[str],
    kernel,
    out_fields: str,
) -> DataFrame:
    """Run ``kernel`` once per key on that key's whole series.

    ``kernel(order, *values)`` gets the series' ``order_col`` (timestamps as
    int64 epoch microseconds) and each of ``value_cols`` as float64 (nulls
    as NaN), all as NumPy arrays sorted by ``order_col``. An integer kernel
    takes its values back with ``.astype(np.int64)``, which is exact for
    magnitudes below 2^53. It returns one
    array per field of the DDL string ``out_fields``, all of one length, or
    None for no rows. Output: the key columns, typed as in ``df``, then
    ``out_fields``, each cast to its declared type; NaN becomes null, as it
    did across the pandas boundary.
    """
    schema = keyed_schema(df, key_cols, out_fields)
    arrow = to_arrow_schema(schema)
    out_types = arrow.types[len(key_cols):]

    def series(t, gid, rep):
        order = t.column(order_col)
        if pa.types.is_timestamp(order.type):
            order = order.cast(pa.int64())
        order = order.to_numpy()
        xs = [t.column(c).to_numpy() for c in value_cols]
        at, parts = [], []  # per emitting series: its first row, its columns
        for s, e in zip(rep, np.append(rep[1:], t.num_rows)):
            cols = kernel(order[s:e], *(x[s:e] for x in xs))
            if cols is not None and len(cols[0]):
                at.append(np.full(len(cols[0]), s))
                parts.append(cols)
        if not parts:
            return []
        keys = [t.column(k).take(np.concatenate(at)) for k in key_cols]
        outs = [
            pa.concat_arrays([pa.array(p[i], typ, from_pandas=True) for p in parts])
            for i, typ in enumerate(out_types)
        ]
        return pa.Table.from_arrays(keys + outs, schema=arrow).to_batches()

    values = [F.col(c).cast("double").alias(c) for c in value_cols]
    rows = df.select(*key_cols, order_col, *values)
    return map_key_runs(rows, key_cols, series, schema, order_col)


def per_group(df: DataFrame, key: str, fn, fields: str) -> DataFrame:
    """``df.groupBy(key).applyInArrow``: ``fn(key value, table)`` gets one
    group as a ``pa.Table`` (possibly of many chunks, in arrival order) and
    returns one array per field of the DDL string ``fields``, each cast to
    its declared type; NaN becomes null, as it did across the pandas
    boundary. ``run`` stays unannotated: PySpark infers the eval type from
    type hints and fails on ``pa.Table`` ones."""
    schema = to_arrow_schema(DataType.fromDDL(fields))

    def run(k, t):
        cols = fn(k[0].as_py(), t)
        return pa.Table.from_arrays(
            [pa.array(c, f.type, from_pandas=True) for c, f in zip(cols, schema)], schema=schema
        )

    return df.groupBy(key).applyInArrow(run, fields)


def list_matrix(col: pa.Array | pa.ChunkedArray, name: str) -> np.ndarray:
    """A list column as a (rows, width) matrix of its value type. A null row
    or rows of unequal length raise ``ValueError`` naming the column: a
    matrix is never silently reshaped."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise ValueError(f"column {name!r}: {col.null_count} null row(s), a matrix has none")
    lengths = pc.list_value_length(col).to_numpy()
    width = int(lengths[0]) if len(lengths) else 0
    if (lengths != width).any():
        raise ValueError(f"column {name!r}: rows of unequal length {sorted(set(lengths))}")
    return pc.list_flatten(col).to_numpy(zero_copy_only=False).reshape(len(col), width)


def _to_arrow(values, typ: pa.DataType) -> pa.Array:
    """One output column as ``typ``; a 2-D array fills a list field row by row."""
    if np.ndim(values) == 2:
        n, width = np.shape(values)
        offsets = pa.array(np.arange(n + 1, dtype=np.int32) * width)
        flat = pa.array(np.ravel(values), typ.value_type, from_pandas=True)
        return pa.ListArray.from_arrays(offsets, flat, type=typ)
    return pa.array(values, typ, from_pandas=True)


def map_batches(df: DataFrame, cols: list[str], fn, out_fields: str) -> DataFrame:
    """``df.select(*cols).mapInArrow``: ``fn(*arrays)`` runs once per
    non-empty Arrow batch on its columns, in ``cols`` order, as NumPy
    arrays; a list column arrives as a 2-D matrix (:func:`list_matrix`).
    It returns one array per field of the DDL string ``out_fields``, all
    of one length, or None for no rows; a 2-D array fills a list field.
    Each array is cast to its declared type; NaN becomes null, as it did
    across the pandas boundary."""
    schema = to_arrow_schema(DataType.fromDDL(out_fields))

    def column(a: pa.Array, name: str) -> np.ndarray:
        if pa.types.is_list(a.type):
            return list_matrix(a, name)
        return a.to_numpy(zero_copy_only=False)

    def run(batches):
        for b in batches:
            if not b.num_rows:
                continue
            out = fn(*(column(a, name) for a, name in zip(b.columns, b.schema.names)))
            if out is not None and len(out[0]):
                arrays = [_to_arrow(c, f.type) for c, f in zip(out, schema)]
                yield pa.RecordBatch.from_arrays(arrays, schema=schema)

    return df.select(*cols).mapInArrow(run, out_fields)

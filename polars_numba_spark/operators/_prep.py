"""Shared input preparation for fold/scan operators."""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from polars_numba_spark.dtypes import spark_type_to_numpy


def ensure_event_time(df: DataFrame, time_col: str) -> DataFrame:
    """Coerce a TIMESTAMP_NTZ event-time column to session-zone TIMESTAMP.

    ``withWatermark`` and several time arithmetics are only legal on
    TIMESTAMP (LTZ); parquet-sourced naive timestamps arrive as NTZ.
    No-op when the column is already LTZ (or anything else castable the
    caller wants to keep as-is).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(df.schema[time_col].dataType, T.TimestampNTZType):
        return df.withColumn(time_col, F.col(time_col).cast(T.TimestampType()))
    return df


def as_list(value: str | Sequence[str] | None) -> list[str]:
    if value is None:
        return []
    if isinstance(value, str):
        return [value]
    return list(value)


def resolve_input_columns(
    df: DataFrame,
    column_names: Sequence[str] | None,
    exclude: Sequence[str] = (),
) -> list[str]:
    """Kernel input columns.

    Default mirrors the reference's whole-frame behavior — *all* frame
    columns, positionally, in frame order (ref `__init__.py:346-348,714-716`;
    tested `tests/test_collect_fold.py:75-85`) — except that ordering /
    grouping columns (which the reference does not need, Polars frames being
    inherently ordered) are excluded from the default.
    """
    if column_names is not None:
        cols = as_list(column_names)
        if not cols:
            raise ValueError("You must pass in at least one column name")
        return cols
    excluded = set(exclude)
    return [c for c in df.columns if c not in excluded]


def frame_order_select(df: DataFrame, *groups: Sequence[str]) -> DataFrame:
    """``df`` pruned to the named columns, kept in FRAME order.

    A projection that only drops columns is pushed below a ``Repartition``
    and then removed, so ``CollapseRepartition`` merges any upstream
    repartition of the caller's frame (a ``repartition(n)`` or
    :func:`sources.widen`) into the operator's own exchange. A reordering
    projection stays above it and both exchanges run (see SCALE.md).
    Kernels therefore bind columns by name, and each operator emits its
    declared output order itself.
    """
    wanted = {c for group in groups for c in group}
    missing = sorted(wanted - set(df.columns))
    if missing:
        raise KeyError(f"columns {missing} not found in DataFrame (has {df.columns})")
    return df.select(*[c for c in df.columns if c in wanted])


def named_fields(df: DataFrame, names: Sequence[str]) -> list:
    """``df``'s schema fields for ``names``, in the order given — an
    operator's declared output order over its frame-order input."""
    fields = {f.name: f for f in df.schema.fields}
    return [fields[c] for c in names]


def input_numpy_dtypes(df: DataFrame, cols: Sequence[str]) -> dict[str, np.dtype]:
    """NumPy dtype per kernel input column; raises TypeError for types the
    kernels don't support (strings/arrays/maps — same restriction as the
    reference, `__init__.py:408-424`)."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    out: dict[str, np.dtype] = {}
    for c in cols:
        if c not in schema:
            raise KeyError(f"column {c!r} not found in DataFrame (has {df.columns})")
        out[c] = spark_type_to_numpy(schema[c])
    return out

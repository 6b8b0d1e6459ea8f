"""SQL-callable fold/scan: Python UDTFs over TABLE arguments.

The reference's operators are Python-API-only; Spark 4's polymorphic table
functions give them a pure-SQL spelling:

    SELECT * FROM my_scan(TABLE(events) PARTITION BY user_id ORDER BY ts)

Spark instantiates the UDTF once per partition key, feeds rows in the
declared order, and ``terminate`` fires at group end — exactly the grouped
fold/scan lifecycle. Semantics match the DataFrame operators: the same
null rules, and the result cast to the schema's declared type. Since
round 6 ``eval`` only BUFFERS each row's key/input values (one append —
no per-row kernel call, no per-row generator) and
``terminate`` runs the same codegen'd kernel the vectorized operators use
(``kernels.get_scanner/get_folder(jit=False)``) once over the buffered
columns, then emits the output rows. What remains per-row is Spark's PTF
protocol itself (pickle-per-row transport and one ``eval`` call per row),
which bounds the gain — measured numbers in BASELINE.md "UDTF overhead";
the vectorized Arrow-batched operators remain the scale path.

Because a user typing the SQL form gets the slow path silently, both
registrars carry a size guard: ``max_rows_per_group`` (default 10M) fails
the query with a pointer at :func:`polars_numba_spark.grouped_scan` /
:func:`~polars_numba_spark.grouped_fold` when any single partition group
exceeds it. Pass ``None`` to run unguarded.
"""

from __future__ import annotations

from typing import Any, Callable, Sequence

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

from polars_numba_spark.dtypes import normalize_spark_type, spark_type_to_numpy
from polars_numba_spark.kernels import (
    compile_step_function,
    get_folder,
    get_scanner,
)


def _guard_message(name: str, limit: int, vectorized: str) -> str:
    return (
        f"UDTF '{name}' exceeded max_rows_per_group={limit}: the SQL "
        f"spelling pays Spark's per-row PTF transport (~2x slower than the "
        f"vectorized kernel). Use polars_numba_spark.{vectorized} for this "
        f"volume, or re-register with max_rows_per_group=None to override."
    )


def _result_dtype(return_schema: Any) -> np.dtype | None:
    """NumPy dtype of the schema's last field, the fold/scan result: the
    emitted accumulator is cast through it, as the DataFrame operators'
    result buffers cast theirs (a float accumulator declared ``int``
    truncates). None for a type the kernels have no NumPy form for; that
    result is emitted as the accumulator is."""
    try:
        return spark_type_to_numpy(normalize_spark_type(return_schema).fields[-1].dataType)
    except TypeError:
        return None


def register_scan_udtf(
    spark: SparkSession,
    name: str,
    function: Callable,
    initial_accumulator: Any,
    input_cols: Sequence[str],
    key_cols: Sequence[str],
    return_schema: str,
    extra_args: Sequence[Any] = (),
    max_rows_per_group: int | None = 10_000_000,
) -> None:
    """Register ``name`` as a running-scan table function: emits every input
    row's key/input columns plus ``scan`` (null in → null out, accumulator
    carries — the reference scan null rule).

    ``max_rows_per_group`` is the slow-path size guard (module docstring);
    exceeding it fails the query pointing at the vectorized operator."""
    compile_step_function(function)  # closure guard at registration time
    cols = list(input_cols)
    keys = list(key_cols)
    extra = tuple(extra_args)
    acc0 = initial_accumulator
    limit = max_rows_per_group

    scanner = get_scanner(len(cols), jit=False)
    res_np = _result_dtype(return_schema)
    all_cols = list(key_cols) + list(input_cols)

    @udtf(returnType=return_schema)
    class _Scan:
        def __init__(self) -> None:
            self.rows: list[tuple] = []

        def eval(self, row):
            if limit is not None and len(self.rows) >= limit:
                raise RuntimeError(_guard_message(name, limit, "grouped_scan"))
            self.rows.append(tuple(row[c] for c in all_cols))

        def terminate(self):
            rows = self.rows
            if not rows:
                return
            nk = len(keys)
            data = list(zip(*rows))[nk:]  # C-speed column transpose
            if len(data) == 1:
                is_null = [v is None for v in data[0]]
            else:
                is_null = [any(v is None for v in vs) for vs in zip(*data)]
            result: Any = [None] * len(rows) if res_np is None else np.empty(len(rows), res_np)
            scanner(function, acc0, extra, result, is_null, *data)
            if res_np is not None:
                result = result.tolist()
            for r, null, out in zip(rows, is_null, result):
                yield r + (None if null else out,)

    spark.udtf.register(name, _Scan)


def register_fold_udtf(
    spark: SparkSession,
    name: str,
    function: Callable,
    initial_accumulator: Any,
    input_cols: Sequence[str],
    key_cols: Sequence[str],
    return_schema: str,
    extra_args: Sequence[Any] = (),
    max_rows_per_group: int | None = 10_000_000,
) -> None:
    """Register ``name`` as a grouped-fold table function: one output row
    per partition key (keys + ``fold``); null rows dropped (reference fold
    null rule).

    ``max_rows_per_group`` is the slow-path size guard (module docstring);
    exceeding it fails the query pointing at the vectorized operator."""
    compile_step_function(function)
    cols = list(input_cols)
    keys = list(key_cols)
    extra = tuple(extra_args)
    acc0 = initial_accumulator
    limit = max_rows_per_group

    folder = get_folder(len(cols), jit=False)
    res_np = _result_dtype(return_schema)

    @udtf(returnType=return_schema)
    class _Fold:
        def __init__(self) -> None:
            self.key: tuple | None = None
            self.rows: list[tuple] = []
            self.n_rows = 0

        def eval(self, row):
            self.n_rows += 1
            if limit is not None and self.n_rows > limit:
                raise RuntimeError(_guard_message(name, limit, "grouped_fold"))
            if self.key is None:
                self.key = tuple(row[k] for k in keys)
            values = tuple(row[c] for c in cols)
            if not any(v is None for v in values):  # fold null rule
                self.rows.append(values)

        def terminate(self):
            if self.key is None:
                return
            data = [[r[j] for r in self.rows] for j in range(len(cols))]
            acc = folder(function, acc0, extra, *data) if self.rows else acc0
            if res_np is not None:
                out = np.empty(1, res_np)
                out[0] = acc
                acc = out.tolist()[0]
            yield self.key + (acc,)

    spark.udtf.register(name, _Fold)

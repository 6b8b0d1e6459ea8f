"""The benchmark's workloads: their ops and the checks of their outputs.

An op is one call that returns a DataFrame (forced by the runner with a
``noop`` write) or one ``collect_fold`` call (which returns a value).
``build`` receives a :class:`Ctx`; ``ctx.call(layer, fn, ...)`` times a
call into a named layer of the engine.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import steps

GLOBAL_CAP = 100_000.0
USER_CAP = 1_000.0


@dataclass
class Ctx:
    spark: Any
    data_dir: str
    call: Callable[..., Any]


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Ctx], Any]
    table: str  # the input table the op reads


@dataclass(frozen=True)
class Workload:
    tables: tuple[str, ...]
    ops: tuple[Op, ...]
    # Check each op after every timed op (cheap when the op's output is
    # already materialized), or once, in the untimed warm-up pass.
    check_every_pass: bool
    # (tables, data_dir) -> an object whose check(op_name, output) returns
    # (ok, digest); the output is a DataFrame or the value collect_fold gave
    make_checker: Callable[[dict[str, pa.Table], str], Any]


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive content digest of a result frame."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    hashed = pd.util.hash_pandas_object(pdf.reset_index(drop=True), index=False)
    return hashlib.sha1(hashed.values.tobytes()).hexdigest()[:16]


# --------------------------------------------------------------------------
# fold_scan: the paper's fold/scan surface over a generated ledger
# --------------------------------------------------------------------------


def _ledger(ctx: Ctx):
    from polars_numba_spark.sources import load_table

    return load_table(ctx.spark, "ledger", ctx.data_dir)


def _cents(ctx: Ctx):
    from pyspark.sql import functions as F

    return _ledger(ctx).withColumn(
        "cents", F.round(F.col("amount") * 100).cast("long")
    )


def _collect_fold(ctx: Ctx):
    from polars_numba_spark.operators.fold import collect_fold

    return ctx.call(
        "operators.fold", collect_fold, _ledger(ctx).select("seq", "amount"),
        steps.capped, 0.0, extra_args=(GLOBAL_CAP,), column_names=["amount"],
        order_by="seq",
    )


def _collect_fold_combine(ctx: Ctx):
    from polars_numba_spark.operators.fold import collect_fold

    return ctx.call(
        "operators.fold", collect_fold, _cents(ctx).select("cents"),
        steps.add, 0, combine=steps.add,
    )


def _collect_scan(ctx: Ctx):
    from polars_numba_spark.operators.scan import collect_scan

    return ctx.call(
        "operators.scan", collect_scan, _ledger(ctx).select("seq", "amount"),
        steps.capped, 0.0, "double", extra_args=(GLOBAL_CAP,),
        column_names=["amount"], order_by="seq",
    )


def _collect_scan_combine(ctx: Ctx):
    from polars_numba_spark.operators.scan import collect_scan

    return ctx.call(
        "operators.scan", collect_scan, _cents(ctx).select("seq", "cents"),
        steps.add, 0, "long", column_names=["cents"], order_by="seq",
        combine=steps.add,
    )


def _grouped_fold(ctx: Ctx):
    from polars_numba_spark.operators.fold import grouped_fold

    return ctx.call(
        "operators.fold", grouped_fold, _ledger(ctx), "user_id", steps.capped,
        0.0, "double", columns=["amount"], order_by="seq",
        extra_args=(USER_CAP,),
    )


def _grouped_scan(ctx: Ctx):
    from polars_numba_spark.operators.scan import grouped_scan

    return ctx.call(
        "operators.scan", grouped_scan, _ledger(ctx), "user_id", steps.capped,
        0.0, "double", columns=["amount"], order_by="seq",
        extra_args=(USER_CAP,),
    )


def _agg_with_fold(ctx: Ctx):
    from pyspark.sql import functions as F

    from polars_numba_spark.operators.fold import agg_with_fold

    fold = dict(initial_accumulator=0.0, return_dtype="double",
                columns=["amount"], order_by="seq")
    return ctx.call(
        "operators.fold", agg_with_fold, _cents(ctx), "user_id",
        {"n_rows": F.count(F.lit(1)), "cents": F.sum("cents")},
        {"balance": dict(fold, function=steps.capped, extra_args=(USER_CAP,)),
         "peak": dict(fold, function=steps.peak)},
    )


def _assoc_scan(ctx: Ctx):
    from polars_numba_spark.operators.window import assoc_scan

    return ctx.call(
        "operators.window", assoc_scan,
        _cents(ctx).select("seq", "user_id", "cents"), "sum", "cents",
        order_by="seq", partition_by="user_id", result_name="running",
    )


FOLD_OPS = (
    Op("collect_fold", _collect_fold, "ledger"),
    Op("collect_fold_combine", _collect_fold_combine, "ledger"),
    Op("collect_scan", _collect_scan, "ledger"),
    Op("collect_scan_combine", _collect_scan_combine, "ledger"),
    Op("grouped_fold", _grouped_fold, "ledger"),
    Op("grouped_scan", _grouped_scan, "ledger"),
    Op("agg_with_fold", _agg_with_fold, "ledger"),
    Op("assoc_scan", _assoc_scan, "ledger"),
)

# op -> (key columns, value columns) of its output
_FOLD_SHAPES = {
    "collect_scan": (["seq"], ["scan"]),
    "collect_scan_combine": (["seq"], ["scan"]),
    "grouped_fold": (["user_id"], ["fold"]),
    "grouped_scan": (["seq"], ["scan"]),
    "agg_with_fold": (["user_id"], ["n_rows", "cents", "balance", "peak"]),
    "assoc_scan": (["seq"], ["running"]),
}


def fold_reference(ledger: pa.Table) -> dict[str, Any]:
    """Sequential NumPy/Python reference on the generated ledger, which is
    stored in ``seq`` order. A fold drops null rows; a scan emits null for a
    null row and carries the accumulator; ``assoc_scan`` is a SQL window
    SUM, which gives a null row the running sum so far."""
    seq = ledger["seq"].to_numpy()
    user = ledger["user_id"].to_numpy()
    amount = ledger["amount"].to_numpy(zero_copy_only=False)
    valid = ~np.isnan(amount)
    cents = np.where(valid, np.round(np.nan_to_num(amount) * 100), 0).astype(np.int64)
    n = len(seq)
    nan = float("nan")

    acc = 0.0
    scan = np.full(n, nan)
    user_acc: dict[int, float] = {}
    user_peak: dict[int, float] = {}
    user_sum: dict[int, int] = {}
    grouped = np.full(n, nan)
    running = np.full(n, nan)
    for i, (u, a, ok, c) in enumerate(
        zip(user.tolist(), amount.tolist(), valid.tolist(), cents.tolist())
    ):
        if ok:
            acc = steps.capped(acc, GLOBAL_CAP, a)
            scan[i] = acc
            grouped[i] = user_acc[u] = steps.capped(user_acc.get(u, 0.0), USER_CAP, a)
            user_peak[u] = steps.peak(user_peak.get(u, 0.0), a)
            user_sum[u] = user_sum.get(u, 0) + c
        else:
            user_acc.setdefault(u, 0.0)
            user_peak.setdefault(u, 0.0)
        if u in user_sum:
            running[i] = user_sum[u]

    prefix = np.cumsum(cents).astype(np.float64)
    prefix[~valid] = nan
    users = np.unique(user)
    n_rows = np.bincount(np.searchsorted(users, user), minlength=len(users))
    by_user = lambda d: np.array([d.get(u, nan) for u in users.tolist()], dtype=float)  # noqa: E731
    return {
        "collect_fold": acc,
        "collect_fold_combine": int(cents[valid].sum()),
        "collect_scan": {"seq": seq, "scan": scan},
        "collect_scan_combine": {"seq": seq, "scan": prefix},
        "grouped_fold": {"user_id": users, "fold": by_user(user_acc)},
        "grouped_scan": {"seq": seq, "scan": grouped},
        "agg_with_fold": {
            "user_id": users,
            "n_rows": n_rows,
            "cents": by_user(user_sum),
            "balance": by_user(user_acc),
            "peak": by_user(user_peak),
        },
        "assoc_scan": {"seq": seq, "running": running},
    }


def _as_float(values) -> np.ndarray:
    return pd.to_numeric(pd.Series(values), errors="raise").astype("float64").to_numpy()


class FoldChecker:
    def __init__(self, tables: dict[str, pa.Table], data_dir: str) -> None:
        self.expected = fold_reference(tables["ledger"])

    def check(self, name: str, out: Any) -> tuple[bool, str]:
        want = self.expected[name]
        if name not in _FOLD_SHAPES:  # collect_fold: a driver-side value
            return out == want, repr(out)
        keys, values = _FOLD_SHAPES[name]
        got = out.select(*keys, *values).toPandas()
        got = got.sort_values(keys, kind="mergesort").reset_index(drop=True)
        ok = len(got) == len(want[keys[0]]) and all(
            np.array_equal(_as_float(got[c]), _as_float(want[c]), equal_nan=True)
            for c in keys + values
        )
        return ok, digest(got)


# --------------------------------------------------------------------------
# streaming_ingest: the catalog's Structured Streaming faces
# --------------------------------------------------------------------------

# Left out:
# - streaming_scan_user_balance drives the same staged stateful-scan path as
#   streaming_user_ewma (only the step differs), and the run budget has no
#   room for both;
# - streaming_neardup_keeplist takes 11-18 s per warm call on 4 cores (25-34 s
#   cold) whatever the input size, so one call outweighs the other faces
#   together and its own spread decides the workload's figures.
STREAMING_FACES = {
    "streaming_user_sessions": "events",
    "streaming_dedup_docs": "documents",
    "streaming_daily_rollup": "events",
    "streaming_user_ewma": "events",
}


def _face(name: str) -> Callable[[Ctx], Any]:
    def build(ctx: Ctx):
        from polars_numba_spark.queries import catalog

        return ctx.call("queries", catalog.spark_queries()[name], ctx.spark, ctx.data_dir)

    return build


def _load_check_oracle():
    """``tools/check_oracle.py`` of the checkout, imported by path: its
    canonicalization and compare are the catalog's correctness gate."""
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_perfbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class OracleChecker:
    """Compares each face with its DuckDB oracle through the catalog gate's
    canonicalization; a face without an oracle must give the same digest
    in every pass."""

    def __init__(self, tables: dict[str, pa.Table], data_dir: str) -> None:
        import duckdb

        from polars_numba_spark.queries import catalog

        self.gate = _load_check_oracle()
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.oracles = catalog.oracle_queries()
        self.expected: dict[str, pd.DataFrame] = {}
        self.first_digest: dict[str, str] = {}

    def check(self, name: str, out: Any) -> tuple[bool, str]:
        got = out.toPandas()
        d = digest(got)
        if name in self.oracles:
            if name not in self.expected:
                self.expected[name] = self.con.execute(self.oracles[name]).df()
            ok = not self.gate.compare(name, got, self.expected[name])
        else:
            ok = self.first_digest.setdefault(name, d) == d
        return ok, d


WORKLOADS = {
    "fold_scan": Workload(("ledger",), FOLD_OPS, False, FoldChecker),
    "streaming_ingest": Workload(
        ("events", "documents"),
        tuple(Op(n, _face(n), t) for n, t in STREAMING_FACES.items()),
        True,
        OracleChecker,
    ),
}

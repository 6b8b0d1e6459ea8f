"""Arrow <-> NumPy conversion helpers for the kernel boundary.

The reference converts each Polars ``Series`` batch to NumPy before the
kernel loop (``Series.to_numpy()``, ref `__init__.py:349-354,725-732`) and,
for scans, computes a null mask + zero-fills because NumPy has no nulls
(ref `:718-723`). Here the batches are Arrow record batches arriving through
``mapInArrow``, and the same three steps are expressed with
``pyarrow.compute`` — columnar, no pandas detour.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def column_to_numpy(array: pa.ChunkedArray | pa.Array, np_dtype: np.dtype) -> np.ndarray:
    """Convert an Arrow column (assumed null-free) to a NumPy array."""
    if isinstance(array, pa.ChunkedArray):
        array = array.combine_chunks()
    out = array.to_numpy(zero_copy_only=False)
    if out.dtype != np_dtype:
        out = out.astype(np_dtype)
    return out


def null_mask(arrays: Sequence[pa.Array]) -> np.ndarray:
    """Row mask: True where *any* of the given columns is null
    (ref ``reduce(or_, (s.is_null() ...))`` `__init__.py:718`)."""
    mask = None
    for arr in arrays:
        m = pc.is_null(arr)
        mask = m if mask is None else pc.or_(mask, m)
    return mask.to_numpy(zero_copy_only=False)


def fill_zero(array: pa.Array) -> pa.Array:
    """Zero-fill nulls (ref ``fill_null(strategy="zero")`` `__init__.py:723`)."""
    if array.null_count == 0:
        return array
    typ = array.type
    if pa.types.is_timestamp(typ):
        zero = pa.scalar(0, type=pa.int64()).cast(typ)
    elif pa.types.is_date(typ):
        import datetime

        zero = pa.scalar(datetime.date(1970, 1, 1), type=typ)
    elif pa.types.is_boolean(typ):
        zero = pa.scalar(False, type=typ)
    else:
        zero = pa.scalar(0, type=typ)
    return pc.fill_null(array, zero)


def scan_result_to_arrow(
    result: np.ndarray,
    mask: np.ndarray,
    element_shape: tuple[int, ...],
) -> pa.Array:
    """Build the scan output column, re-masking null rows
    (ref ``pl.when(is_null).then(None)...`` `__init__.py:733-736`).

    ``result`` is 1-D for scalar accumulators, 2-D ``(rows, k)`` for
    multi-output (SizedArray) accumulators → a list<element> Arrow column.
    """
    if element_shape:
        values = [None if m else row.tolist() for m, row in zip(mask, result)]
        return pa.array(values, type=pa.list_(pa.from_numpy_dtype(result.dtype)))
    if mask.any():
        return pa.array(result, mask=mask)
    return pa.array(result)


class ListVectors:
    """A ``list<float>`` or ``list<double>`` batch column decoded once for
    the NumPy vector kernels: the row ``offsets`` and ``lengths``, ``ok``
    (row valid and no null element) and the flat ``values`` (a null
    element reads as NaN)."""

    def __init__(self, arr: pa.ListArray):
        n = len(arr)
        self.offsets = arr.offsets.to_numpy(zero_copy_only=False)[: n + 1]
        self.lengths = self.offsets[1:] - self.offsets[:-1]
        row_valid = (
            np.ones(n, dtype=bool)
            if arr.null_count == 0
            else arr.is_valid().to_numpy(zero_copy_only=False)
        )
        values = arr.values
        elem_clean = np.ones(n, dtype=bool)
        if values.null_count:
            # rare (dirty corpora): per-row any-null scan
            nulls = values.is_null().to_numpy(zero_copy_only=False)
            for i in np.nonzero(row_valid)[0]:
                if nulls[self.offsets[i] : self.offsets[i + 1]].any():
                    elem_clean[i] = False
        self.ok = row_valid & elem_clean
        self.values = values.to_numpy(zero_copy_only=False)

    def rows(self, idx: np.ndarray, length: int) -> np.ndarray:
        """The rows at ``idx``, all of ``length`` elements, as a float64
        ``(len(idx), length)`` matrix (float32 widens exactly)."""
        gather = self.offsets[idx][:, None] + np.arange(length)[None, :]
        return self.values[gather].astype(np.float64)

    def norms(self) -> np.ndarray:
        """Each ``ok`` row's norm over its OWN length, index-ordered: one
        rounded multiply + one rounded add per element, then ``sqrt`` —
        the interpreted ``sqrt(aggregate(v, 0.0, acc + x·x))``. An empty
        row's norm is 0.0; a row that is not ``ok`` reads NaN."""
        vn = np.full(len(self.ok), np.nan)
        with np.errstate(over="ignore", invalid="ignore"):
            for L in np.unique(self.lengths[self.ok]):
                idx = np.nonzero(self.ok & (self.lengths == L))[0]
                if L == 0:
                    vn[idx] = 0.0
                    continue
                vs = self.rows(idx, L)
                acc = np.zeros(len(idx))
                for d in range(L):
                    acc += vs[:, d] * vs[:, d]
                vn[idx] = np.sqrt(acc)
        return vn

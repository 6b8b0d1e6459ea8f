"""Sequential fold/scan kernels + compile machinery.

This module reproduces the reference's observable kernel behaviors
(``/root/reference/src/polars_numba/__init__.py``):

- **arity-specialized kernels 1..9** (`:43-164` folders, `:437-626` scanners;
  rationale comment `:267-270`: specialization keeps Numba compile time down).
  Instead of hand-writing 18 near-identical functions we *generate* them from
  a template at import time — same shape, same dispatch, same error strings
  (`:272-273` 0-column ValueError; `:302-307` >9-column RuntimeError).
- **compile-once caching** keyed by the user function (`_NUMBA_CACHE`,
  `:167,213-225`): repeated use never recompiles; a new argument-dtype tuple
  triggers Numba's own lazy respecialization.
- **captured-variable immutability guard** (`:181-210`): because the function
  is compiled once (and, on Spark, pickled to executors once), captured
  closure cells and referenced globals must not change between uses. We hash
  them on first use and raise RuntimeError with the reference's message
  (`:170-178`) if they change.
- **extra_args injection** (`:316,376-379`): constants passed positionally
  between the accumulator and the column values.
- **column binding**: the whole-frame operators default to *all frame
  columns positionally* (`:346-348,714-716`, tested
  `tests/test_collect_fold.py:75-85`); the grouped operators to all
  columns but the keys and order (``_prep.resolve_input_columns``). The
  reference's signature-based naming (`_get_column_names`, `:228-237`)
  serves its expression API, which here takes explicit ``columns=``.

Scan null semantics (`:441`, docstring `:697-700`): a row with any null in
the selected columns produces a null output row, the step function is *not*
called, and the accumulator carries over unchanged. The kernel receives a
precomputed boolean ``is_null`` mask and zero-filled data arrays (NumPy has
no nulls — same workaround as `:720-723`); the caller re-masks the output.
"""

from __future__ import annotations

import inspect
from types import FunctionType
from typing import Any, Callable

from polars_numba_spark._numba import maybe_jit

MAX_ARITY = 9

_FOLDER_TEMPLATE = '''
def _folder{n}(step, acc, extra_args, {args}):
    """Fold a {n}-column step function over row index order."""
    for i in range(len(arr1)):
        acc = step(acc, *extra_args, {items})
    return acc
'''

_SCANNER_TEMPLATE = '''
def _scanner{n}(step, acc, extra_args, result, is_null, {args}):
    """Scan a {n}-column step function; null rows keep the prior accumulator."""
    for i in range(len(arr1)):
        if not is_null[i]:
            acc = step(acc, *extra_args, {items})
        result[i] = acc
    return acc
'''


def _codegen(template: str, n: int) -> Callable:
    args = ", ".join(f"arr{j}" for j in range(1, n + 1))
    items = ", ".join(f"arr{j}[i]" for j in range(1, n + 1))
    src = template.format(n=n, args=args, items=items)
    namespace: dict[str, Any] = {}
    exec(src, namespace)
    return namespace[f"_folder{n}" if "folder" in template else f"_scanner{n}"]


# Raw (never-jitted) kernels index plain Python lists — the SQL UDTF path
# buffers Row objects and feeds lists; jitted kernels need typed arrays.
_FOLDERS_RAW = {n: _codegen(_FOLDER_TEMPLATE, n) for n in range(1, MAX_ARITY + 1)}
_SCANNERS_RAW = {n: _codegen(_SCANNER_TEMPLATE, n) for n in range(1, MAX_ARITY + 1)}
_FOLDERS = {n: maybe_jit(f) for n, f in _FOLDERS_RAW.items()}
_SCANNERS = {n: maybe_jit(f) for n, f in _SCANNERS_RAW.items()}


def _kernel(kernels: dict[int, Callable], num_args: int) -> Callable:
    """Arity dispatch with the reference's exact error behavior
    (`__init__.py:263-309,629-670`)."""
    if num_args == 0:
        raise ValueError("You must pass in at least one column name")
    kernel = kernels.get(num_args)
    if kernel is None:
        raise RuntimeError(
            f"You passed in {num_args} columns, but currently "
            "only up to 9 columns are supported; if you need more, file "
            "an issue."
        )
    return kernel


def get_folder(num_args: int, jit: bool = True) -> Callable:
    """The fold kernel for ``num_args`` columns. ``jit=False`` returns the
    raw Python kernel (list-capable — the SQL UDTF path)."""
    return _kernel(_FOLDERS if jit else _FOLDERS_RAW, num_args)


def get_scanner(num_args: int, jit: bool = True) -> Callable:
    """The scan kernel for ``num_args`` columns. ``jit=False`` returns the
    raw Python kernel (list-capable — the SQL UDTF path)."""
    return _kernel(_SCANNERS if jit else _SCANNERS_RAW, num_args)


# --- compile cache + captured-variable guard (ref `__init__.py:167-225`) ---

_COMPILE_CACHE: dict[FunctionType, Callable] = {}
_CAPTURED_VARS_HASHES: dict[FunctionType, int] = {}

# Error message kept verbatim from the reference (`__init__.py:170-178`) —
# its tests match on this text.
_CAPTURED_VARS_CHANGED_MESSAGE = """\
You have changed a captured variable in a function passed to collect_fold().

Function {function} uses the following captured variables: {variables}.

If you are using a function repeatedly with collect_fold(), these captured\
 variables must not change, but one of them at least has changed since\
 the last call.
"""


def ensure_captured_vars_are_unchanged(function: FunctionType) -> None:
    """RuntimeError if the function's captured closure cells or referenced
    globals changed since first use (ref `__init__.py:181-210`).

    On Spark this guard is even more load-bearing than in the reference: the
    step function is pickled to executors when the job is launched, so a
    driver-side mutation of a captured variable would silently diverge from
    what executors run. The check runs driver-side at operator-build time.
    """
    closurevars = inspect.getclosurevars(function)
    captured: list[tuple[str, Any]] = [
        (name, cell.cell_contents)
        for (name, cell) in zip(
            function.__code__.co_freevars or (), function.__closure__ or ()
        )
    ]
    captured.extend((n, function.__globals__[n]) for n in closurevars.globals)
    captured.sort(key=lambda pair: pair[0])
    vars_hash = hash(tuple(captured))
    recorded = _CAPTURED_VARS_HASHES.get(function)
    if recorded is not None:
        if recorded != vars_hash:
            raise RuntimeError(
                _CAPTURED_VARS_CHANGED_MESSAGE.format(
                    variables=", ".join(name for (name, _) in captured),
                    function=function,
                )
            )
    else:
        _CAPTURED_VARS_HASHES[function] = vars_hash


def compile_step_function(function: FunctionType) -> Callable:
    """Guard + compile-once-cache the user's step function
    (ref ``_compile_function`` `__init__.py:213-225`).

    With Numba present this JITs ``nogil=True``; without it the plain
    function is cached so the guard semantics (and the cache-hit fast path)
    are identical. The cache is per-process: on executors it lives in each
    Python worker (kept warm by ``spark.python.worker.reuse=true``).
    """
    if not isinstance(function, FunctionType):
        raise TypeError(f"expected a plain Python function, got {type(function)}")
    ensure_captured_vars_are_unchanged(function)
    cached = _COMPILE_CACHE.get(function)
    if cached is None:
        cached = maybe_jit(function)
        _COMPILE_CACHE[function] = cached
    return cached


"""The contract every numeric Arrow kernel shares.

The vector operators (cosine scoring, LSH bucketing, blocked pair scoring,
PQ codes and Lloyd statistics) run as numpy kernels behind ``mapInArrow``
/ ``applyInArrow``, and each must reproduce the doubles of the expression
form it replaced (``F.aggregate(F.zip_with(...), 0.0, acc + x)``) on every
row, hostile rows included. The pieces of that contract live here once:

- :func:`kernel_input` — the Spark-side projection: the vector as ``_v``
  plus ``_hn``, TRUE iff some element is NULL. Arrow→numpy turns a NULL
  element into NaN, so the NULL/NaN distinction the fold semantics depend
  on must be flagged before the boundary;
- :func:`split_rows` — the worker-side split into well-formed rows (one
  ``(n, dim)`` matrix) and slow rows (NULL, ragged, or with a NULL
  element), which each kernel handles with its own per-row rule;
- :func:`left_fold` — the strict left fold in dimension order from 0.0,
  the evaluation order of the expression form, so doubles stay
  bit-identical (``np.cumsum`` differs from it only on a ``-0.0`` result,
  BLAS matmuls on the last ulp);
- :func:`raise_divide_by_zero` — ANSI-mode parity for a zero divisor;
- :func:`masked_float64` — float64 output with an explicit validity mask.
  NaN crosses the boundary as a value (Spark ranks NaN above every
  double), never coerced to NULL the way ``mapInPandas`` does.

Worker-side functions import only numpy and pyarrow, and this module is
registered with cloudpickle to pickle by value: executors need not have
the package on their import path.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def kernel_input(frame: DataFrame, vec_col: str, *keep: str | Column) -> DataFrame:
    """``keep`` columns, the vector as ``_v``, and the ``_hn`` NULL-element
    flag — the Spark side of every kernel that distinguishes a NULL element
    from NaN."""
    return frame.select(
        *keep,
        F.col(vec_col).alias("_v"),
        F.coalesce(
            F.exists(F.col(vec_col), lambda x: x.isNull()), F.lit(False)
        ).alias("_hn"),
    )


def kernel_columns(batch) -> tuple:
    """Worker side of :func:`kernel_input`: ``(_v as one ListArray, _hn as
    a bool ndarray)`` from a RecordBatch or a Table."""
    vec, hn = batch.column("_v"), batch.column("_hn")
    if isinstance(vec, pa.ChunkedArray):
        vec, hn = vec.combine_chunks(), hn.combine_chunks()
    return vec, hn.to_numpy(zero_copy_only=False).astype(bool)


def row_lengths(vec) -> np.ndarray:
    """Element count per row, ``-1`` for a NULL row."""
    return (
        vec.value_lengths().fill_null(-1).to_numpy(zero_copy_only=False)
    ).astype(np.int64)


def matrix(vec, rows: np.ndarray, dim: int, dtype=np.float64) -> np.ndarray:
    """The ``rows`` of ``vec`` (each exactly ``dim`` long) as a
    ``(len(rows), dim)`` matrix. A NULL element reads as NaN."""
    flat = vec.take(pa.array(rows, type=pa.int64())).flatten()
    return (
        flat.to_numpy(zero_copy_only=False).astype(dtype).reshape(len(rows), dim)
    )


def split_rows(vec, dim: int, hn=None, dtype=np.float64) -> tuple:
    """``(fast, X, lens)``: the mask of well-formed rows (exactly ``dim``
    elements, none NULL when ``hn`` is given), their matrix, and every
    row's length (``-1`` for NULL). Rows outside ``fast`` are the slow
    rows each kernel resolves with its own fold rule."""
    lens = row_lengths(vec)
    fast = lens == dim
    if hn is not None:
        fast &= ~hn
    return fast, matrix(vec, np.flatnonzero(fast), dim, dtype), lens


def left_fold(terms, shape=()) -> np.ndarray:
    """``((0.0 + t0) + t1) + ...`` over ``terms`` in order — the expression
    form's ``aggregate(..., 0.0, acc + x)``. Pass one term per dimension
    (an array of ``shape``) or a 1-D array of scalar terms."""
    acc = np.zeros(shape)
    for t in terms:
        acc += t
    return acc


def raise_divide_by_zero(where: str) -> None:
    """ANSI-mode Spark raises on ``x / 0.0``; a kernel replacing a Divide
    must be equally loud (a NULL operand stays NULL, and a NaN divisor is
    not zero)."""
    raise ArithmeticError(
        f"[DIVIDE_BY_ZERO] zero norm product in {where} (ANSI-mode parity "
        "with the expression form's Divide)"
    )


def masked_float64(values, null) -> pa.Array:
    """float64 column with ``null`` as its validity mask (NaN stays NaN)."""
    return pa.array(
        np.asarray(values, dtype=np.float64),
        mask=np.asarray(null, dtype=bool),
        type=pa.float64(),
    )

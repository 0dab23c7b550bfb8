"""Set-similarity metrics: Jaccard, Cosine, Dice, Overlap, Exact.

Each metric supplies (reference: pkg/metric/metric.go:7-16):

* ``min_y(alpha, size)`` / ``max_y(alpha, size)`` — the candidate-cardinality
  range that can reach similarity >= alpha (the LengthFilter bounds),
* ``threshold(alpha, size_a, size_b)`` — the minimum shared-gram count T
  (the CountFilter bound),
* ``similarity(overlap, size_a, size_b)`` = 1 − Distance.

Formulas are float64-exact ports (Python floats and Spark/DuckDB doubles are
the same IEEE-754 binary64 as Go's float64, and the operation order is kept
identical) of:

* Jaccard  — pkg/metric/jaccard.go:12-27
* Cosine   — pkg/metric/cosine.go:12-26
* Dice     — pkg/metric/dice.go:12-26
* Overlap  — pkg/metric/overlap.go:12-26
* Exact    — pkg/metric/exact.go:10-24

Every function has a pure-Python form (``*_py``) and a Spark Column form;
``threshold_np``/``similarity_np`` are the numpy array forms the hot replica
scores candidates with (same operation order as ``*_py``, size products in
int64, so the results are bit-identical); ``threshold_sql``/``similarity_sql``
emit the equivalent ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_INT16 = 32767  # math.MaxInt16, pkg/metric/overlap.go:17-19


def _sql_dbl(x: float) -> str:
    """Float literal for DuckDB with an explicit DOUBLE cast (DuckDB parses
    bare decimal literals as DECIMAL; repr() round-trips binary64 exactly)."""
    return f"CAST({x!r} AS DOUBLE)"


def _dbl(c: Column) -> Column:
    return c.cast("double")


def _i64(x) -> np.ndarray:
    """Sizes/overlaps as int64: Python ints never overflow, so products like
    ``size_a * size_b`` must not wrap at int32 either.  Cast EVERY operand —
    numpy's value-based casting keeps ``int64 0-d × int32[]`` in int32."""
    return np.asarray(x, dtype=np.int64)


def _f64(x) -> np.ndarray:
    return _i64(x).astype(np.float64)


def _ceil_int(x: np.ndarray) -> np.ndarray:
    return np.ceil(x).astype(np.int64)


@dataclass(frozen=True)
class Metric:
    """A similarity metric; instances are the five reference metrics below."""

    name: str

    # ---- pure Python ------------------------------------------------------
    def min_y_py(self, alpha: float, size: int) -> int:
        raise NotImplementedError

    def max_y_py(self, alpha: float, size: int) -> int:
        raise NotImplementedError

    def threshold_py(self, alpha: float, size_a: int, size_b: int) -> int:
        raise NotImplementedError

    def similarity_py(self, inter: int, size_a: int, size_b: int) -> float:
        raise NotImplementedError

    # ---- numpy arrays (broadcasting; bit-identical to the *_py forms) -----
    def threshold_np(self, alpha: float, size_a, size_b) -> np.ndarray:
        raise NotImplementedError

    def similarity_np(self, inter, size_a, size_b) -> np.ndarray:
        raise NotImplementedError

    # ---- Spark columns ----------------------------------------------------
    def min_y(self, alpha: float, size: Column) -> Column:
        raise NotImplementedError

    def max_y(self, alpha: float, size: Column) -> Column:
        raise NotImplementedError

    def threshold(self, alpha: float, size_a: Column, size_b: Column) -> Column:
        raise NotImplementedError

    def similarity(self, inter: Column, size_a: Column, size_b: Column) -> Column:
        raise NotImplementedError

    # ---- DuckDB oracle SQL fragments --------------------------------------
    def threshold_sql(self, alpha: float, size_a: str, size_b: str) -> str:
        raise NotImplementedError

    def similarity_sql(self, inter: str, size_a: str, size_b: str) -> str:
        raise NotImplementedError

    def min_y_sql(self, alpha: float, size: str) -> str:
        raise NotImplementedError

    def max_y_sql(self, alpha: float, size: str) -> str:
        raise NotImplementedError


class Jaccard(Metric):
    """pkg/metric/jaccard.go:12-27."""

    def __init__(self) -> None:
        super().__init__("jaccard")

    def min_y_py(self, alpha, size):
        return int(math.ceil(alpha * float(size)))

    def max_y_py(self, alpha, size):
        return int(math.floor(float(size) / alpha))

    def threshold_py(self, alpha, size_a, size_b):
        return int(math.ceil(alpha * float(size_a + size_b) / (1 + alpha)))

    def similarity_py(self, inter, size_a, size_b):
        return float(inter) / float(size_a + size_b - inter)

    def threshold_np(self, alpha, size_a, size_b):
        return _ceil_int(alpha * _f64(_i64(size_a) + _i64(size_b)) / (1 + alpha))

    def similarity_np(self, inter, size_a, size_b):
        return _f64(inter) / _f64(_i64(size_a) + _i64(size_b) - _i64(inter))

    def min_y(self, alpha, size):
        return F.ceil(F.lit(alpha) * _dbl(size)).cast("int")

    def max_y(self, alpha, size):
        return F.floor(_dbl(size) / F.lit(alpha)).cast("int")

    def threshold(self, alpha, size_a, size_b):
        return F.ceil(F.lit(alpha) * _dbl(size_a + size_b) / F.lit(1 + alpha)).cast("int")

    def similarity(self, inter, size_a, size_b):
        return _dbl(inter) / _dbl(size_a + size_b - inter)

    def threshold_sql(self, alpha, size_a, size_b):
        return f"CAST(ceil({_sql_dbl(alpha)} * CAST({size_a} + {size_b} AS DOUBLE) / {_sql_dbl(1 + alpha)}) AS INT)"

    def similarity_sql(self, inter, size_a, size_b):
        return f"CAST({inter} AS DOUBLE) / CAST({size_a} + {size_b} - {inter} AS DOUBLE)"

    def min_y_sql(self, alpha, size):
        return f"CAST(ceil({_sql_dbl(alpha)} * CAST({size} AS DOUBLE)) AS INT)"

    def max_y_sql(self, alpha, size):
        return f"CAST(floor(CAST({size} AS DOUBLE) / {_sql_dbl(alpha)}) AS INT)"


class Cosine(Metric):
    """pkg/metric/cosine.go:12-26."""

    def __init__(self) -> None:
        super().__init__("cosine")

    def min_y_py(self, alpha, size):
        return int(math.ceil(alpha * alpha * float(size)))

    def max_y_py(self, alpha, size):
        return int(math.floor(float(size) / (alpha * alpha)))

    def threshold_py(self, alpha, size_a, size_b):
        return int(math.ceil(alpha * math.sqrt(float(size_a * size_b))))

    def similarity_py(self, inter, size_a, size_b):
        return float(inter) / math.sqrt(float(size_a * size_b))

    def threshold_np(self, alpha, size_a, size_b):
        return _ceil_int(alpha * np.sqrt(_f64(_i64(size_a) * _i64(size_b))))

    def similarity_np(self, inter, size_a, size_b):
        return _f64(inter) / np.sqrt(_f64(_i64(size_a) * _i64(size_b)))

    def min_y(self, alpha, size):
        return F.ceil(F.lit(alpha * alpha) * _dbl(size)).cast("int")

    def max_y(self, alpha, size):
        return F.floor(_dbl(size) / F.lit(alpha * alpha)).cast("int")

    def threshold(self, alpha, size_a, size_b):
        return F.ceil(F.lit(alpha) * F.sqrt(_dbl(size_a * size_b))).cast("int")

    def similarity(self, inter, size_a, size_b):
        return _dbl(inter) / F.sqrt(_dbl(size_a * size_b))

    def threshold_sql(self, alpha, size_a, size_b):
        return f"CAST(ceil({_sql_dbl(alpha)} * sqrt(CAST({size_a} * {size_b} AS DOUBLE))) AS INT)"

    def similarity_sql(self, inter, size_a, size_b):
        return f"CAST({inter} AS DOUBLE) / sqrt(CAST({size_a} * {size_b} AS DOUBLE))"

    def min_y_sql(self, alpha, size):
        return f"CAST(ceil({_sql_dbl(alpha * alpha)} * CAST({size} AS DOUBLE)) AS INT)"

    def max_y_sql(self, alpha, size):
        return f"CAST(floor(CAST({size} AS DOUBLE) / {_sql_dbl(alpha * alpha)}) AS INT)"


class Dice(Metric):
    """pkg/metric/dice.go:12-26."""

    def __init__(self) -> None:
        super().__init__("dice")

    def min_y_py(self, alpha, size):
        return int(math.ceil(alpha / (2 - alpha) * float(size)))

    def max_y_py(self, alpha, size):
        return int(math.floor((2 - alpha) / alpha * float(size)))

    def threshold_py(self, alpha, size_a, size_b):
        return int(math.ceil(0.5 * alpha * float(size_a + size_b)))

    def similarity_py(self, inter, size_a, size_b):
        return float(2 * inter) / float(size_a + size_b)

    def threshold_np(self, alpha, size_a, size_b):
        return _ceil_int(0.5 * alpha * _f64(_i64(size_a) + _i64(size_b)))

    def similarity_np(self, inter, size_a, size_b):
        return _f64(2 * _i64(inter)) / _f64(_i64(size_a) + _i64(size_b))

    def min_y(self, alpha, size):
        return F.ceil(F.lit(alpha / (2 - alpha)) * _dbl(size)).cast("int")

    def max_y(self, alpha, size):
        return F.floor(F.lit((2 - alpha) / alpha) * _dbl(size)).cast("int")

    def threshold(self, alpha, size_a, size_b):
        return F.ceil(F.lit(0.5 * alpha) * _dbl(size_a + size_b)).cast("int")

    def similarity(self, inter, size_a, size_b):
        return _dbl(inter * 2) / _dbl(size_a + size_b)

    def threshold_sql(self, alpha, size_a, size_b):
        return f"CAST(ceil({_sql_dbl(0.5 * alpha)} * CAST({size_a} + {size_b} AS DOUBLE)) AS INT)"

    def similarity_sql(self, inter, size_a, size_b):
        return f"CAST(2 * {inter} AS DOUBLE) / CAST({size_a} + {size_b} AS DOUBLE)"

    def min_y_sql(self, alpha, size):
        return f"CAST(ceil({_sql_dbl(alpha / (2 - alpha))} * CAST({size} AS DOUBLE)) AS INT)"

    def max_y_sql(self, alpha, size):
        return f"CAST(floor({_sql_dbl((2 - alpha) / alpha)} * CAST({size} AS DOUBLE)) AS INT)"


class Overlap(Metric):
    """pkg/metric/overlap.go:12-26."""

    def __init__(self) -> None:
        super().__init__("overlap")

    def min_y_py(self, alpha, size):
        return 1

    def max_y_py(self, alpha, size):
        return MAX_INT16

    def threshold_py(self, alpha, size_a, size_b):
        return int(math.ceil(alpha * min(float(size_a), float(size_b))))

    def similarity_py(self, inter, size_a, size_b):
        return float(inter) / min(float(size_a), float(size_b))

    def threshold_np(self, alpha, size_a, size_b):
        return _ceil_int(alpha * np.minimum(_f64(size_a), _f64(size_b)))

    def similarity_np(self, inter, size_a, size_b):
        return _f64(inter) / np.minimum(_f64(size_a), _f64(size_b))

    def min_y(self, alpha, size):
        return F.lit(1)

    def max_y(self, alpha, size):
        return F.lit(MAX_INT16)

    def threshold(self, alpha, size_a, size_b):
        return F.ceil(F.lit(alpha) * F.least(_dbl(size_a), _dbl(size_b))).cast("int")

    def similarity(self, inter, size_a, size_b):
        return _dbl(inter) / F.least(_dbl(size_a), _dbl(size_b))

    def threshold_sql(self, alpha, size_a, size_b):
        return f"CAST(ceil({_sql_dbl(alpha)} * least(CAST({size_a} AS DOUBLE), CAST({size_b} AS DOUBLE))) AS INT)"

    def similarity_sql(self, inter, size_a, size_b):
        return f"CAST({inter} AS DOUBLE) / least(CAST({size_a} AS DOUBLE), CAST({size_b} AS DOUBLE))"

    def min_y_sql(self, alpha, size):
        return "1"

    def max_y_sql(self, alpha, size):
        return str(MAX_INT16)


class Exact(Metric):
    """pkg/metric/exact.go:10-24 (Distance is constant 0 → similarity 1)."""

    def __init__(self) -> None:
        super().__init__("exact")

    def min_y_py(self, alpha, size):
        return size

    def max_y_py(self, alpha, size):
        return size

    def threshold_py(self, alpha, size_a, size_b):
        return size_a

    def similarity_py(self, inter, size_a, size_b):
        return 1.0

    def threshold_np(self, alpha, size_a, size_b):
        return np.full(np.broadcast(size_a, size_b).shape, size_a, dtype=np.int64)

    def similarity_np(self, inter, size_a, size_b):
        return np.ones(np.broadcast(inter, size_a, size_b).shape)

    def min_y(self, alpha, size):
        return size.cast("int")

    def max_y(self, alpha, size):
        return size.cast("int")

    def threshold(self, alpha, size_a, size_b):
        return size_a.cast("int")

    def similarity(self, inter, size_a, size_b):
        return F.lit(1.0)

    def threshold_sql(self, alpha, size_a, size_b):
        return f"CAST({size_a} AS INT)"

    def similarity_sql(self, inter, size_a, size_b):
        return "CAST(1.0 AS DOUBLE)"

    def min_y_sql(self, alpha, size):
        return f"CAST({size} AS INT)"

    def max_y_sql(self, alpha, size):
        return f"CAST({size} AS INT)"


JACCARD = Jaccard()
COSINE = Cosine()
DICE = Dice()
OVERLAP = Overlap()
EXACT = Exact()

METRICS: dict[str, Metric] = {m.name: m for m in (JACCARD, COSINE, DICE, OVERLAP, EXACT)}

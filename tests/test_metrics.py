"""Metric formula goldens (pkg/metric/*.go) incl. float64 boundary behavior."""

import math

import pytest

from suggest_spark.functions.metrics import COSINE, DICE, EXACT, JACCARD, METRICS, OVERLAP


def test_jaccard():
    # jaccard.go:12-27
    assert JACCARD.min_y_py(0.5, 9) == 5
    assert JACCARD.max_y_py(0.5, 9) == 18
    assert JACCARD.threshold_py(0.5, 9, 12) == 7  # ceil(0.5*21/1.5)=ceil(7)=7
    assert JACCARD.similarity_py(5, 9, 12) == 5 / 16


def test_cosine():
    assert COSINE.min_y_py(0.5, 12) == 3
    assert COSINE.max_y_py(0.5, 12) == 48
    assert COSINE.threshold_py(0.5, 9, 16) == 6
    assert COSINE.similarity_py(6, 9, 16) == 6 / 12.0


def test_dice():
    assert DICE.threshold_py(0.8, 10, 10) == 8
    assert DICE.similarity_py(8, 10, 10) == 0.8


def test_overlap_exact():
    assert OVERLAP.min_y_py(0.5, 100) == 1
    assert OVERLAP.max_y_py(0.5, 100) == 32767
    assert OVERLAP.threshold_py(0.5, 4, 10) == 2
    assert EXACT.threshold_py(0.9, 7, 7) == 7
    assert EXACT.similarity_py(7, 7, 7) == 1.0


@pytest.mark.parametrize("name", list(METRICS))
@pytest.mark.parametrize("alpha", [0.3, 0.4, 0.5, 0.7, 0.99])
@pytest.mark.parametrize("sa,sb", [(1, 1), (3, 7), (9, 9), (11, 40), (250, 260)])
def test_threshold_never_exceeds_trivial_bounds(name, alpha, sa, sb):
    m = METRICS[name]
    t = m.threshold_py(alpha, sa, sb)
    assert t >= 0
    # a threshold that passes the validity gate implies a reachable overlap
    if 1 <= t <= min(sa, sb):
        assert m.similarity_py(t, sa, sb) >= alpha - 1e-12


def test_spark_columns_match_python(spark):
    rows = [
        (a, sa, sb, o)
        for a in (0.4, 0.5, 0.7)
        for sa, sb in ((3, 7), (9, 12), (11, 11))
        for o in (1, 3)
    ]
    df = spark.createDataFrame(rows, "alpha double, sa int, sb int, ov int")
    import pyspark.sql.functions as F

    for name, m in METRICS.items():
        for a in (0.4, 0.5, 0.7):
            got = (
                df.where(F.col("alpha") == a)
                .select(
                    "sa",
                    "sb",
                    "ov",
                    m.threshold(a, F.col("sa"), F.col("sb")).alias("t"),
                    m.min_y(a, F.col("sa")).alias("mn"),
                    m.max_y(a, F.col("sa")).alias("mx"),
                    m.similarity(F.col("ov"), F.col("sa"), F.col("sb")).alias("s"),
                )
                .collect()
            )
            for r in got:
                assert r["t"] == m.threshold_py(a, r["sa"], r["sb"]), (name, a, r)
                assert r["mn"] == m.min_y_py(a, r["sa"]), (name, a, r)
                assert r["mx"] == m.max_y_py(a, r["sa"]), (name, a, r)
                assert math.isclose(r["s"], m.similarity_py(r["ov"], r["sa"], r["sb"]), rel_tol=0, abs_tol=0), (name, a, r)


def test_duckdb_sql_matches_python():
    import duckdb

    con = duckdb.connect()
    for name, m in METRICS.items():
        for a in (0.4, 0.5, 0.7, 0.99):
            for sa, sb, o in ((3, 7, 2), (9, 12, 5), (11, 11, 11)):
                t_sql = m.threshold_sql(a, str(sa), str(sb))
                s_sql = m.similarity_sql(str(o), str(sa), str(sb))
                mn_sql = m.min_y_sql(a, str(sa))
                mx_sql = m.max_y_sql(a, str(sa))
                t, s, mn, mx = con.sql(
                    f"SELECT {t_sql}, {s_sql}, {mn_sql}, {mx_sql}"
                ).fetchone()
                assert t == m.threshold_py(a, sa, sb), (name, a, sa, sb)
                assert s == m.similarity_py(o, sa, sb), (name, a, sa, sb)
                assert mn == m.min_y_py(a, sa)
                assert mx == m.max_y_py(a, sa)


def _np_grid():
    """(size_a, size_b) pairs: every pair in 1..64, plus sizes near
    MAX_INT16 and past √(2³¹) (46341² overflows int32)."""
    from suggest_spark.functions.metrics import MAX_INT16

    small = [(a, b) for a in range(1, 65) for b in range(1, 65)]
    big = [(MAX_INT16, MAX_INT16), (MAX_INT16 - 1, MAX_INT16), (3, MAX_INT16),
           (46341, 46341), (46341, MAX_INT16)]
    return small + big


@pytest.mark.parametrize("name", list(METRICS))
def test_numpy_forms_bit_identical_to_python(name):
    """threshold_np / similarity_np are the replica's vectorized scoring: the
    same IEEE operation order as *_py, so equality is exact (==, not
    approx), with int32 size arrays as the replica stores them."""
    import numpy as np

    m = METRICS[name]
    pairs = _np_grid()
    sa = np.array([a for a, _ in pairs], np.int32)
    sb = np.array([b for _, b in pairs], np.int32)
    for alpha in np.round(np.arange(0.1, 1.0001, 0.05), 2).tolist():
        got = m.threshold_np(alpha, sa, sb)
        want = [m.threshold_py(alpha, a, b) for a, b in pairs]
        assert got.dtype == np.int64 and got.tolist() == want, (name, alpha)
        # the replica's call shape: a Python-int query size over an array
        got = m.threshold_np(alpha, 46341, sb)
        assert got.tolist() == [m.threshold_py(alpha, 46341, b) for b in sb.tolist()]

    rows = [(o, a, b) for a, b in pairs for o in range(1, min(a, b) + 1)]
    ov, ra, rb = (np.array(c, np.int64) for c in zip(*rows))
    got = m.similarity_np(ov, ra.astype(np.int32), rb.astype(np.int32))
    want = [m.similarity_py(o, a, b) for o, a, b in rows]
    assert got.dtype == np.float64 and got.tolist() == want, name

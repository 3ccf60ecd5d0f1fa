"""The SQL-text formulas and the API-boundary checks of the pair stream."""

import pytest

from gstools_core_spark.functions import distance as D
from gstools_core_spark.functions import estimators as E
from gstools_core_spark.functions.sqltext import ORACLE
from gstools_core_spark.operators import variogram as V
from gstools_core_spark.operators.pair_join import pair_join


def test_oracle_text_is_unchanged():
    """The DuckDB oracle renders the exact text its queries always ran."""
    s = "sin(radians(a.lat - b.lat) / 2.0)"
    o = "sin(radians(a.lon - b.lon) / 2.0)"
    arg = f"least({s} * {s} + cos(radians(a.lat)) * cos(radians(b.lat)) * {o} * {o}, 1.0)"
    assert D.haversine("a.lat", "a.lon", "b.lat", "b.lon", ORACLE) == (
        f"2.0 * atan2(sqrt({arg}), sqrt(1.0 - {arg}))"
    )
    assert D.euclid(["ax", "ay"], ["bx", "by"]) == (
        "sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by))"
    )
    assert E.estimate("fd", "m") == "(fd) * (fd)"
    assert E.estimate("fd", "c") == "sqrt(abs(fd))"
    cf = "greatest(CAST(coalesce(cnt, 0) AS DOUBLE), 1.0)"
    args = ("coalesce(vsum, 0.0)", "coalesce(cnt, 0)")
    assert E.normalize(*args, "m", ORACLE) == f"coalesce(vsum, 0.0) / (2.0 * {cf})"
    r = f"(coalesce(vsum, 0.0) / {cf})"
    assert E.normalize(*args, "c", ORACLE) == (
        f"0.5 * ({r} * {r} * {r} * {r}) / (0.457 + 0.494 / {cf} + 0.045 / ({cf} * {cf}))"
    )


def test_spark_text_keeps_column_operand_order():
    """Spark text: DOUBLE literals, and a literal factor on the right."""
    assert D.haversine("a", "b", "c", "d").endswith(") * 2.0D")
    assert E.normalize("s", "n") == "s / (greatest(CAST(n AS DOUBLE), 1.0D) * 2.0D)"


def _no_jobs(spark, fn):
    sc = spark.sparkContext
    sc.setJobGroup("boundary", "boundary")
    try:
        with pytest.raises(ValueError) as e:
            fn()
    finally:
        sc.setJobGroup("", "")
    assert not sc.statusTracker().getJobIdsForGroup("boundary")
    return str(e.value)


@pytest.mark.parametrize("bad", [float("nan"), 0, 0.0, -1.0, float("inf"), True, None])
def test_pair_join_rejects_bad_max_dist(spark, bad):
    """``dist < NaN`` is true in Spark (NaN kept every pair), 0 divided by
    zero inside a task, and a negative bound silently returned nothing."""
    df = spark.createDataFrame([(0, 0.0, 0.0, 1.0), (1, 1.0, 1.0, 2.0)], "id long, lat double, lon double, val double")
    assert "max_dist" in _no_jobs(spark, lambda: pair_join(df, bad, coords=("lat", "lon")))
    assert "max_dist" in _no_jobs(
        spark, lambda: pair_join(df, bad, coords=("lat", "lon"), haversine=True)
    )


@pytest.mark.parametrize(
    "edges",
    [[0, 2, 1, 3], [0, 1, 1, 2], [], [0.0, float("nan")], [0.0, float("inf")], [-2.0, -1.0], [0.0]],
)
def test_variograms_reject_bad_bin_edges(spark, edges):
    """Unordered edges built an inverted bin next to an overlapping one,
    repeated edges an empty bin."""
    df = spark.createDataFrame([(0, 0.0, 0.0, 1.0), (1, 1.0, 1.0, 2.0)], "id long, x double, y double, val double")
    assert "bin_edges" in _no_jobs(spark, lambda: V.variogram_unstructured(df, edges))
    assert "bin_edges" in _no_jobs(
        spark, lambda: V.variogram_directional(df, edges, [(1.0, 0.0)])
    )

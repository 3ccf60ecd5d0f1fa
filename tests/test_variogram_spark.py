"""Differential tests: Spark variogram operators vs the numpy kernels
(which are themselves pinned by the reference golden vectors)."""

import math

import numpy as np
import pytest

from gstools_core_spark import kernels as K
from gstools_core_spark.operators import variogram as V

RNG = np.random.default_rng(19031977)
N = 300
POS = RNG.uniform(-10.0, 10.0, size=(2, N))
VALS = RNG.normal(0.0, 1.0, size=N)
VALS2 = RNG.normal(1.0, 2.0, size=N)
BIN_EDGES = np.linspace(0.0, 8.0, 9)


def _points_df(spark, vals=None, with_val2=False, nan_idx=()):
    v = (vals if vals is not None else VALS).copy()
    for i in nan_idx:
        v[i] = np.nan
    rows = []
    for i in range(N):
        row = [i, float(POS[0, i]), float(POS[1, i]), float(v[i])]
        if with_val2:
            row.append(float(VALS2[i]))
        rows.append(tuple(row))
    schema = "id long, x double, y double, val double" + (
        ", val2 double" if with_val2 else ""
    )
    return spark.createDataFrame(rows, schema)


def _collect_gamma(df, keys=("bin_id",)):
    rows = df.orderBy(*keys).collect()
    return (
        np.array([r["gamma"] for r in rows]),
        np.array([r["counts"] for r in rows]) if "counts" in df.columns else None,
    )


@pytest.mark.parametrize("estimator", ["m", "c"])
def test_unstructured_matches_kernel(spark, estimator):
    df = _points_df(spark)
    got = V.variogram_unstructured(df, BIN_EDGES, estimator=estimator)
    g, c = _collect_gamma(got)
    want_g, want_c = K.variogram_unstructured(VALS[None, :], BIN_EDGES, POS, estimator, "e")
    np.testing.assert_allclose(g, want_g, rtol=1e-9)
    np.testing.assert_array_equal(c, want_c)


def test_unstructured_nan_skip(spark):
    nan_idx = (3, 17, 42)
    df = _points_df(spark, nan_idx=nan_idx)
    v = VALS.copy()
    v[list(nan_idx)] = np.nan
    got = V.variogram_unstructured(df, BIN_EDGES)
    g, c = _collect_gamma(got)
    want_g, want_c = K.variogram_unstructured(v[None, :], BIN_EDGES, POS)
    np.testing.assert_allclose(g, want_g, rtol=1e-9)
    np.testing.assert_array_equal(c, want_c)


def test_unstructured_multi_field(spark):
    df = _points_df(spark, with_val2=True)
    got = V.variogram_unstructured(df, BIN_EDGES, val_cols=("val", "val2"))
    g, c = _collect_gamma(got)
    want_g, want_c = K.variogram_unstructured(
        np.vstack([VALS, VALS2]), BIN_EDGES, POS
    )
    np.testing.assert_allclose(g, want_g, rtol=1e-9)
    np.testing.assert_array_equal(c, want_c)


def test_unstructured_vals_array_column(spark):
    """Array<double> multi-field layout == column layout == kernel."""
    rows = [
        (i, float(POS[0, i]), float(POS[1, i]), [float(VALS[i]), float(VALS2[i])])
        for i in range(N)
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double, vals array<double>")
    got = V.variogram_unstructured(df, BIN_EDGES, val_cols=("vals",), vals_array=True)
    g, c = _collect_gamma(got)
    want_g, want_c = K.variogram_unstructured(np.vstack([VALS, VALS2]), BIN_EDGES, POS)
    np.testing.assert_allclose(g, want_g, rtol=1e-9)
    np.testing.assert_array_equal(c, want_c)


def test_unstructured_haversine(spark):
    lat = RNG.uniform(-60.0, 60.0, size=N)
    lon = RNG.uniform(-170.0, 170.0, size=N)
    rows = [
        (i, float(lat[i]), float(lon[i]), float(VALS[i])) for i in range(N)
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, val double")
    edges = np.linspace(0.0, 0.2, 5)  # radians
    got = V.variogram_unstructured(
        df, edges, coords=("lat", "lon"), distance="h"
    )
    g, c = _collect_gamma(got)
    want_g, want_c = K.variogram_unstructured(
        VALS[None, :], edges, np.vstack([lat, lon]), "m", "h"
    )
    np.testing.assert_allclose(g, want_g, rtol=1e-9)
    np.testing.assert_array_equal(c, want_c)


@pytest.mark.parametrize(
    "bandwidth,separate_dirs", [(-1.0, False), (1.5, False), (-1.0, True)]
)
def test_directional_matches_kernel(spark, bandwidth, separate_dirs):
    directions = [[1.0, 0.0], [math.sqrt(0.5), math.sqrt(0.5)]]
    df = _points_df(spark)
    got = V.variogram_directional(
        df,
        BIN_EDGES,
        directions,
        angles_tol=math.pi / 8.0,
        bandwidth=bandwidth,
        separate_dirs=separate_dirs,
    )
    rows = got.orderBy("dir_id", "bin_id").collect()
    g = np.array([r["gamma"] for r in rows]).reshape(2, -1)
    c = np.array([r["counts"] for r in rows]).reshape(2, -1)
    want_g, want_c = K.variogram_directional(
        VALS[None, :],
        BIN_EDGES,
        POS,
        np.array(directions),
        angles_tol=math.pi / 8.0,
        bandwidth=bandwidth,
        separate_dirs=separate_dirs,
    )
    np.testing.assert_allclose(g, want_g, rtol=1e-9)
    np.testing.assert_array_equal(c, want_c)


def test_structured_matches_kernel(spark):
    nx, ny = 12, 7
    f = RNG.normal(size=(nx, ny))
    rows = [
        (i, j, float(f[i, j])) for i in range(nx) for j in range(ny)
    ]
    df = spark.createDataFrame(rows, "i long, j long, val double")
    got = V.variogram_structured(df)
    g = np.array([r["gamma"] for r in got.orderBy("lag").collect()])
    want = K.variogram_structured(f)
    np.testing.assert_allclose(g, want, rtol=1e-9)

    got_fast = V.variogram_structured_fast(df)
    g_fast = np.array([r["gamma"] for r in got_fast.orderBy("lag").collect()])
    np.testing.assert_allclose(g_fast, want, rtol=1e-9)


def test_structured_masked_matches_kernel(spark):
    nx, ny = 10, 5
    f = RNG.normal(size=(nx, ny))
    mask = RNG.uniform(size=(nx, ny)) < 0.3
    rows = [
        (i, j, float(f[i, j]), bool(mask[i, j]))
        for i in range(nx)
        for j in range(ny)
    ]
    df = spark.createDataFrame(rows, "i long, j long, val double, masked boolean")
    want = K.variogram_ma_structured(f, mask)

    got = V.variogram_structured(df, mask_col="masked")
    g = np.array([r["gamma"] for r in got.orderBy("lag").collect()])
    np.testing.assert_allclose(g, want, rtol=1e-9)

    got_fast = V.variogram_structured_fast(df, mask_col="masked")
    g_fast = np.array([r["gamma"] for r in got_fast.orderBy("lag").collect()])
    np.testing.assert_allclose(g_fast, want, rtol=1e-9)


def test_unstructured_3d_matches_kernel(spark):
    """3-D points: the 2-D blocking grid is a (correct) superset prefilter —
    any pair within max_dist is within the xy-ring; z only enters the exact
    distance (reference supports arbitrary dims, variogram.rs:92-103)."""
    rng = np.random.default_rng(21)
    pos3 = rng.uniform(-5.0, 5.0, size=(3, 150))
    vals = rng.normal(size=150)
    rows = [
        (i, float(pos3[0, i]), float(pos3[1, i]), float(pos3[2, i]), float(vals[i]))
        for i in range(150)
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double, z double, val double")
    edges = np.linspace(0.0, 4.0, 5)
    got = V.variogram_unstructured(df, edges, coords=("x", "y", "z"))
    g, c = _collect_gamma(got)
    want_g, want_c = K.variogram_unstructured(vals[None, :], edges, pos3)
    np.testing.assert_allclose(g, want_g, rtol=1e-9)
    np.testing.assert_array_equal(c, want_c)


def test_variogram_degenerate_inputs(spark):
    edges = [0.0, 1.0, 2.0]
    # single point: no pairs → dense zero bins (reference count==0 guard)
    one = spark.createDataFrame([(0, 1.0, 1.0, 5.0)], "id long, x double, y double, val double")
    rows = V.variogram_unstructured(one, edges).orderBy("bin_id").collect()
    assert [r["gamma"] for r in rows] == [0.0, 0.0]
    assert [r["counts"] for r in rows] == [0, 0]

    # coincident points: dist=0 pairs land in bin 0 with zero diff
    same = spark.createDataFrame(
        [(i, 2.0, 2.0, 3.0) for i in range(4)], "id long, x double, y double, val double"
    )
    rows = V.variogram_unstructured(same, edges).orderBy("bin_id").collect()
    assert rows[0]["counts"] == 6 and rows[0]["gamma"] == 0.0

    # one edge: no bins → empty output with the usual schema
    out = V.variogram_unstructured(same, [1.0])
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<bin_id:bigint,lo:double,hi:double,gamma:double,counts:bigint>"
    )


def test_pair_join_exact_pairs(spark):
    """Blocked pair join returns exactly the pairs within max_dist."""
    from gstools_core_spark.operators.pair_join import pair_join

    df = _points_df(spark)
    max_dist = 3.0
    pairs = pair_join(df, max_dist).select("a_id", "b_id").collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    ii, jj = np.triu_indices(N, k=1)
    d = np.sqrt(np.sum((POS[:, ii] - POS[:, jj]) ** 2, axis=0))
    want = {(int(a), int(b)) for a, b in zip(ii[d < max_dist], jj[d < max_dist])}
    assert got == want

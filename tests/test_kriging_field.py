"""Kriging + field summation: Spark paths vs local numpy references."""

import numpy as np

from gstools_core_spark import kernels as K
from gstools_core_spark.operators.field import summate_field
from gstools_core_spark.operators.kriging import GaussianModel, krige

RNG = np.random.default_rng(19031977)


def _df(spark, ids, x, y, val=None):
    if val is None:
        rows = [(int(i), float(a), float(b)) for i, a, b in zip(ids, x, y)]
        return spark.createDataFrame(rows, "id long, x double, y double")
    rows = [
        (int(i), float(a), float(b), float(v)) for i, a, b, v in zip(ids, x, y, val)
    ]
    return spark.createDataFrame(rows, "id long, x double, y double, val double")


def _local_krige(model, method, mean, tx, ty, cx, cy, cv, radius):
    """Driver-side reference: for each target, use cond points from the 3x3
    cell ring (same neighborhood definition as the Spark op)."""
    out_mean = np.empty(len(tx))
    out_var = np.empty(len(tx))
    tcx = np.floor(tx / radius).astype(np.int64)
    tcy = np.floor(ty / radius).astype(np.int64)
    ccx = np.floor(cx / radius).astype(np.int64)
    ccy = np.floor(cy / radius).astype(np.int64)
    for t in range(len(tx)):
        sel = (np.abs(ccx - tcx[t]) <= 1) & (np.abs(ccy - tcy[t]) <= 1)
        if not sel.any():
            out_mean[t], out_var[t] = mean, model.sill
            continue
        sx, sy, sv = cx[sel], cy[sel], cv[sel]
        nc = len(sx)
        C = model.cov(
            np.hypot(sx[:, None] - sx[None, :], sy[:, None] - sy[None, :])
        ) + model.nugget * np.eye(nc)
        V = model.cov(np.hypot(sx - tx[t], sy - ty[t]))[:, None]
        if method == "simple":
            M = np.linalg.inv(C)
            f, e = K.calc_field_krige_and_variance(M, V, sv - mean)
            out_mean[t] = f[0] + mean
            out_var[t] = max(model.sill - e[0], 0.0)
        else:
            A = np.empty((nc + 1, nc + 1))
            A[:nc, :nc] = C
            A[nc, :] = 1.0
            A[:, nc] = 1.0
            A[nc, nc] = 0.0
            B = np.vstack([V, [[1.0]]])
            W = np.linalg.solve(A, B)
            out_mean[t] = W[:nc, 0] @ sv
            out_var[t] = max(model.sill - W[:nc, 0] @ V[:, 0] - W[nc, 0], 0.0)
    return out_mean, out_var


def test_krige_simple_and_ordinary(spark):
    n_cond, n_targ = 60, 80
    cx = RNG.uniform(-10, 10, n_cond)
    cy = RNG.uniform(-10, 10, n_cond)
    cv = np.sin(cx * 0.3) + np.cos(cy * 0.2) + RNG.normal(0, 0.1, n_cond)
    tx = RNG.uniform(-10, 10, n_targ)
    ty = RNG.uniform(-10, 10, n_targ)

    cond = _df(spark, range(n_cond), cx, cy, cv)
    targets = _df(spark, range(n_targ), tx, ty)
    model = GaussianModel(var=1.0, len_scale=3.0, nugget=0.01)

    for method, mean in [("simple", 0.5), ("ordinary", 0.0)]:
        got = (
            krige(targets, cond, model, radius=5.0, method=method, mean=mean)
            .orderBy("id")
            .toPandas()
        )
        want_mean, want_var = _local_krige(
            model, method, mean, tx, ty, cx, cy, cv, radius=5.0
        )
        np.testing.assert_allclose(got["krige_mean"], want_mean, rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(got["krige_var"], want_var, rtol=1e-8, atol=1e-10)


def _local_krige_knn(model, method, mean, tx, ty, cx, cy, cv, radius, k):
    """Brute-force moving-window reference: per target, the k nearest
    in-radius cond points (ties by (x, y) ascending), one bordered solve;
    the prior when no point is in reach or fewer than the drift functions."""
    out_mean = np.empty(len(tx))
    out_var = np.empty(len(tx))
    for t in range(len(tx)):
        dist = np.sqrt((cx - tx[t]) ** 2 + (cy - ty[t]) ** 2)
        cand = np.nonzero(dist <= radius)[0]
        if len(cand) == 0:
            out_mean[t], out_var[t] = mean, model.sill
            continue
        order = np.lexsort((cy[cand], cx[cand], dist[cand]))[:k]
        idx = cand[order]
        sx, sy, sv = cx[idx], cy[idx], cv[idx]
        nc = len(idx)
        C = model.cov(
            np.hypot(sx[:, None] - sx[None, :], sy[:, None] - sy[None, :])
        ) + model.nugget * np.eye(nc)
        V = model.cov(np.hypot(sx - tx[t], sy - ty[t]))
        if method == "simple":
            w = np.linalg.solve(C, V)
            out_mean[t] = w @ (sv - mean) + mean
            out_var[t] = max(model.sill - w @ V, 0.0)
        else:
            drift = [np.ones(nc)]
            driftT = [np.ones(1)]
            if method == "universal":
                drift += [sx, sy]
                driftT += [np.array([tx[t]]), np.array([ty[t]])]
            Fd = np.stack(drift)
            Ft = np.stack(driftT)[:, 0]
            nd = Fd.shape[0]
            if nc < nd:  # underdetermined drift: the prior
                out_mean[t], out_var[t] = mean, model.sill
                continue
            A = np.zeros((nc + nd, nc + nd))
            A[:nc, :nc] = C
            A[nc:, :nc] = Fd
            A[:nc, nc:] = Fd.T
            B = np.concatenate([V, Ft])
            try:
                W = np.linalg.solve(A, B)
            except np.linalg.LinAlgError:
                W = np.linalg.lstsq(A, B, rcond=None)[0]
            out_mean[t] = W[:nc] @ sv
            out_var[t] = max(model.sill - W[:nc] @ V - W[nc:] @ Ft, 0.0)
    return out_mean, out_var


def test_krige_knn_matches_bruteforce(spark):
    n_cond, n_targ = 60, 80
    cx = RNG.uniform(-10, 10, n_cond)
    cy = RNG.uniform(-10, 10, n_cond)
    cv = np.sin(cx * 0.3) + np.cos(cy * 0.2) + RNG.normal(0, 0.1, n_cond)
    tx = RNG.uniform(-10, 10, n_targ)
    ty = RNG.uniform(-10, 10, n_targ)
    cond = _df(spark, range(n_cond), cx, cy, cv)
    targets = _df(spark, range(n_targ), tx, ty)
    model = GaussianModel(var=1.0, len_scale=3.0, nugget=0.01)

    for method, mean in [("simple", 0.5), ("ordinary", 0.0), ("universal", 0.0)]:
        got = (
            krige(targets, cond, model, radius=5.0, method=method, mean=mean, knn=8)
            .orderBy("id")
            .toPandas()
        )
        want_mean, want_var = _local_krige_knn(
            model, method, mean, tx, ty, cx, cy, cv, radius=5.0, k=8
        )
        np.testing.assert_allclose(got["krige_mean"], want_mean, rtol=1e-8, atol=1e-10)
        np.testing.assert_allclose(got["krige_var"], want_var, rtol=1e-8, atol=1e-10)
        assert (got["n_cond"] <= 8).all() and (got["n_cond"] > 0).any()


def test_krige_haversine_knn_matches_bruteforce(spark):
    """Moving-window kriging ON THE SPHERE: global point set with clusters
    straddling the antimeridian; the wrapped-lon blocking must keep ±180°
    neighborhoods intact, and every neighborhood solve must agree with a
    brute-force haversine reference."""
    from gstools_core_spark import kernels as K

    rng = np.random.default_rng(5)
    n_cond, n_targ = 50, 60
    clat = rng.uniform(-60, 60, n_cond)
    clon = rng.uniform(-175, 175, n_cond)
    clat[:6] = rng.uniform(-5, 5, 6)
    clon[:3] = rng.uniform(179.0, 180.0, 3)  # seam cluster, east side
    clon[3:6] = rng.uniform(-180.0, -179.0, 3)  # seam cluster, west side
    cv = np.sin(np.radians(clat)) + 0.5 * np.cos(np.radians(clon))
    tlat = rng.uniform(-60, 60, n_targ)
    tlon = rng.uniform(-175, 175, n_targ)
    tlat[:4] = rng.uniform(-5, 5, 4)
    tlon[:2], tlon[2:4] = 179.6, -179.6

    def df(ids, lat, lon, val=None):
        if val is None:
            rows = [(int(i), float(a), float(b)) for i, a, b in zip(ids, lat, lon)]
            return spark.createDataFrame(rows, "id long, lat double, lon double")
        rows = [
            (int(i), float(a), float(b), float(v))
            for i, a, b, v in zip(ids, lat, lon, val)
        ]
        return spark.createDataFrame(rows, "id long, lat double, lon double, val double")

    radius, k = 0.05, 6  # central angle radians (~2.9 deg)
    model = GaussianModel(var=1.0, len_scale=0.05, nugget=0.01)
    got = (
        krige(
            df(range(n_targ), tlat, tlon),
            df(range(n_cond), clat, clon, cv),
            model,
            radius=radius,
            method="ordinary",
            coords=("lat", "lon"),
            knn=k,
            haversine=True,
        )
        .orderBy("id")
        .toPandas()
    )

    def hav(alat, alon, blat, blon):
        return float(
            K.haversine_dist(
                np.array([[alat], [alon]]), np.array([[blat], [blon]])
            )[0]
        )

    seam_ok = False
    for t in range(n_targ):
        dist = np.array([hav(tlat[t], tlon[t], clat[j], clon[j]) for j in range(n_cond)])
        cand = np.nonzero(dist <= radius)[0]
        if len(cand) == 0:
            assert got.loc[t, "n_cond"] == 0
            assert got.loc[t, "krige_mean"] == 0.0
            continue
        idx = cand[np.lexsort((clon[cand], clat[cand], dist[cand]))[:k]]
        lons = clon[idx]
        if lons.size > 1 and lons.max() > 170 and lons.min() < -170:
            seam_ok = True  # a neighborhood truly crosses the antimeridian
        nc = len(idx)
        D = np.array(
            [[hav(clat[i], clon[i], clat[j], clon[j]) for j in idx] for i in idx]
        )
        C = model.cov(D) + model.nugget * np.eye(nc)
        V = np.array([hav(clat[i], clon[i], tlat[t], tlon[t]) for i in idx])
        V = model.cov(V)
        A = np.zeros((nc + 1, nc + 1))
        A[:nc, :nc] = C
        A[nc, :nc] = 1.0
        A[:nc, nc] = 1.0
        B = np.concatenate([V, [1.0]])
        W = np.linalg.solve(A, B)
        want_mean = W[:nc] @ cv[idx]
        want_var = max(model.sill - W[:nc] @ V - W[nc], 0.0)
        assert got.loc[t, "n_cond"] == nc
        np.testing.assert_allclose(got.loc[t, "krige_mean"], want_mean, rtol=1e-8)
        np.testing.assert_allclose(got.loc[t, "krige_var"], want_var, rtol=1e-8, atol=1e-12)
    assert seam_ok, "test construction must exercise an antimeridian neighborhood"


def test_krige_knn_tie_break_and_exactness(spark):
    # two cond points exactly equidistant from the target: k=1 must pick the
    # coordinate-ascending one regardless of shuffle order
    cond = _df(spark, [0, 1], [1.0, -1.0], [0.0, 0.0], [10.0, 20.0])
    targets = _df(spark, [0, 1], [0.0, -1.0], [0.0, 0.0])
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.0)
    got = {
        r["id"]: r
        for r in krige(
            targets, cond, model, radius=3.0, method="ordinary", knn=1
        ).collect()
    }
    assert got[0]["krige_mean"] == 20.0  # tie broken toward x=-1
    # exact interpolation at a conditioning location with zero nugget
    assert abs(got[1]["krige_mean"] - 20.0) < 1e-10
    assert got[1]["krige_var"] < 1e-10


def test_krige_ked_knn_arrival_order_invariant(spark):
    """External-drift kriging on the knn path is a pure function of the
    cond SET: two cond rows tying on (x, y, val) but differing in the
    drift column sort by it, not by shuffle arrival.  Before the drift
    columns joined the knn canonical order, knn=1 picked whichever tied
    row arrived first (krige_mean 2.0 vs 0.269) and knn=2/3 permuted the
    bordered system, shifting the variances by ulps."""
    rows = [
        (0, 0.5, 0.5, 0.0, 1.0),
        (1, 0.5, 0.5, 2.0, 1.0),
        (2, 0.9, 0.1, 1.0, 0.5),
        (3, 0.2, 0.8, -1.0, 2.0),
    ]
    schema = "id long, x double, y double, elev double, val double"
    targets = spark.createDataFrame(
        [(10, 0.55, 0.45, 1.0), (11, 0.4, 0.6, -0.5)],
        "id long, x double, y double, elev double",
    )
    model = GaussianModel(var=1.0, len_scale=1.0, nugget=0.05)
    for knn in (1, 2, 3):
        got = []
        for order in (rows, rows[::-1]):
            cond = spark.createDataFrame(order, schema).coalesce(1)
            out = krige(
                targets, cond, model, radius=2.0, method="ordinary",
                drift_cols=("elev",), knn=knn, group_cells=1,
            )
            got.append(sorted(tuple(r) for r in out.collect()))
        assert got[0] == got[1], knn


def test_krige_empty_neighborhood_prior(spark):
    cond = _df(spark, [0], [100.0], [100.0], [5.0])
    targets = _df(spark, [0], [0.0], [0.0])
    model = GaussianModel(var=2.0, len_scale=1.0, nugget=0.5)
    got = krige(targets, cond, model, radius=1.0, method="ordinary").collect()[0]
    assert got["n_cond"] == 0
    assert got["krige_mean"] == 0.0
    assert got["krige_var"] == model.sill


COV_SAMPLES_2D = RNG.normal(size=(2, 50))
Z1 = RNG.normal(size=50)
Z2 = RNG.normal(size=50)
SF = np.abs(RNG.normal(size=50))


def test_summate_field_variants(spark):
    n = 200
    x = RNG.uniform(-5, 5, n)
    y = RNG.uniform(-5, 5, n)
    pts = _df(spark, range(n), x, y)
    pos = np.vstack([x, y])

    got = summate_field(pts, COV_SAMPLES_2D, Z1, Z2).orderBy("id").toPandas()
    np.testing.assert_allclose(
        got["u"], K.summate(COV_SAMPLES_2D, Z1, Z2, pos), rtol=1e-12
    )

    got_f = (
        summate_field(pts, COV_SAMPLES_2D, Z1, Z2, variant="fourier", spectrum_factor=SF)
        .orderBy("id")
        .toPandas()
    )
    np.testing.assert_allclose(
        got_f["u"], K.summate_fourier(SF, COV_SAMPLES_2D, Z1, Z2, pos), rtol=1e-12
    )

    got_i = (
        summate_field(pts, COV_SAMPLES_2D, Z1, Z2, variant="incompr")
        .orderBy("id")
        .toPandas()
    )
    want = K.summate_incompr(COV_SAMPLES_2D, Z1, Z2, pos)
    np.testing.assert_allclose(got_i["u_0"], want[0], rtol=1e-12)
    np.testing.assert_allclose(got_i["u_1"], want[1], rtol=1e-12)


def test_krige_universal_reproduces_drift(spark):
    """Universal kriging is exact on functions inside its drift space: with
    conditioning values lying on a plane v = a + b·x + c·y, the predictor
    returns the plane at every target (ordinary kriging does not — it pulls
    toward the local mean)."""
    a, b, c = 2.0, 0.7, -1.3
    rng = np.random.default_rng(5)
    cx = rng.uniform(0, 4, 40)
    cy = rng.uniform(0, 4, 40)
    cv = a + b * cx + c * cy
    tx = rng.uniform(0.5, 3.5, 25)
    ty = rng.uniform(0.5, 3.5, 25)
    cond = _df(spark, np.arange(40) + 1000, cx, cy, cv)
    targets = _df(spark, np.arange(25), tx, ty)
    model = GaussianModel(var=1.0, len_scale=1.5, nugget=0.0)

    uni = krige(targets, cond, model, radius=4.0, method="universal", drift_order=1)
    got = {r["id"]: r["krige_mean"] for r in uni.collect()}
    want = a + b * tx + c * ty
    for i in range(25):
        assert abs(got[i] - want[i]) < 1e-6, (i, got[i], want[i])

    # ordinary kriging on the same trend field is visibly biased off-plane
    ordn = krige(targets, cond, model, radius=4.0, method="ordinary")
    got_o = {r["id"]: r["krige_mean"] for r in ordn.collect()}
    max_err_o = max(abs(got_o[i] - want[i]) for i in range(25))
    assert max_err_o > 1e-3, max_err_o


def test_krige_quadratic_drift(spark):
    """drift_order=2 reproduces a quadratic surface exactly."""
    rng = np.random.default_rng(6)
    cx = rng.uniform(0, 3, 60)
    cy = rng.uniform(0, 3, 60)
    cv = 1.0 + 0.5 * cx - 0.25 * cy + 0.1 * cx * cx - 0.2 * cx * cy + 0.3 * cy * cy
    tx = rng.uniform(0.5, 2.5, 15)
    ty = rng.uniform(0.5, 2.5, 15)
    cond = _df(spark, np.arange(60) + 1000, cx, cy, cv)
    targets = _df(spark, np.arange(15), tx, ty)
    model = GaussianModel(var=1.0, len_scale=1.0, nugget=0.0)
    uni = krige(targets, cond, model, radius=3.0, method="universal", drift_order=2)
    got = {r["id"]: r["krige_mean"] for r in uni.collect()}
    want = 1.0 + 0.5 * tx - 0.25 * ty + 0.1 * tx * tx - 0.2 * tx * ty + 0.3 * ty * ty
    for i in range(15):
        assert abs(got[i] - want[i]) < 1e-5, (i, got[i], want[i])


def test_krige_model_zoo_exact_interpolation(spark):
    """Every covariance model: with nugget=0, ordinary kriging at a
    conditioning LOCATION reproduces the conditioning VALUE (exact
    interpolation) with near-zero kriging variance."""
    from gstools_core_spark.functions.models import (
        Exponential, Gaussian, Matern, Spherical, Stable,
    )

    rng = np.random.default_rng(11)
    cx = rng.uniform(0, 4, 30)
    cy = rng.uniform(0, 4, 30)
    cv = rng.normal(size=30)
    cond = _df(spark, np.arange(30) + 1000, cx, cy, cv)
    # targets AT the first 8 conditioning locations
    targets = _df(spark, np.arange(8), cx[:8], cy[:8])

    models = [
        Gaussian(var=1.0, len_scale=1.5),
        Exponential(var=2.0, len_scale=1.0),
        Spherical(var=1.0, len_scale=3.0),
        Matern(var=1.0, len_scale=1.0, nu=1.5),
        Matern(var=1.0, len_scale=1.0, nu=2.5),
        Stable(var=1.0, len_scale=1.0, alpha=1.2),
    ]
    for model in models:
        out = krige(targets, cond, model, radius=4.0, method="ordinary")
        got = {r["id"]: (r["krige_mean"], r["krige_var"]) for r in out.collect()}
        for i in range(8):
            m, v = got[i]
            assert abs(m - cv[i]) < 1e-7, (type(model).__name__, i, m, cv[i])
            assert v < 1e-6, (type(model).__name__, i, v)


def test_isotropize_matches_numpy_transform(spark):
    """Anisotropy path: variogram on isotropized Spark coords == numpy
    kernel variogram on the manually transformed cloud."""
    import math

    from gstools_core_spark import kernels as K
    from gstools_core_spark.functions.models import isotropize
    from gstools_core_spark.operators.variogram import variogram_unstructured

    rng = np.random.default_rng(21)
    n = 300
    x = rng.uniform(-5, 5, n)
    y = rng.uniform(-5, 5, n)
    val = rng.normal(size=n)
    angle, anis = math.pi / 6, 0.5
    df = _df(spark, np.arange(n), x, y, val)

    iso = isotropize(df, angle=angle, anis=anis)
    edges = [0.0, 1.0, 2.0, 3.0, 4.0]
    got = {
        r["bin_id"]: (r["gamma"], r["counts"])
        for r in variogram_unstructured(iso, edges).collect()
    }

    c, s = math.cos(angle), math.sin(angle)
    xp = x * c + y * s
    yp = (-x * s + y * c) / anis
    pos = np.stack([xp, yp])
    gamma, counts = K.variogram_unstructured(
        val.reshape(1, -1), np.array(edges), pos, estimator="m"
    )
    for b in range(len(edges) - 1):
        assert got[b][1] == int(counts[b])
        assert abs(got[b][0] - gamma[b]) < 1e-9


def test_fit_variogram_recovers_model():
    """Driver-side fit: synthetic empirical variogram from a known model
    (+ tiny noise) recovers (var, len_scale, nugget)."""
    from gstools_core_spark.functions.models import Exponential, Gaussian
    from gstools_core_spark.operators.fit import fit_variogram

    rng = np.random.default_rng(3)
    for cls, kw, true in [
        (Exponential, {}, dict(var=2.0, len_scale=1.5, nugget=0.1)),
        (Gaussian, {}, dict(var=1.0, len_scale=2.0, nugget=0.0)),
    ]:
        m = cls(**true, **kw)
        h = np.linspace(0.2, 8.0, 25)
        gamma = m.nugget + m.var * (1.0 - m.cor(h / m.len_scale))
        gamma = gamma * (1.0 + 0.005 * rng.normal(size=len(h)))
        counts = np.full(len(h), 1000.0)
        fit = fit_variogram((h, gamma, counts), cls, **kw)
        assert abs(fit.var - true["var"]) / true["var"] < 0.1, (cls.__name__, fit.var)
        assert abs(fit.len_scale - true["len_scale"]) / true["len_scale"] < 0.15
        assert abs(fit.nugget - true["nugget"]) < 0.1


def test_fit_variogram_from_spark_output(spark):
    """End-to-end estimate→fit: the fitted sill tracks the field variance."""
    from pyspark.sql import functions as F

    from gstools_core_spark.functions.models import Exponential
    from gstools_core_spark.operators.fit import fit_variogram
    from gstools_core_spark.operators.variogram import variogram_unstructured

    rng = np.random.default_rng(4)
    n = 400
    x = rng.uniform(0, 10, n)
    y = rng.uniform(0, 10, n)
    val = np.sin(x) + 0.3 * rng.normal(size=n)  # correlated + noise
    df = _df(spark, np.arange(n), x, y, val)
    edges = [0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0]
    vario = variogram_unstructured(df, edges)
    fit = fit_variogram(vario, Exponential)
    # goodness of fit: count-weighted relative RMSE of the fitted curve
    # (the field is a sinusoid — an Exponential can track it only roughly,
    # especially in the sparse first bin, so assert the aggregate fit)
    rows = vario.where(F.col("counts") > 0).collect()
    num = den = 0.0
    for r in rows:
        h = (r["lo"] + r["hi"]) / 2.0
        pred = fit.nugget + fit.var * (1.0 - fit.cor(h / fit.len_scale))
        num += r["counts"] * (pred - r["gamma"]) ** 2
        den += r["counts"] * r["gamma"] ** 2
    assert (num / den) ** 0.5 < 0.25, (num / den) ** 0.5
    assert fit.var > 0.0 and fit.len_scale > 0.0


def test_conditional_field_honors_data(spark):
    """Conditional simulation equals the conditioning values AT the
    conditioning locations and stays finite elsewhere."""
    from gstools_core_spark.functions.models import Gaussian
    from gstools_core_spark.operators.fit import conditional_field

    rng = np.random.default_rng(9)
    n_modes = 64
    modes = rng.normal(size=(2, n_modes))
    z1 = rng.normal(size=n_modes)
    z2 = rng.normal(size=n_modes)

    cx = rng.uniform(0, 4, 25)
    cy = rng.uniform(0, 4, 25)
    cv = rng.normal(size=25)
    cond = _df(spark, np.arange(25) + 1000, cx, cy, cv)
    # targets: the conditioning locations plus fresh ones
    tx = np.concatenate([cx[:10], rng.uniform(0.5, 3.5, 15)])
    ty = np.concatenate([cy[:10], rng.uniform(0.5, 3.5, 15)])
    targets = _df(spark, np.arange(25), tx, ty)

    model = Gaussian(var=1.0, len_scale=1.5, nugget=0.0)
    out = conditional_field(
        targets, cond, model, modes, z1, z2, radius=4.0
    )
    got = {r["id"]: r["cond_field"] for r in out.collect()}
    assert len(got) == 25
    for i in range(10):  # at data locations: exact
        assert abs(got[i] - cv[i]) < 1e-6, (i, got[i], cv[i])
    for i in range(10, 25):
        assert np.isfinite(got[i])


def test_krige_3d_exact_interpolation(spark):
    """Any-dim contract: 3-D ordinary kriging (3^3 ring blocking)
    reproduces conditioning values at conditioning locations."""
    from gstools_core_spark.functions.models import Gaussian

    rng = np.random.default_rng(13)
    n = 40
    cx, cy, cz = (rng.uniform(0, 4, n) for _ in range(3))
    cv = rng.normal(size=n)
    cond_rows = [
        (int(i + 1000), float(cx[i]), float(cy[i]), float(cz[i]), float(cv[i]))
        for i in range(n)
    ]
    cond = spark.createDataFrame(
        cond_rows, "id long, x double, y double, z double, val double"
    )
    t_rows = [
        (int(i), float(cx[i]), float(cy[i]), float(cz[i])) for i in range(8)
    ]
    targets = spark.createDataFrame(t_rows, "id long, x double, y double, z double")

    model = Gaussian(var=1.0, len_scale=2.0, nugget=0.0)
    out = krige(
        targets, cond, model, radius=4.0, method="ordinary",
        coords=("x", "y", "z"),
    )
    got = {r["id"]: (r["krige_mean"], r["krige_var"], r["n_cond"]) for r in out.collect()}
    assert len(got) == 8
    for i in range(8):
        m, v, nc = got[i]
        assert nc == n  # all cond in the single 4.0-cell ring
        assert abs(m - cv[i]) < 1e-7, (i, m, cv[i])
        assert v < 1e-6


def test_summate_field_3d(spark):
    """Any-dim field summation through Spark == the numpy kernel in 3-D
    (scalar + incompressible; field.rs is dimension-generic for scalar,
    2/3-D for incompr)."""
    n, nm = 150, 30
    rng = np.random.default_rng(15)
    x, y, z = (rng.uniform(-5, 5, n) for _ in range(3))
    rows = [(int(i), float(x[i]), float(y[i]), float(z[i])) for i in range(n)]
    pts = spark.createDataFrame(rows, "id long, x double, y double, z double")
    modes = rng.normal(size=(3, nm))
    z1 = rng.normal(size=nm)
    z2 = rng.normal(size=nm)
    pos = np.vstack([x, y, z])

    got = (
        summate_field(pts, modes, z1, z2, coords=("x", "y", "z"))
        .orderBy("id")
        .toPandas()
    )
    np.testing.assert_allclose(got["u"], K.summate(modes, z1, z2, pos), rtol=1e-12)

    got_i = (
        summate_field(pts, modes, z1, z2, coords=("x", "y", "z"), variant="incompr")
        .orderBy("id")
        .toPandas()
    )
    want = K.summate_incompr(modes, z1, z2, pos)
    for k in range(3):
        np.testing.assert_allclose(got_i[f"u_{k}"], want[k], rtol=1e-12)


def test_krige_external_drift_reproduces_covariate(spark):
    """External-drift kriging (KED): with conditioning values lying exactly
    on v = a + b·elev (elev an external covariate uncorrelated with the
    coordinates), the KED predictor returns a + b·elev(target) at every
    target — drift-space exactness over the caller-supplied basis.
    Ordinary kriging on the same field cannot (it never sees elev).
    Checked on BOTH solve paths (shared-cell and knn moving-window)."""
    from pyspark.sql import functions as F

    a, b = 3.0, 0.5
    rng = np.random.default_rng(11)
    cx, cy = rng.uniform(0, 4, 50), rng.uniform(0, 4, 50)
    ce = rng.uniform(-2, 2, 50)
    cv = a + b * ce
    tx, ty = rng.uniform(0.5, 3.5, 20), rng.uniform(0.5, 3.5, 20)
    te = rng.uniform(-2, 2, 20)

    cond = spark.createDataFrame(
        [(int(i) + 1000, float(x), float(y), float(e), float(v))
         for i, x, y, e, v in zip(range(50), cx, cy, ce, cv)],
        "id long, x double, y double, elev double, val double",
    )
    targets = spark.createDataFrame(
        [(int(i), float(x), float(y), float(e))
         for i, x, y, e in zip(range(20), tx, ty, te)],
        "id long, x double, y double, elev double",
    )
    model = GaussianModel(var=1.0, len_scale=1.5, nugget=0.0)
    want = a + b * te

    ked = krige(
        targets, cond, model, radius=4.0, method="ordinary", drift_cols=("elev",)
    )
    got = {r["id"]: r["krige_mean"] for r in ked.collect()}
    for i in range(20):
        assert abs(got[i] - want[i]) < 1e-6, (i, got[i], want[i])

    ked_knn = krige(
        targets, cond, model, radius=4.0, method="ordinary",
        drift_cols=("elev",), knn=8,
    )
    got_k = {r["id"]: r["krige_mean"] for r in ked_knn.collect()}
    for i in range(20):
        assert abs(got_k[i] - want[i]) < 1e-6, (i, got_k[i], want[i])

    # ordinary kriging without the covariate is visibly off the drift
    ordn = krige(targets, cond, model, radius=4.0, method="ordinary")
    got_o = {r["id"]: r["krige_mean"] for r in ordn.collect()}
    assert max(abs(got_o[i] - want[i]) for i in range(20)) > 1e-3

    # KED composes with universal monomials: v = plane(x, y) + b·elev
    cv2 = 1.0 + 0.3 * cx - 0.2 * cy + b * ce
    cond2 = spark.createDataFrame(
        [(int(i) + 1000, float(x), float(y), float(e), float(v))
         for i, x, y, e, v in zip(range(50), cx, cy, ce, cv2)],
        "id long, x double, y double, elev double, val double",
    )
    uni = krige(
        targets, cond2, model, radius=4.0, method="universal",
        drift_order=1, drift_cols=("elev",),
    )
    want2 = 1.0 + 0.3 * tx - 0.2 * ty + b * te
    got_u = {r["id"]: r["krige_mean"] for r in uni.collect()}
    for i in range(20):
        assert abs(got_u[i] - want2[i]) < 1e-6, (i, got_u[i], want2[i])

    # simple kriging rejects external drift
    import pytest

    with pytest.raises(ValueError, match="external drift"):
        krige(targets, cond, model, radius=4.0, method="simple",
              drift_cols=("elev",))

    # bad arguments fail at the API boundary, naming the parameter, before
    # any Spark job runs (knn=0 / max_cond=0 used to krige every target to
    # the prior; 'Auto' strings failed deep inside int() or a Spark job)
    sc = spark.sparkContext
    sc.setJobGroup("krige-bad-args", "krige-bad-args")
    try:
        for name, bad in [
            ("knn", 0), ("knn", 2.5), ("max_cond", 0), ("max_cond", None),
            ("salt_hot", 1), ("salt_hot", 0), ("hot_threshold", "Auto"),
            ("hot_threshold", -1), ("group_cells", "Auto"),
            ("group_cells", 0), ("radius", 0.0), ("radius", float("nan")),
            ("radius", float("inf")), ("radius", -1.0),
            ("drift_order", 3), ("drift_order", -1), ("drift_order", 1.5),
        ]:
            kw = {"radius": 4.0, name: bad}
            with pytest.raises(ValueError, match=name):
                krige(targets, cond, model, **kw)
        assert len(sc.statusTracker().getJobIdsForGroup("krige-bad-args")) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_full_size_universal_and_geo_query_functions(spark, sf_dir):
    """The unregistered full-size query functions (q_krige_universal,
    q_krige_geo — the API/bench-shaped variants whose gate coverage lives
    in their hash-checked small twins) must keep running end-to-end: an
    unexercised query function rots silently."""
    from gstools_core_spark.queries import q_krige_geo, q_krige_universal

    uni = q_krige_universal(spark, sf_dir)
    rows = uni.limit(5).collect()
    assert rows and set(uni.columns) == {"id", "krige_mean", "krige_var", "n_cond"}

    geo = q_krige_geo(spark, sf_dir)
    rows = geo.limit(5).collect()
    assert rows and set(geo.columns) == {"id", "krige_mean", "krige_var", "n_cond"}

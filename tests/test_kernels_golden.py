"""Golden-vector tests: numpy kernels vs the reference's inline unit tests.

Inputs/outputs copied verbatim from the reference test modules
(/root/reference/src/variogram.rs:547-843, field.rs:251-431, krige.rs:120-246).
Reference asserts ULP<=6; we allow rtol=1e-10 since our vectorized summation
order differs (SURVEY.md §5).
"""

import numpy as np
import pytest

from gstools_core_spark import kernels as K

RTOL = 1e-10

STRUCT_FIELD = np.array(
    [[41.2], [40.2], [39.7], [39.2], [40.1], [38.3], [39.1], [40.0], [41.1], [40.3]]
)

UNSTRUCT_FIELD = np.array(
    [[
        -1.2427955, -0.59811704, -0.57745039, 0.01531904, -0.26474262,
        -0.53626347, -0.85106795, -1.96939178, -1.83650493, -1.23548617,
    ]]
)
UNSTRUCT_FIELD2 = np.array(
    [[
        1.2427955, 1.59811704, 1.57745039, -1.01531904, 1.26474262,
        1.53626347, 1.85106795, 0.96939178, 0.83650493, 0.23548617,
    ]]
)
UNSTRUCT_POS = np.stack([np.arange(0.0, 10.0), np.arange(0.0, 10.0)])
BIN_EDGES = np.linspace(0.0, 5.0, 4)


def test_variogram_structured_golden():
    got = K.variogram_structured(STRUCT_FIELD, "m")
    want = np.array([
        0.0, 0.49166666666666814, 0.7625000000000011, 1.090714285714288,
        0.9016666666666685, 1.3360000000000025, 0.9524999999999989,
        0.4349999999999996, 0.004999999999999788, 0.40500000000000513,
    ])
    np.testing.assert_allclose(got, want, rtol=RTOL)


def test_variogram_ma_structured_golden():
    mask1 = np.zeros((10, 1), dtype=bool)
    got = K.variogram_ma_structured(STRUCT_FIELD, mask1, "m")
    want_unmasked = np.array([
        0.0, 0.49166666666666814, 0.7625000000000011, 1.090714285714288,
        0.9016666666666685, 1.3360000000000025, 0.9524999999999989,
        0.4349999999999996, 0.004999999999999788, 0.40500000000000513,
    ])
    np.testing.assert_allclose(got, want_unmasked, rtol=RTOL)

    mask2 = np.zeros((10, 1), dtype=bool)
    mask2[0, 0] = True
    got2 = K.variogram_ma_structured(STRUCT_FIELD, mask2, "m")
    want_masked = np.array([
        0.0, 0.4906250000000017, 0.710714285714287, 0.9391666666666693,
        0.9610000000000019, 0.6187499999999992, 0.5349999999999975,
        0.29249999999999765, 0.004999999999999432, 0.0,
    ])
    np.testing.assert_allclose(got2, want_masked, rtol=RTOL)


def test_variogram_unstructured_golden():
    gamma, cnts = K.variogram_unstructured(UNSTRUCT_FIELD, BIN_EDGES, UNSTRUCT_POS, "m", "e")
    np.testing.assert_allclose(
        gamma,
        [0.14712242466045536, 0.320522186616688, 0.5136105328106929],
        rtol=RTOL,
    )
    np.testing.assert_array_equal(cnts, [9, 8, 7])


def test_variogram_unstructured_multi_field_identity():
    field_multi = np.vstack([UNSTRUCT_FIELD, UNSTRUCT_FIELD2])
    g1, c1 = K.variogram_unstructured(UNSTRUCT_FIELD, BIN_EDGES, UNSTRUCT_POS)
    g2, _ = K.variogram_unstructured(UNSTRUCT_FIELD2, BIN_EDGES, UNSTRUCT_POS)
    gm, cm = K.variogram_unstructured(field_multi, BIN_EDGES, UNSTRUCT_POS)
    np.testing.assert_allclose(gm, 0.5 * (g1 + g2), rtol=RTOL)
    # counts include field multiplicity (variogram.rs:521-529)
    np.testing.assert_array_equal(cm, 2 * c1)


def test_variogram_directional_golden():
    direction = np.array([[0.0, np.pi], [0.0, 0.0]])
    gamma, cnts = K.variogram_directional(
        UNSTRUCT_FIELD, BIN_EDGES, UNSTRUCT_POS, direction,
        angles_tol=np.pi / 8.0, bandwidth=-1.0, separate_dirs=False,
    )
    np.testing.assert_allclose(
        gamma,
        [[0.14712242466045536, 0.320522186616688, 0.5136105328106929], [0.0, 0.0, 0.0]],
        rtol=RTOL,
    )
    np.testing.assert_array_equal(cnts, [[9, 8, 7], [0, 0, 0]])


def test_variogram_directional_multi_field_identity():
    direction = np.array([[0.0, np.pi], [0.0, 0.0]])
    field_multi = np.vstack([UNSTRUCT_FIELD, UNSTRUCT_FIELD2])
    kw = dict(angles_tol=np.pi / 8.0, bandwidth=-1.0, separate_dirs=False)
    g1, _ = K.variogram_directional(UNSTRUCT_FIELD, BIN_EDGES, UNSTRUCT_POS, direction, **kw)
    g2, _ = K.variogram_directional(UNSTRUCT_FIELD2, BIN_EDGES, UNSTRUCT_POS, direction, **kw)
    gm, _ = K.variogram_directional(field_multi, BIN_EDGES, UNSTRUCT_POS, direction, **kw)
    np.testing.assert_allclose(gm, 0.5 * (g1 + g2), rtol=RTOL)


COV_SAMPLES = np.array([
    [-2.15, 1.04, 0.69, -1.09, -1.54, -2.32, -1.81, -2.78, 1.57, -3.44],
    [0.19, -1.24, -2.10, -2.86, -0.63, -0.51, -1.68, -0.07, 0.29, -0.007],
    [0.98, -2.83, -0.10, 3.23, 0.51, 0.13, -1.03, 1.53, -0.51, 2.82],
])
Z1 = np.array([-1.93, 0.46, 0.66, 0.02, -0.10, 1.29, 0.93, -1.14, 1.81, 1.47])
Z2 = np.array([-0.26, 0.98, -1.30, 0.66, 0.57, -0.25, -0.31, -0.29, 0.69, 1.14])
POS3 = np.array([
    [0.00, 1.43, 2.86, 4.29, 5.71, 7.14, 9.57, 10.00],
    [-5.00, -3.57, -2.14, -0.71, 0.71, 2.14, 3.57, 5.00],
    [-6.00, -4.00, -2.00, 0.00, 2.00, 4.00, 6.00, 8.00],
])


def test_summate_golden():
    got = K.summate(COV_SAMPLES, Z1, Z2, POS3)
    want = np.array([
        0.3773130601113641, -4.298994445846448, 0.9285578931297425,
        0.893013192171638, -1.4956409956178418, -1.488542499264307,
        0.19211668257573278, 2.3427520079106143,
    ])
    np.testing.assert_allclose(got, want, rtol=RTOL)


def test_summate_incompr_golden():
    got = K.summate_incompr(COV_SAMPLES, Z1, Z2, POS3)
    want = np.array([
        [0.7026540940472319, -1.9323916721330978, -0.4166102970790725,
         0.27803989953742114, -2.0809691290114567, 0.20148641078244162,
         0.7758364517737109, 0.12811415623445488],
        [0.3498241912898348, -0.07775049450238455, -0.5970579726508763,
         0.03011066817308309, -0.6406632397415202, 0.4669548537557405,
         0.908893008714896, -0.5120295866263118],
        [0.2838955719581232, -0.9042103150526011, -0.6494289973178196,
         -0.5654019280252776, -0.8386683161758316, -0.4648269322196026,
         -0.0656185245433833, 1.6593799470196355],
    ])
    np.testing.assert_allclose(got, want, rtol=1e-9)


def test_summate_fourier_golden():
    spectrum_factor = np.array([-2.15, 1.04, 0.69, -1.09, -1.54, -2.32, -1.81, -2.78, 1.57, -3.44])
    got = K.summate_fourier(spectrum_factor, COV_SAMPLES, Z1, Z2, POS3)
    want = np.array([
        1.0666558330143816, -3.5855143411414883, -2.70208228699285,
        9.808554698975039, 0.01634921830347258, -2.2356422006860663,
        14.730786907708966, -2.851408419726332,
    ])
    np.testing.assert_allclose(got, want, rtol=RTOL)


KRIG_MAT = np.array([
    [5.00000000068981e-01, -5.87287095364834e-06, 7.82325812566282e-12],
    [-5.87287095378827e-06, 5.00000000070158e-01, -7.67370103394336e-07],
    [7.82331319334681e-12, -7.67370103410243e-07, 5.00000000001178e-01],
])
KRIG_VECS = np.array([
    [3.00650970845165e-01, 7.92958674144233e-11, 7.34102993092809e-02,
     1.10371060304999e-08, 2.00114256042442e-01, 7.23018134159345e-03],
    [5.51416575736629e-09, 4.79656668238205e-09, 3.91247964853073e-03,
     3.59846942149471e-11, 2.10720573114332e-10, 4.83625846265317e-04],
    [7.08796598544206e-13, 1.09700007286403e-01, 2.46322359027701e-05,
     1.75889992745405e-07, 3.05671083940413e-17, 2.38513785599550e-11],
])
COND = np.array([-1.27755407195723e+00, 1.15554040655641e+00, 8.47374235895458e-01])

KRIGE_FIELD_WANT = np.array([
    -0.19205097317842723, 0.04647838537175125, -0.04462233428403452,
    0.0000000674926344864219, -0.12782974926973434, -0.0043390949462510245,
])
KRIGE_ERROR_WANT = np.array([
    0.04519550314128594, 0.006017045799331816, 0.0027021867008690937,
    0.000000000000015529554261898964, 0.020022857738471924, 0.00002625466702800745,
])


def test_calc_field_krige_golden():
    got = K.calc_field_krige(KRIG_MAT, KRIG_VECS, COND)
    np.testing.assert_allclose(got, KRIGE_FIELD_WANT, rtol=RTOL)


def test_calc_field_krige_and_variance_golden():
    field, error = K.calc_field_krige_and_variance(KRIG_MAT, KRIG_VECS, COND)
    np.testing.assert_allclose(field, KRIGE_FIELD_WANT, rtol=RTOL)
    np.testing.assert_allclose(error, KRIGE_ERROR_WANT, rtol=RTOL)


def test_cressie_estimator_roundtrip():
    # Cressie path has no reference golden; pin algebra: single pair, diff=4
    gamma, cnt = K.variogram_unstructured(
        np.array([[0.0, 4.0]]), np.array([0.0, 2.0]), np.array([[0.0, 1.0]]),
        estimator="c",
    )
    # est = sqrt(4)=2, count=1 → 0.5*(2/1)^4/(0.457+0.494+0.045) = 8/0.996
    np.testing.assert_allclose(gamma, [8.0 / 0.996], rtol=RTOL)
    np.testing.assert_array_equal(cnt, [1])


def test_haversine_radians():
    # 1 degree of longitude at equator = pi/180 radians central angle
    pos = np.array([[0.0, 0.0], [0.0, 1.0]])
    d = K.haversine_dist(pos[:, :1], pos[:, 1:])
    np.testing.assert_allclose(d, [np.pi / 180.0], rtol=1e-12)


def test_stable_matmul_width_and_position_independent():
    """The property the kriging bitwise-invariance pins rest on: a target
    column's product depends ONLY on (M, that column) — not on how many
    other targets share the batch (a salted sub-group vs the plain cell
    group) or where in the batch it sits.  Plain dgemm does NOT have this
    property (its remainder-row micro-kernel switches strategy with the
    column count — the round-5 captured-array repro), which is why
    stable_matmul fixes the per-call width."""
    rng = np.random.default_rng(5)
    for n in (65, 268, 513):
        A = rng.normal(size=(n, n))
        A = A @ A.T + n * np.eye(n)
        M = np.linalg.inv(A)
        B = rng.normal(size=(n, 801))
        ref = K.stable_matmul(M, B)
        np.testing.assert_allclose(ref, M @ B, rtol=1e-12)
        for width in (1, *rng.integers(1, 801, size=4)):
            idx = rng.permutation(801)[:width]
            got = K.stable_matmul(M, B[:, idx])
            for k, j in enumerate(idx[:50]):
                np.testing.assert_array_equal(got[:, k], ref[:, j])


def test_stable_solve_width_and_position_independent():
    """Same property as stable_matmul, for the bordered kriging solve:
    plain np.linalg.solve(A, B) drifts by ulps for the same column at
    different RHS widths (LAPACK getrs/trsm blocking); stable_solve's
    fixed-width padded calls do not — at every column position of a call,
    including the last 8-column panel of a 512-wide call, whose bits
    differ for some n (483-511, 513, 1025, …) unless padded away.  Swept
    over n in [1, 1100]: densely around the panel window, strided beyond.
    Runs under one BLAS thread, as the workers do (tests/conftest.py)."""
    rng = np.random.default_rng(7)
    sizes = sorted({*range(1, 1101, 37), *range(480, 516), 1025, 1100})
    for n in sizes:
        A = rng.normal(size=(n, n))
        A = A @ A.T + n * np.eye(n)
        B = rng.normal(size=(n, 540))
        ref = K.stable_solve(A, B)
        if n % 37 == 1:
            np.testing.assert_allclose(ref, np.linalg.solve(A, B), rtol=1e-9)
        # every column at another position of its call (a full 512-wide
        # call and a 28-wide tail), and one column alone
        perm = np.concatenate([rng.permutation(512), 512 + rng.permutation(28)])
        np.testing.assert_array_equal(
            K.stable_solve(A, B[:, perm]), ref[:, perm], err_msg=f"n={n}"
        )
        j = int(rng.integers(540))
        np.testing.assert_array_equal(K.stable_solve(A, B[:, j : j + 1])[:, 0], ref[:, j])


def _krige_system(rng, n, t, nd, nugget=0.01):
    """One neighborhood as krige_batch takes it (m = 1): Gaussian Gram of
    n random points, covariances to t targets, values, and the first nd
    of the drift functions (1, x, y) — nd = 0 is simple kriging."""
    P, T = rng.uniform(0, 3, (n, 2)), rng.uniform(0, 3, (t, 2))

    def cov(A, B):
        return np.exp(-np.sum((A[:, None] - B[None]) ** 2, axis=2))

    def basis(X):
        return np.stack([np.ones(len(X)), *X.T][:nd])[None] if nd else None

    C = (cov(P, P) + nugget * np.eye(n))[None]
    return C, cov(P, T)[None], rng.normal(size=(1, n)), basis(P), basis(T)


def _direct_krige(C, V, v, Fd, Ft, mean, sill, solve=np.linalg.solve):
    # textbook reference for one neighborhood
    n = C.shape[0]
    if Fd is None:
        W = solve(C, V)
        return W.T @ (v - mean) + mean, np.maximum(sill - np.sum(W * V, 0), 0.0)
    nd = Fd.shape[0]
    A = np.zeros((n + nd, n + nd))
    A[:n, :n], A[n:, :n], A[:n, n:] = C, Fd, Fd.T
    W = solve(A, np.vstack([V, Ft]))
    kvar = sill - np.sum(W[:n] * V, 0) - np.sum(W[n:] * Ft, 0)
    return W[:n].T @ v, np.maximum(kvar, 0.0)


@pytest.mark.parametrize("nd", [0, 1, 3])
def test_krige_batch_width_and_position_independent(nd):
    """A target's (est, kvar) depends only on its neighborhood and its own
    column — not on how many targets share the call (a salt sub-group,
    including a target ALONE in one, vs the whole cell) or where it sits.
    Width 1 is the case a reduction over an (n, t) block gets wrong."""
    rng = np.random.default_rng(31 + nd)
    C, V, v, Fd, Ft = _krige_system(rng, 40, 300, nd)
    est, kvar = K.krige_batch(C, V, v, Fd, Ft, 0.3, 1.01, 512)
    drift = (Fd[0], Ft[0]) if nd else (None, None)
    want = _direct_krige(C[0], V[0], v[0], *drift, 0.3, 1.01)
    np.testing.assert_allclose(est[0], want[0], rtol=1e-9, atol=1e-12)
    np.testing.assert_allclose(kvar[0], want[1], rtol=1e-9, atol=1e-12)
    for width in (1, 1, 2, 2, 300):
        idx = rng.permutation(300)[:width]
        e, k = K.krige_batch(
            C, V[:, :, idx], v, Fd, Ft[:, :, idx] if nd else None, 0.3, 1.01, 512
        )
        np.testing.assert_array_equal(e[0], est[0, idx])
        np.testing.assert_array_equal(k[0], kvar[0, idx])


@pytest.mark.parametrize("nd", [0, 1])
def test_krige_batch_singular_item(nd):
    """A batch of one-target systems (the knn path's shape) holding one
    singular system: every other item gets the bits it gets solved alone,
    and the singular one gets the minimum-norm least-squares solution."""
    rng = np.random.default_rng(41 + nd)
    items = [_krige_system(rng, 6, 1, nd) for _ in range(5)]
    C, V, v, Fd, Ft = _krige_system(rng, 6, 1, nd, nugget=0.0)
    C[0, 1, :] = C[0, 0, :]  # point 1 coincides with point 0, no nugget
    C[0, :, 1] = C[0, :, 0]
    V[0, 1], v[0, 1] = V[0, 0], v[0, 0]
    if nd:
        Fd[0, :, 1] = Fd[0, :, 0]
    items[2] = (C, V, v, Fd, Ft)
    batch = [np.concatenate(x) if x[0] is not None else None for x in zip(*items)]
    est, kvar = K.krige_batch(*batch, 0.3, 1.01, 1)
    for i, item in enumerate(items):
        if i != 2:
            e, k = K.krige_batch(*item, 0.3, 1.01, 1)
            np.testing.assert_array_equal(est[i], e[0])
            np.testing.assert_array_equal(kvar[i], k[0])

    def lstsq(A, B):
        return np.linalg.lstsq(A, B, rcond=None)[0]

    drift = (Fd[0], Ft[0]) if nd else (None, None)
    want = _direct_krige(C[0], V[0], v[0], *drift, 0.3, 1.01, lstsq)
    np.testing.assert_allclose(est[2], want[0], rtol=1e-7, atol=1e-9)
    np.testing.assert_allclose(kvar[2], want[1], rtol=1e-7, atol=1e-9)

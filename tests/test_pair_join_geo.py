"""Haversine blocking-grid soundness: antimeridian wrap, data-derived
latitude bound, near-polar fallback, and the 3-D blocked join plan."""

import math

import numpy as np
from pyspark.sql import functions as F

from gstools_core_spark import kernels as K
from gstools_core_spark.operators.pair_join import (
    half_stencil,
    haversine_grid,
    pair_join,
)


def _brute_pairs_hav(lat, lon, max_dist):
    n = len(lat)
    ii, jj = np.triu_indices(n, k=1)
    d = K.haversine_dist(
        np.vstack([lat[ii], lon[ii]]), np.vstack([lat[jj], lon[jj]])
    )
    keep = d < max_dist
    return {(int(a), int(b)) for a, b in zip(ii[keep], jj[keep])}


def test_haversine_grid_prunes_longitude():
    # |lat| <= 60, theta = 0.1 rad: the round-1 bug collapsed this to ONE
    # planet-wide lon cell; the fixed grid must tile the circle
    cell_lat, n_lon, lon_w = haversine_grid(0.1, 60.0)
    assert n_lon > 1, "longitude blocking lost"
    assert math.isclose(n_lon * lon_w, 360.0)
    # soundness: actual cell width >= required |Δlon| bound
    req = math.degrees(0.1) / math.cos(math.radians(60.0) + 0.1)
    assert lon_w >= req


def test_haversine_grid_polar_fallback():
    # near-polar data: secant bound degenerates → single lon cell (exact,
    # unpruned) instead of a silently-clamped planet-wide cell pretending
    # to prune
    _, n_lon, _ = haversine_grid(0.1, 88.0)
    assert n_lon == 1


def test_haversine_grid_no_89deg_clamp(spark):
    """Regression: clamping the lat bound at 89° under-sized lon cells for
    data in (89°, 90°) — a lat-89.6° pair 8° of longitude apart is within
    0.001 rad central angle and MUST be found (cell-adjacent or fallback)."""
    lat = np.array([89.6, 89.6, 89.6])
    lon = np.array([0.0, 8.0, -170.0])
    rows = [(i, float(a), float(b), 1.0) for i, (a, b) in enumerate(zip(lat, lon))]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, val double")
    got = {
        (r["a_id"], r["b_id"])
        for r in pair_join(
            df, 0.001, coords=("lat", "lon"), haversine=True
        ).collect()
    }
    want = _brute_pairs_hav(lat, lon, 0.001)
    assert (0, 1) in want  # the construction really is a sub-radius pair
    assert got == want


def test_antimeridian_pairs_found(spark):
    """A pair straddling lon=±180 must be produced (lon cells wrap)."""
    rows = [
        (0, 10.0, 179.95, 1.0),
        (1, 10.0, -179.95, 2.0),  # ~0.0017 rad from point 0 across the seam
        (2, 10.0, 0.0, 3.0),
        (3, -45.0, 179.9, 4.0),
        (4, -45.0, -179.9, 5.0),
    ]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, val double")
    out = pair_join(
        df, max_dist=0.05, coords=("lat", "lon"), haversine=True
    )
    got = {(r["a_id"], r["b_id"]) for r in out.select("a_id", "b_id").collect()}
    lat = np.array([r[1] for r in rows])
    lon = np.array([r[2] for r in rows])
    want = _brute_pairs_hav(lat, lon, 0.05)
    assert (0, 1) in want  # the scenario is real
    assert got == want


def test_haversine_global_cloud_parity(spark):
    """Global point cloud incl. seam + high-lat points: blocked join ==
    brute force, and the grid actually has >1 lon cell (pruning active)."""
    rng = np.random.default_rng(7)
    n = 300
    lat = rng.uniform(-65.0, 65.0, size=n)
    lon = rng.uniform(-180.0, 180.0, size=n)
    # force a seam cluster
    lon[:10] = 179.9
    lon[10:20] = -179.9
    lat[:20] = 30.0 + 0.1 * rng.uniform(size=20)
    max_dist = 0.08
    _, n_lon, _ = haversine_grid(max_dist, float(np.abs(lat).max()))
    assert n_lon > 1
    rows = [(i, float(lat[i]), float(lon[i]), 0.0) for i in range(n)]
    df = spark.createDataFrame(rows, "id long, lat double, lon double, val double")
    out = pair_join(df, max_dist=max_dist, coords=("lat", "lon"), haversine=True)
    got = {(r["a_id"], r["b_id"]) for r in out.select("a_id", "b_id").collect()}
    assert got == _brute_pairs_hav(lat, lon, max_dist)


def test_half_stencil_partitions_offsets():
    for d in (1, 2, 3):
        h = half_stencil(d)
        assert len(h) == (3**d - 1) // 2 + 1
        nonzero = [o for o in h if any(o)]
        neg = {tuple(-x for x in o) for o in nonzero}
        assert not neg & set(nonzero)
        assert len(neg | set(nonzero)) == 3**d - 1


def test_3d_join_is_blocked_on_three_keys(spark):
    """Dense-z data must not degenerate to per-xy-column all-pairs: the
    equi-join carries all three cell keys."""
    rng = np.random.default_rng(3)
    pos = rng.uniform(-5.0, 5.0, size=(3, 50))
    rows = [
        (i, float(pos[0, i]), float(pos[1, i]), float(pos[2, i]), 0.0)
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "id long, x double, y double, z double, val double")
    out = pair_join(df, max_dist=1.5, coords=("x", "y", "z"))
    plan = out._jdf.queryExecution().toString()
    assert "jc0" in plan and "jc1" in plan and "jc2" in plan


def test_geo_knn_wraps_antimeridian(spark):
    from gstools_core_spark.operators import spatial as S

    rows_q = [(0, 0.0, 179.95)]
    rows_b = [(0, 0.0, -179.95), (1, 0.0, 179.5), (2, 0.0, 10.0)]
    q = spark.createDataFrame(rows_q, "qid long, lat double, lon double")
    b = spark.createDataFrame(rows_b, "bid long, lat double, lon double")
    out = S.geo_knn_join(q, b, k=2, radius_rad=0.02, query_id="qid", base_id="bid")
    got = [(r["bid"], r["rank"]) for r in out.orderBy("rank").collect()]
    # nearest is the cross-seam point (Δlon=0.1°), then 179.5 (Δlon=0.45°)
    assert got == [(0, 1), (1, 2)]


# ---------------------------------------------------------------------------
# property-based: random clouds, random radius — pair set == brute force
# ---------------------------------------------------------------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    _HAS_HYPOTHESIS = False

if _HAS_HYPOTHESIS:

    @settings(
        max_examples=8,
        deadline=None,
        derandomize=True,  # same examples every run — no flaky CI surprises
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(5, 60),
        dim=st.sampled_from([2, 3]),
        max_dist=st.floats(0.3, 4.0),
    )
    def test_pair_join_matches_bruteforce_property(spark, seed, n, dim, max_dist):
        """For any cloud and radius, the blocked ring join yields exactly
        the brute-force pair set (work-halved a_id < b_id, dist < max_dist)."""
        import numpy as np

        from gstools_core_spark.operators.pair_join import pair_join

        rng = np.random.default_rng(seed)
        P = rng.uniform(-5, 5, size=(n, dim))
        cols = ["x", "y", "z"][:dim]
        rows = [(i, *[float(v) for v in P[i]]) for i in range(n)]
        df = spark.createDataFrame(
            rows, "id long, " + ", ".join(f"{c} double" for c in cols)
        )
        got = {
            (r["a_id"], r["b_id"])
            for r in pair_join(
                df, float(max_dist), id_col="id", coords=tuple(cols), payload_cols=()
            ).collect()
        }
        ii, jj = np.triu_indices(n, k=1)
        d = np.sqrt(np.sum((P[ii] - P[jj]) ** 2, axis=1))
        want = {
            (int(a), int(b)) for a, b, dd in zip(ii, jj, d) if dd < max_dist
        }
        assert got == want

    @settings(
        max_examples=8,
        deadline=None,
        derandomize=True,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(5, 40),
        max_lat=st.sampled_from([20.0, 60.0, 85.0]),
        max_dist=st.floats(0.01, 0.5),
    )
    def test_haversine_pair_join_matches_bruteforce_property(
        spark, seed, n, max_lat, max_dist
    ):
        """Sphere sibling: for any global cloud (a third of the points
        hugging the antimeridian so the wrapped lon grid is always live)
        and any central-angle radius, the wrapped blocking grid yields
        exactly the brute-force haversine pair set — including the
        near-polar secant-degenerate fallback at max_lat=85°."""
        import numpy as np

        from gstools_core_spark.operators.pair_join import pair_join

        rng = np.random.default_rng(seed)
        lat = rng.uniform(-max_lat, max_lat, size=n)
        lon = rng.uniform(-180.0, 180.0, size=n)
        seam = rng.random(n) < (1 / 3)  # cluster a third at the seam
        lon[seam] = ((rng.uniform(-3.0, 3.0, size=seam.sum()) + 180.0) % 360.0) - 180.0
        rows = [(i, float(lat[i]), float(lon[i])) for i in range(n)]
        df = spark.createDataFrame(rows, "id long, lat double, lon double")
        got = {
            (r["a_id"], r["b_id"])
            for r in pair_join(
                df,
                float(max_dist),
                id_col="id",
                coords=("lat", "lon"),
                payload_cols=(),
                haversine=True,
            ).collect()
        }
        want = _brute_pairs_hav(lat, lon, max_dist)
        assert got == want


def test_chord_prefilter_keeps_every_pair_and_dist_bit(spark):
    """The haversine pair join's chord pre-filter is conservative: against
    an UNFILTERED brute-force cross join through the same D.haversine
    expression, the pair set and every ``dist`` bit agree — over random
    radii and latitude bounds, antimeridian and near-polar clusters, and
    partners placed within 1e-12 rad of max_dist on either side."""
    from gstools_core_spark.functions import distance as D

    rng = np.random.default_rng(2024)
    for max_lat, theta in ((30.0, 0.3), (61.0, 0.05), (89.5, 0.01), (75.0, 1e-4)):
        theta = float(theta * rng.uniform(0.8, 1.2))
        n = 120
        lat = rng.uniform(-max_lat, max_lat, n)
        lon = rng.uniform(-180.0, 180.0, n)
        lon[:30] = ((rng.uniform(-2.0, 2.0, 30) + 180.0) % 360.0) - 180.0  # seam
        lat[30:45] = np.sign(lat[30:45]) * rng.uniform(max_lat - 0.5, max_lat, 15)
        # partners at theta ± k·1e-13 rad, along a meridian and a parallel
        # at the equator (both arcs are exactly the degree offset)
        edge_lat, edge_lon = [], []
        for k in (-10, -3, -1, 0, 1, 3, 10):
            deg = math.degrees(theta + k * 1e-13)
            a_lat = float(rng.uniform(-max_lat / 2, max_lat / 2))
            a_lon = float(rng.uniform(-170.0, 170.0))
            edge_lat += [a_lat, a_lat + deg, 0.0, 0.0]
            edge_lon += [a_lon, a_lon, a_lon, a_lon + deg]
        lat = np.concatenate([lat, edge_lat])
        lon = np.concatenate([lon, edge_lon])
        rows = [(i, float(lat[i]), float(lon[i])) for i in range(len(lat))]
        df = spark.createDataFrame(rows, "id long, lat double, lon double")
        got = {
            (r["a_id"], r["b_id"], r["dist"])
            for r in pair_join(
                df, theta, coords=("lat", "lon"), payload_cols=(), haversine=True
            ).collect()
        }
        a, b = df.alias("a"), df.alias("b")
        dist = F.expr(D.haversine("a.lat", "a.lon", "b.lat", "b.lon"))
        brute = (
            a.crossJoin(b)
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id"), F.col("b.id"), dist.alias("dist"))
            .where(F.col("dist") < F.lit(theta))
        )
        want = {tuple(r) for r in brute.collect()}
        near = [d for _, _, d in want if abs(d - theta) < 1e-11]
        assert near, "no pair within 1e-11 rad of max_dist"
        assert got == want, (max_lat, theta)

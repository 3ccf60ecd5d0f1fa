"""Skew handling: a pathological hot cell stays correct (and AQE/salting
knobs engage) — the north rule's dense-page scenario."""

import numpy as np
from pyspark.sql import functions as F

from gstools_core_spark.operators.pair_join import pair_join
from gstools_core_spark.operators.variogram import variogram_unstructured
from gstools_core_spark import kernels as K


def _skewed_points(spark, n_hot=800, n_rest=200):
    """80% of points concentrated inside one blocking cell."""
    rng = np.random.default_rng(11)
    hot = rng.uniform(0.0, 0.9, size=(n_hot, 2))  # one cell at cell_size=1
    rest = rng.uniform(-10.0, 10.0, size=(n_rest, 2))
    xy = np.vstack([hot, rest])
    val = rng.normal(size=n_hot + n_rest)
    rows = [
        (i, float(xy[i, 0]), float(xy[i, 1]), float(val[i]))
        for i in range(len(xy))
    ]
    return (
        spark.createDataFrame(rows, "id long, x double, y double, val double"),
        xy.T,
        val,
    )


def test_pair_join_hot_cell_exact(spark):
    df, pos, _ = _skewed_points(spark)
    pairs = pair_join(df, max_dist=1.0, salt_partitions=16)
    got = pairs.count()
    ii, jj = np.triu_indices(pos.shape[1], k=1)
    d = np.sqrt(np.sum((pos[:, ii] - pos[:, jj]) ** 2, axis=0))
    assert got == int((d < 1.0).sum())


def test_pair_join_explicit_salting_exact(spark):
    """salt_hot splits the hot cell's join key without changing the result."""
    df, pos, _ = _skewed_points(spark)
    pairs = pair_join(df, max_dist=1.0, salt_hot=8, hot_threshold=300)
    got = {(r["a_id"], r["b_id"]) for r in pairs.select("a_id", "b_id").collect()}
    ii, jj = np.triu_indices(pos.shape[1], k=1)
    d = np.sqrt(np.sum((pos[:, ii] - pos[:, jj]) ** 2, axis=0))
    want = {(int(a), int(b)) for a, b in zip(ii[d < 1.0], jj[d < 1.0])}
    assert got == want
    # hot-cell detection is a broadcast join, not a driver-collected isin
    # literal list (plan-size-safe when thousands of cells are hot)
    plan = pairs._jdf.queryExecution().toString()
    assert " IN (" not in plan and "_salt" in plan


def test_pair_join_hot_cap_exact(spark, monkeypatch):
    """pair_join's hot_cap bounds WHICH cells get the salt treatment, not
    the result: with cap=1 only the single biggest cell is salted and the
    pair set is still exact."""
    from gstools_core_spark.operators import pair_join as PJ

    monkeypatch.setattr(PJ, "hot_cap", lambda spark: 1)
    df, pos, _ = _skewed_points(spark)
    pairs = pair_join(df, max_dist=1.0, salt_hot=8, hot_threshold=100)
    got = {(r["a_id"], r["b_id"]) for r in pairs.select("a_id", "b_id").collect()}
    ii, jj = np.triu_indices(pos.shape[1], k=1)
    d = np.sqrt(np.sum((pos[:, ii] - pos[:, jj]) ** 2, axis=0))
    want = {(int(a), int(b)) for a, b in zip(ii[d < 1.0], jj[d < 1.0])}
    assert got == want


def test_variogram_on_skewed_cloud_matches_kernel(spark):
    df, pos, val = _skewed_points(spark)
    edges = [0.0, 0.25, 0.5, 0.75, 1.0]
    out = variogram_unstructured(df, edges, salt_partitions=32)
    rows = out.orderBy("bin_id").collect()
    got_g = np.array([r["gamma"] for r in rows])
    got_c = np.array([r["counts"] for r in rows])
    want_g, want_c = K.variogram_unstructured(val[None, :], np.array(edges), pos)
    np.testing.assert_array_equal(got_c, want_c)
    np.testing.assert_allclose(got_g, want_g, rtol=1e-9)


def _collect_krige(out):
    rows = out.orderBy("id").collect()
    return [
        (r["id"], r["krige_mean"], r["krige_var"], r["n_cond"]) for r in rows
    ]


def test_krige_salting_bitwise_invariant(spark, partitioned_plan):
    """salt_hot splits the hot cell's cogroup key without changing a bit of
    the kriged output (every target still sees its cell's full cond ring;
    per-group orders are canonicalized).  Salting is a partitioned-plan
    knob, so the knn case forces that plan."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    with partitioned_plan():
        for knn in (None, 8):
            plain = krige(df, cond, model, radius=1.0, method="ordinary", knn=knn)
            salted = krige(
                df, cond, model, radius=1.0, method="ordinary", knn=knn,
                salt_hot=8, hot_threshold=300,
            )
            assert _collect_krige(plain) == _collect_krige(salted)


def test_krige_salting_bitwise_invariant_simple_universal(spark):
    """The invariance promise is method-agnostic: simple kriging solves
    the plain Gram system and universal the drift-bordered one, both
    through kernels.krige_batch — both must be bit-identical under
    salting, like the ordinary pin above.  Including a target ALONE in its
    salt sub-group: a per-target reduction over an (n, 1) block used to
    switch summation order and give such a target different bits."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    for method in ("simple", "universal"):
        plain = krige(df, cond, model, radius=1.0, method=method)
        salted = krige(
            df, cond, model, radius=1.0, method=method,
            salt_hot=8, hot_threshold=300,
        )
        assert _collect_krige(plain) == _collect_krige(salted), method

    # 30 targets of one hot cell hashed over 64 sub-keys: many singletons
    df, _, _ = _skewed_points(spark, n_hot=60, n_rest=100)
    targets = df.where(F.col("id") % 2 == 1)
    cond = df.where(F.col("id") % 2 == 0)
    for method in ("simple", "ordinary", "universal"):
        plain = krige(
            targets, cond, model, radius=1.0, method=method, group_cells=1
        )
        salted = krige(
            targets, cond, model, radius=1.0, method=method, group_cells=1,
            salt_hot=64, hot_threshold=10,
        )
        assert _collect_krige(plain) == _collect_krige(salted), method


def test_krige_salting_geo_bitwise_invariant(spark):
    """Sphere path: the _salt key component must not be mistaken for the
    lon cell index inside the max_cond center ranking."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    rng = np.random.default_rng(23)
    lat = np.concatenate([rng.uniform(40.0, 41.0, 400), rng.uniform(-60, 60, 100)])
    lon = np.concatenate([rng.uniform(10.0, 11.0, 400), rng.uniform(-170, 170, 100)])
    val = rng.normal(size=500)
    df = spark.createDataFrame(
        [(i, float(lat[i]), float(lon[i]), float(val[i])) for i in range(500)],
        "id long, lat double, lon double, val double",
    )
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.02, nugget=0.01)
    kw = dict(
        radius=0.02, method="ordinary", coords=("lat", "lon"),
        haversine=True, max_cond=64,
    )
    plain = krige(df, cond, model, **kw)
    salted = krige(df, cond, model, salt_hot=4, hot_threshold=100, **kw)
    assert _collect_krige(plain) == _collect_krige(salted)


def test_krige_super_grouping_bitwise_invariant(spark, partitioned_plan):
    """group_cells coalesces fine blocking cells into one cogroup group
    (per-group dispatch is near-serial — thousands of tiny cells WERE the
    headline krige's cost); every grouping must produce bit-identical
    output, including combined with salting — on the partitioned plan,
    the only one that groups."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    with partitioned_plan():
        for knn in (None, 8):
            plain = krige(
                df, cond, model, radius=1.0, method="ordinary", knn=knn,
                group_cells=1,
            )
            grouped = krige(
                df, cond, model, radius=1.0, method="ordinary", knn=knn,
                group_cells=4,
            )
            auto = krige(
                df, cond, model, radius=1.0, method="ordinary", knn=knn,
                group_cells="auto",
            )
            want = _collect_krige(plain)
            assert _collect_krige(grouped) == want
            assert _collect_krige(auto) == want
        both = krige(
            df, cond, model, radius=1.0, method="ordinary", knn=8,
            group_cells=4, salt_hot=8, hot_threshold=300,
        )
        base = krige(
            df, cond, model, radius=1.0, method="ordinary", knn=8, group_cells=1
        )
        assert _collect_krige(both) == _collect_krige(base)


def test_auto_group_factor_skew_guard(spark):
    """'auto' groups a uniform cell grid (~2 groups/core) but keeps fine
    cells on a skewed density: merging adjacent hot-region cells would
    re-serialize exactly what salt_hot splits (measured 7.5→28.5 s on the
    sphere path as the factor grows)."""
    from gstools_core_spark.operators.kriging import plan_cells

    # uniform 40×40 cell grid, one point per cell → no skew, factor from
    # the 2-groups/core rule: sqrt(1600 / (2·par))
    grid = spark.range(1600).select(
        (F.col("id") % 40).alias("cx"), (F.col("id") / 40).cast("long").alias("cy")
    )
    par = 8
    got, kf_u, _ = plan_cells(grid, ["cx", "cy"], par, None)
    assert got == max(1, int(round((1600 / (2 * par)) ** 0.5)))
    assert kf_u is None

    # 80% of rows in ONE cell → max/mean ≫ 4 AND above the Poisson floor
    # → guard keeps that cell fine (HYBRID): the factor is re-derived from
    # the COLD cell count (the tail still sheds its dispatch; at 100× the
    # tail grows linearly, the hot set doesn't)
    skewed = spark.range(1000).select(
        F.when(F.col("id") < 800, F.lit(0)).otherwise(F.col("id")).alias("cx"),
        F.lit(0).alias("cy"),
    )
    m_s, kf_s, _ = plan_cells(skewed, ["cx", "cy"], par, None)
    fine_rows = {(r["cx"], r["cy"]) for r in kf_s.collect()}
    assert fine_rows == {(0, 0)}
    # 200 cold single-row cells → rule over 200, not 201
    assert m_s == max(1, int(round((200 / (2 * par)) ** 0.5)))

    # SPARSE-uniform: mean ~1 per cell with one 8-row cell — max/mean > 4
    # but max is ordinary Poisson jitter (below mean + 6·√mean + 10), and
    # a pure ratio test would forfeit grouping on exactly the
    # thousands-of-tiny-cells input grouping exists for
    sparse = spark.range(1600).select(
        F.when(F.col("id") < 8, F.lit(0)).otherwise(F.col("id")).alias("cx"),
        F.lit(0).alias("cy"),
    )
    got_sparse, kf_sp, _ = plan_cells(sparse, ["cx", "cy"], par, None)
    assert got_sparse == max(1, int(round((1593 / (2 * par)) ** 0.5)))
    assert kf_sp is None


def test_hot_set_caps_bounded(spark):
    """Heavy-tailed density: the skew threshold is relative to the mean, so
    a Zipfian tail can push unboundedly many cells above it — both
    broadcast hot sets (auto-grouping keep-fine, salting split set) must
    be bounded at the top-K cells by count, deterministically."""
    from gstools_core_spark.operators.kriging import plan_cells
    from gstools_core_spark.operators.pair_join import salt_hot_cells

    # 300 'hot' cells of 40 rows + 3000 single-row tail cells: mean ≈ 4.5,
    # Poisson floor ≈ 27 → every 40-row cell clears the threshold, far
    # more than any sane broadcast wants fine/salted
    hot = spark.range(300 * 40).select(
        (F.col("id") % 300).alias("cx"), F.lit(0).alias("cy")
    )
    tail = spark.range(3000).select(
        (F.col("id") + 10_000).alias("cx"), F.lit(1).alias("cy")
    )
    df = hot.unionByName(tail)

    cap = 16
    m, kf, _ = plan_cells(df, ["cx", "cy"], 8, cap)
    assert kf is not None and kf.count() == cap
    # deterministic top-K: equal counts tie-break on cell keys ascending
    assert {r["cx"] for r in kf.collect()} == set(range(cap))
    # the factor counts the beyond-cap hot cells as cold: 3300-16 cells
    assert m == max(1, int(round(((3300 - cap) / (2 * 8)) ** 0.5)))
    # uncapped: all 300 hot cells stay fine, factor from the 3000 cold
    m_u, kf_u, _ = plan_cells(df, ["cx", "cy"], 8, None)
    assert kf_u.count() == 300
    assert m_u == max(1, int(round((3000 / (2 * 8)) ** 0.5)))

    # salting: with the cap only the top-K cells get salted/replicated
    t = df.select(
        F.monotonically_increasing_id().alias("tid"),
        F.col("cx").alias("jc0"),
        F.col("cy").alias("jc1"),
    )
    c = t.select(F.col("tid").alias("cid"), "jc0", "jc1")
    _, _, hot_set = plan_cells(
        t, ["jc0", "jc1"], 8, cap, group_cells=1, salt_hot=4, hot_threshold=30
    )
    ts, cs, keys = salt_hot_cells(t, c, hot_set, ["jc0", "jc1"], "tid", 4)
    salted_cells = (
        cs.groupBy("jc0", "jc1")
        .agg(F.countDistinct("_salt").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    assert salted_cells == cap


def test_krige_hot_cap_bitwise_invariant(spark, monkeypatch, partitioned_plan):
    """Capping which cells are salted / kept fine must not change a bit of
    the kriged output (it only moves cells between the split/fine and
    grouped treatments, both output-invariant)."""
    from gstools_core_spark.operators import kriging as KM
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    kw = dict(
        radius=1.0, method="ordinary", knn=8, group_cells="auto",
        salt_hot=4, hot_threshold=300,
    )
    with partitioned_plan():
        want = _collect_krige(
            krige(df, cond, model, radius=1.0, method="ordinary", knn=8,
                  group_cells=1)
        )
        for cap in (None, 1, 4):  # uncapped / tighter-than-hot-set / roomy
            monkeypatch.setattr(KM, "hot_cap", lambda spark, cap=cap: cap)
            got = _collect_krige(krige(df, cond, model, **kw))
            assert got == want, f"hot_cap={cap}"


def test_krige_plan_time_jobs(spark, partitioned_plan):
    """krige's plan-time Spark jobs per skew config, counted by the status
    tracker around construction: explicit ints run only what they need,
    and 'auto' serves grouping and both hot sets from one summary collect
    plus one hot-set collect (7 / 8 / 10 jobs before the single planner).
    Those configs run the partitioned plan; a small knn cond set takes the
    broadcast plan, whose one job is the bounded cond collect — whatever
    the skew knobs say."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    sc = spark.sparkContext
    configs = [
        ("auto", {}, 5),
        ("auto_salt300", dict(salt_hot=4, hot_threshold=300), 5),
        ("auto_salt_auto", dict(salt_hot=4), 5),
        ("gc1_salt8", dict(group_cells=1, salt_hot=8), 4),
        ("gc2", dict(group_cells=2), 0),
    ]
    broadcast = [("bcast", {}, 1), ("bcast_gc1_salt8", dict(group_cells=1, salt_hot=8), 1)]
    got = {}

    def count(name, kw):
        group = f"krige-plan-jobs-{name}"
        sc.setJobGroup(group, group)
        krige(df, cond, model, radius=1.0, method="ordinary", knn=8, **kw)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        with partitioned_plan():
            for name, kw, _ in configs:
                count(name, kw)
        for name, kw, _ in broadcast:
            count(name, kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == {name: n for name, _, n in configs + broadcast}


def test_krige_salting_skipped_when_no_hot_cells(spark, partitioned_plan):
    """Plan-time hot-set detection: when no cell clears hot_threshold the
    salting machinery (cond-ring explode, broadcast joins, _salt key)
    must not appear in the plan at all — it cost ~35% of the sphere bench
    at sf0.1 to salt zero cells — and the output must equal the unsalted
    run bitwise.  With a low threshold the machinery still engages."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    kw = dict(radius=1.0, method="ordinary", knn=8, group_cells=1)
    with partitioned_plan():
        plain = krige(df, cond, model, **kw)
        skipped = krige(df, cond, model, salt_hot=8, hot_threshold=10_000, **kw)
        engaged = krige(df, cond, model, salt_hot=8, hot_threshold=300, **kw)
    assert "_salt" not in skipped._jdf.queryExecution().toString()
    assert "_salt" in engaged._jdf.queryExecution().toString()
    want = _collect_krige(plain)
    assert _collect_krige(skipped) == want
    assert _collect_krige(engaged) == want


def test_krige_hot_threshold_auto_fair_share(spark, partitioned_plan):
    """hot_threshold='auto' (default): a cell above one shuffle
    partition's fair share of targets is a straggler task by construction
    (one cogroup task per key), so it must be salted — the 800-target
    cell here clears the max(256, total/partitions) rule — and the
    output must equal the unsalted run bitwise."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    kw = dict(radius=1.0, method="ordinary", knn=8, group_cells=1)
    with partitioned_plan():
        plain = krige(df, cond, model, **kw)
        auto = krige(df, cond, model, salt_hot=4, **kw)  # hot_threshold='auto'
    assert "_salt" in auto._jdf.queryExecution().toString()
    assert _collect_krige(auto) == _collect_krige(plain)


def test_krige_salting_splits_hot_cell(spark):
    """One hot cell becomes S cogroup sub-keys (targets hashed across all S
    salts, cond ring replicated ×S); cold cells keep salt 0 unreplicated."""
    from gstools_core_spark.operators.kriging import plan_cells
    from gstools_core_spark.operators.pair_join import salt_hot_cells

    # 600 targets in cell (0,0) (hot), 50 in cell (5,5) (cold)
    rows = [(i, 0.1 + (i % 10) * 0.08, 0.1 + (i // 10 % 10) * 0.08) for i in range(600)]
    rows += [(1000 + i, 5.2, 5.3) for i in range(50)]
    t = spark.createDataFrame(rows, "tid long, t0 double, t1 double")
    t = t.withColumn("jc0", F.floor("t0").cast("long")).withColumn(
        "jc1", F.floor("t1").cast("long")
    )
    c = t.select(
        F.col("tid").alias("cid"), "t0", "t1", "jc0", "jc1"
    )  # stand-in for the ring-stamped cond side
    S = 8
    _, _, hot = plan_cells(
        t, ["jc0", "jc1"], 8, None, group_cells=1, salt_hot=S, hot_threshold=300
    )
    ts, cs, keys = salt_hot_cells(t, c, hot, ["jc0", "jc1"], "tid", S)
    assert keys == ["jc0", "jc1", "_salt"]
    hot_salts = ts.where(F.col("jc0") == 0).select("_salt").distinct().count()
    cold_salts = ts.where(F.col("jc0") == 5).select("_salt").distinct().count()
    assert hot_salts == S and cold_salts == 1
    # cond side: hot cell replicated across all S salts, cold cell once
    hot_rep = cs.where(F.col("jc0") == 0).count()
    cold_rep = cs.where(F.col("jc0") == 5).count()
    assert hot_rep == 600 * S and cold_rep == 50


def test_aqe_skew_configs_active(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def _both_plans(partitioned_plan, build):
    """``build()`` under the broadcast plan and under the forced
    partitioned plan → the two collected outputs."""
    bcast = _collect_krige(build())
    with partitioned_plan():
        part = _collect_krige(build())
    return bcast, part


def test_krige_knn_broadcast_plan_bitwise_equals_partitioned(spark, partitioned_plan):
    """A small knn cond set is broadcast (collected once, captured in the
    UDF closure; targets solved where they sit): every output bit equals
    the partitioned plan's — planar, 3-D and sphere (antimeridian) data,
    all four solve kinds, the hot cell, targets with an empty ring, an
    empty cond frame and a single-partition target frame."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    df = df.withColumn("elev", F.sin(F.col("x")) + 0.1 * F.col("y"))
    far = spark.createDataFrame(
        [(5000 + i, 40.0 + i, -40.0, 0.0, 0.0) for i in range(3)],
        "id long, x double, y double, val double, elev double",
    )
    targets = df.unionByName(far)  # three targets with an empty ring
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    cases = {
        "simple": dict(method="simple", mean=0.3),
        "ordinary": dict(method="ordinary"),
        "universal": dict(method="universal", drift_order=1),
        "ked": dict(method="ordinary", drift_cols=("elev",)),
    }
    for name, kw in cases.items():
        b, p = _both_plans(
            partitioned_plan,
            lambda: krige(targets, cond, model, radius=1.0, knn=8, **kw),
        )
        assert b == p, name
        assert {r[0] for r in b if r[3] == 0} >= {5000, 5001, 5002}

    # empty cond frame: every target keeps the prior in both plans
    b, p = _both_plans(
        partitioned_plan,
        lambda: krige(df, cond.where(F.lit(False)), model, radius=1.0, knn=8),
    )
    assert b == p and all(r[3] == 0 for r in b)
    # one-partition targets: the round-robin exchange spreads them
    one = df.coalesce(1)
    b, p = _both_plans(
        partitioned_plan, lambda: krige(one, cond, model, radius=1.0, knn=8)
    )
    assert b == p

    # 3-D
    rng = np.random.default_rng(5)
    P = rng.uniform(0.0, 4.0, size=(300, 3))
    d3 = spark.createDataFrame(
        [(i, *map(float, P[i]), float(np.sin(P[i]).sum())) for i in range(300)],
        "id long, x double, y double, z double, val double",
    )
    b, p = _both_plans(
        partitioned_plan,
        lambda: krige(
            d3, d3.where(F.col("id") % 2 == 0), model, radius=1.0,
            coords=("x", "y", "z"), knn=6,
        ),
    )
    assert b == p

    # sphere: a third of the points straddle the antimeridian
    lat = rng.uniform(-50.0, 50.0, 300)
    lon = rng.uniform(-180.0, 180.0, 300)
    lon[:100] = ((rng.uniform(-3.0, 3.0, 100) + 180.0) % 360.0) - 180.0
    geo = spark.createDataFrame(
        [(i, float(lat[i]), float(lon[i]), float(np.cos(lat[i]))) for i in range(300)],
        "id long, lat double, lon double, val double",
    )
    gmodel = GaussianModel(var=1.0, len_scale=0.05, nugget=0.01)
    b, p = _both_plans(
        partitioned_plan,
        lambda: krige(
            geo, geo.where(F.col("id") % 3 == 0), gmodel, radius=0.08,
            coords=("lat", "lon"), haversine=True, knn=5,
        ),
    )
    assert b == p
    seam = {r[0] for r in b if r[3] > 0 and abs(lon[r[0]]) > 177.0}
    assert seam, "no kriged target at the seam"


def test_krige_underdetermined_drift_keeps_prior(spark, partitioned_plan):
    """Universal/KED neighborhoods with fewer points than drift functions
    are underdetermined: they keep the prior (mean, sill) with n_cond 0,
    like an empty ring, instead of a pinv solution whose bits swing with
    last-bit changes of the Gram matrix.  drift_order=2 (6 functions) with
    3-5 points, and KED + universal (4 functions) with 3 points — same
    rows on the broadcast and partitioned plans, salted or not."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    df, _, _ = _skewed_points(spark)
    df = df.withColumn("elev", F.cos(F.col("x")) + 0.2 * F.col("y"))
    cond = df.where(F.col("id") % 3 == 0)
    model = GaussianModel(var=1.0, len_scale=0.4, nugget=0.01)
    q = {r[0]: r[3] for r in _collect_krige(
        krige(df, cond, model, radius=1.0, method="ordinary", knn=8)
    )}
    cases = [
        (dict(method="universal", drift_order=2), 6, {3, 4, 5}),
        (dict(method="universal", drift_order=1, drift_cols=("elev",)), 4, {3}),
    ]
    for kw, n_basis, sizes in cases:
        small = {i for i, n in q.items() if n in sizes}
        assert small, kw
        for knn in (8, None):
            plain, part = _both_plans(
                partitioned_plan,
                lambda: krige(df, cond, model, radius=1.0, knn=knn, **kw),
            )
            assert plain == part, kw
            with partitioned_plan():
                salted = _collect_krige(krige(
                    df, cond, model, radius=1.0, knn=knn, salt_hot=8,
                    hot_threshold=300, **kw,
                ))
            assert salted == plain, kw
            assert all(n == 0 or n >= n_basis for _, _, _, n in plain), kw
            if knn is not None:
                prior = {r[0] for r in plain if r[1:] == (0.0, model.sill, 0)}
                assert small <= prior, kw

"""Distributed kriging: Gram-matrix assembly + solve per neighborhood.

The reference kernel (krige.rs:24-118) receives a PRE-INVERTED system matrix
and computes field = condᵀ·Mᵀ·V, error = v_jᵀ·Mᵀ·v_j; the assembly + solve
happens upstream in GSTools (reference benches/gen_benchmark_inputs.py:35-59).
Per the north star, this engine owns BOTH steps:

* neighborhoods via the cell-ring blocking (conditioning points stamped onto
  the 3×3 ring of each target cell at cell_size = radius);
* one ``cogroup().applyInArrow`` UDF iterates the fine cells of each
  cogroup group (one cell, or a super-cell of them) and, per cell,
  assembles the covariance Gram matrix with the model, inverts it once,
  and evaluates every target through the numpy kernels
  (kernels.calc_field_krige_and_variance) — i.e. the reference's matrix
  kernel runs verbatim on each neighborhood;
* ``plan_cells`` makes every skew decision (grouping factor, keep-fine
  cells, salted hot cells) from one per-cell count aggregate.

Covariance models: any functions/models.CovModel (Gaussian, Exponential,
Spherical, Matérn, Stable); the nugget enters only the Gram diagonal.
Simple (known mean), ordinary (Lagrange row), and universal (polynomial
drift) kriging are provided; anisotropy via functions.models.isotropize.
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gstools_core_spark import kernels as K
from gstools_core_spark.operators.pair_join import (
    check_int,
    geo_cell_exprs,
    haversine_grid,
    hot_cap,
    salt_hot_cells,
    top_hot_cells,
)
from gstools_core_spark.functions.models import (  # noqa: F401 — re-exported API
    CovModel,
    Exponential,
    Gaussian,
    GaussianModel,
    Matern,
    Spherical,
    Stable,
)


def _ring_stamp(
    df: DataFrame, cell_exprs: Sequence, wrap_n: int | None = None
) -> DataFrame:
    """Stamp each row onto the full 3^d ring of its blocking cell
    (``cell_exprs`` = one cell-index Column per axis); the LAST axis wraps
    mod ``wrap_n`` when given (longitude at the antimeridian)."""
    import itertools

    d = len(cell_exprs)
    cells = [e.alias(f"_c{k}") for k, e in enumerate(cell_exprs)]
    offsets = F.array(
        *[
            F.struct(*[F.lit(o[k]).alias(f"d{k}") for k in range(d)])
            for o in itertools.product((-1, 0, 1), repeat=d)
        ]
    )
    out = df.select("*", *cells).withColumn("_off", F.explode(offsets))
    for k in range(d):
        e = F.col(f"_c{k}") + F.col(f"_off.d{k}")
        if wrap_n is not None and k == d - 1:
            e = F.pmod(e, F.lit(wrap_n))
        out = out.withColumn(f"jc{k}", e)
    return out.drop(*[f"_c{k}" for k in range(d)], "_off")


def _grid_cells(coords: Sequence[str], radius: float) -> list:
    return [F.floor(F.col(c) / F.lit(radius)).cast("long") for c in coords]


def _literal_cells(spark, rows: list, cols: Sequence[str]) -> DataFrame | None:
    """Collected cell-key rows → a literal DataFrame; None when empty (lets
    callers skip the machinery the set would drive).  Built JVM-side from
    literals, not ``createDataFrame(list)`` (a Python RDD that Python
    workers serve on every execution)."""
    if not rows:
        return None
    structs = [
        F.struct(*(F.lit(r[c]).cast("long").alias(c) for c in cols)) for r in rows
    ]
    return spark.range(1).select(F.inline(F.array(*structs)))


def plan_cells(
    t: DataFrame,
    keys: list[str],
    par: int,
    cap: int | None,
    group_cells: int | str = "auto",
    salt_hot: int | None = None,
    hot_threshold: int | str = "auto",
) -> tuple[int, DataFrame | None, DataFrame | None]:
    """The ONE skew planner → ``(mult, keep_fine, hot)``: the super-cell
    grouping factor, the cells kept at fine granularity, and the cells
    ``salt_hot`` splits — both sets literal ``keys``-only DataFrames
    (None when empty), bounded at the top-``cap`` cells by target count
    (``top_hot_cells``'s tie-break; None = uncapped).  Every decision
    comes from ONE per-cell target count aggregate over ``t``; the jobs
    below are the only ones krige runs at plan time.

    ``group_cells='auto'`` — one summary job (cells, max, mean, total).
    The factor targets 2 cogroup groups per core,
    ``round((cells / (2·par))^(1/d))``: per-group Arrow dispatch is
    near-serial, so fewer groups win until load balance bites.  Under
    spatial SKEW (max above both 4× the mean and the Poisson extreme-value
    allowance mean + 6·√mean + 10 — a pure ratio test degenerates on
    sparse densities) super-grouping would merge adjacent hot-region cells
    into one task and re-serialize exactly what ``salt_hot`` splits
    (sphere path at sf0.1: gc=1 7.5 s, 8 10.1 s, 32 28.5 s).  So the
    cells above the skew threshold stay FINE (one group each, further
    splittable by salting) and the factor is re-derived from the
    remaining cold cells, whose long tail still sheds its dispatch.
    An int skips the summary job.

    ``salt_hot`` with ``hot_threshold='auto'`` — hot = above one shuffle
    partition's FAIR SHARE, ``max(256, total / max(partitions, par))``:
    a pandas cogroup runs one task per key, so such a cell is a straggler
    at any cluster size.  The total is the summary's sum under 'auto'
    grouping, else a map-only ``t.count()`` (summing shuffled counts
    measured 0.7-1.6 s vs ~0.15 s at sf0.1).

    One collect serves both sets: the top-``cap`` cells above the LOWER
    of the two thresholds; each set is the part above its own threshold
    (a prefix of the count-descending order, so identical to a separate
    ``top_hot_cells`` per set)."""
    spark = t.sparkSession
    counts = t.groupBy(*keys).agg(F.count(F.lit(1)).alias("_hot_n"))
    skew_t = hot_t = None
    if group_cells == "auto":
        row = counts.agg(
            F.count(F.lit(1)).alias("cells"),
            F.max("_hot_n").alias("mx"),
            F.avg("_hot_n").alias("av"),
            F.sum("_hot_n").alias("total"),
        ).collect()[0]
        n_cells = row["cells"] or 1
        av = row["av"] or 1.0
        thresh = max(4.0 * av, av + 6.0 * float(av) ** 0.5 + 10.0)
        if row["mx"] is not None and row["mx"] > thresh:
            skew_t = thresh
        total = row["total"] or 0
    if salt_hot:
        hot_t = hot_threshold
        if hot_threshold == "auto":
            if group_cells != "auto":
                total = t.count()
            shp = int(spark.conf.get("spark.sql.shuffle.partitions"))
            hot_t = max(256, int(total / max(shp, par, 1)))
    ths = [th for th in (skew_t, hot_t) if th is not None]
    rows = top_hot_cells(counts, keys, min(ths), cap).collect() if ths else []

    def above(th):
        return [r for r in rows if th is not None and r["_hot_n"] > th]

    keep_rows = above(skew_t)
    mult = group_cells
    if group_cells == "auto":
        n_cold = max(n_cells - len(keep_rows), 1)
        mult = max(1, int(round((n_cold / max(2 * par, 1)) ** (1.0 / len(keys)))))
    return (
        mult,
        _literal_cells(spark, keep_rows, keys),
        _literal_cells(spark, above(hot_t), keys),
    )


def _pairwise_hav(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(na, 2) × (nb, 2) (lat, lon degrees) → central angle in RADIANS,
    broadcast through the golden-pinned kernel (operation order identical
    to variogram.rs:107-118).  The per-point cos(lat) factors are hoisted
    out of the pair broadcast (haversine_dist_coslat — bitwise identical,
    ~2 of the ~7 transcendental ops per pair become O(points))."""
    ca = np.cos(np.radians(A[:, 0]))[:, None]
    cb = np.cos(np.radians(B[:, 0]))[None, :]
    return K.haversine_dist_coslat(A.T[:, :, None], B.T[:, None, :], ca, cb)


def _solve1(A: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Square solve with minimum-norm lstsq fallback for singular systems."""
    try:
        return np.linalg.solve(A, y)
    except np.linalg.LinAlgError:
        return np.linalg.lstsq(A, y, rcond=None)[0]


def _pairwise_dist(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(na, d) × (nb, d) → (na, nb) Euclid; 2-D keeps np.hypot (bitwise
    parity with the original 2-D implementation and its golden tests)."""
    if A.shape[1] == 2:
        return np.hypot(A[:, 0:1] - B[None, :, 0], A[:, 1:2] - B[None, :, 1])
    diff = A[:, None, :] - B[None, :, :]
    return np.sqrt(np.sum(diff * diff, axis=2))


def krige(
    targets: DataFrame,
    cond: DataFrame,
    model: GaussianModel,
    radius: float,
    target_id: str = "id",
    coords: Sequence[str] = ("x", "y"),
    cond_val: str = "val",
    method: str = "ordinary",
    mean: float = 0.0,
    max_cond: int = 512,
    drift_order: int = 1,
    drift_cols: Sequence[str] = (),
    knn: int | None = None,
    haversine: bool = False,
    max_abs_lat: float | None = None,
    salt_hot: int | None = None,
    hot_threshold: int | str = "auto",
    group_cells: int | str = "auto",
) -> DataFrame:
    """Krige ``cond`` onto ``targets`` → (id, <coords…>, krige_mean,
    krige_var, n_cond).  Any dimension (``coords`` of length d — blocking
    cells and neighborhoods generalize to the 3^d ring), matching the
    reference kernels' any-dim contract (krige.rs takes no dimension).

    ``method`` — 'simple' (known ``mean``), 'ordinary' (constant unknown
    mean, one Lagrange row), or 'universal' (unknown polynomial drift: the
    Lagrange block generalizes to monomial drift functions up to
    ``drift_order`` — order 1 = the coords, order 2 adds all quadratic
    monomials; ordinary ≡ universal with order 0).  Universal kriging
    reproduces any target function inside the drift space exactly
    (pytest-pinned).  Targets whose 3^d cell ring holds no conditioning
    points fall back to the prior (mean, sill).  Neighborhoods are capped
    at ``max_cond`` points (nearest to the cell center) to bound the
    per-cell solve.

    ``drift_cols`` — EXTERNAL-DRIFT kriging (KED): names of extra columns
    present on BOTH ``targets`` and ``cond`` (a covariate observed
    everywhere, e.g. elevation, population density, a model field) that
    join the drift basis as additional unbiasedness constraints alongside
    the constant/monomials.  With method='ordinary' the basis is
    {1, drift…} (the classic KED form); with 'universal' the monomials up
    to ``drift_order`` are included too.  The estimate reproduces any
    target function inside the spanned drift space exactly (pytest-
    pinned); incompatible with method='simple' (raises).

    ``knn`` — per-target MOVING-WINDOW kriging: each target is solved with
    its own ``knn`` nearest conditioning points within ``radius`` (rank
    ties broken by coordinates ascending — deterministic under shuffle
    reordering), one batched ``np.linalg.solve`` per (cell, neighborhood-
    size) group instead of one shared per-cell neighborhood.  ``knn=None``
    keeps the per-cell shared neighborhood (all ring points, ``max_cond``-
    capped) — cheaper, but an approximation the moving window removes.
    Ranking distances use explicit mul/add/sqrt (not np.hypot) so rank
    order is bitwise-reproducible against the SQL oracle.

    ``haversine`` — kriging ON THE SPHERE: ``coords`` must be
    ("lat", "lon") in DEGREES and ``radius`` (and the model's len_scale)
    are central angles in RADIANS, matching the engine's geo conventions
    (pair_join / geo_knn_join).  Blocking uses the wrapped haversine grid
    (latitude cells of width degrees(radius); longitude cells wrap at the
    antimeridian, derived from the data's |lat| bound unless
    ``max_abs_lat`` is given), so neighborhoods straddling ±180° stay
    intact; all neighborhood distances are great-circle central angles
    through the golden-pinned kernel.

    ``salt_hot=S`` — EXPLICIT hot-cell salting for the cogroup (north rule):
    a pandas cogroup runs one task per key and AQE cannot split it, so one
    dense cell serializes the stage at skewed scale.  Cells with more than
    ``hot_threshold`` TARGETS are split across S sub-keys (targets hashed,
    cond ring replicated — pair_join.salt_hot_cells); the kriged output is
    bitwise identical (pytest-pinned) because every target still sees its
    cell's full cond ring and all per-group orders are canonicalized.  The
    hot set is detected at PLAN time (``plan_cells``); when it is empty the
    salting machinery is skipped entirely — the cond-ring explode +
    broadcast joins cost ~35% of the sphere bench at sf0.1 purely to salt
    zero cells — so ``salt_hot`` is free until the data has hot cells.
    Both hot sets (salted, kept fine) hold at most ``pair_join.hot_cap``
    cells; output is bitwise invariant under any cap (pinned).

    ``hot_threshold='auto'`` (default): hot = above one shuffle partition's
    FAIR SHARE of targets (floor 256, see ``plan_cells``).  Measured on the
    lang-skewed sphere bench (one 3,090-target cell over a 1,562 fair
    share): splitting it halved the query (10.1 → 5.2 s) even paying the
    salting machinery.  Pass an int when table stats say otherwise.

    ``group_cells`` — SUPER-CELL grouping factor: cogroup on cells of
    ``group_cells × radius`` and iterate the fine cells inside the UDF
    (each group costs ~2-3 ms of fixed Arrow dispatch; 1,600 tiny groups
    WERE the sf0.1 headline krige).  'auto' (default) sizes it from the
    per-cell counts and keeps skew-causing cells fine (``plan_cells``);
    an int skips that job (1 disables grouping).  Per-fine-cell results
    are bitwise identical under any grouping (pinned).

    Plan-time Spark jobs — run while the DataFrame is built, nothing stays
    cached; plan-only consumers should pass ints:

    * ``group_cells`` int, no ``salt_hot``: none.
    * ``group_cells`` int + ``salt_hot``: the hot-set collect, plus a
      map-only ``t.count()`` under ``hot_threshold='auto'``.  The targets
      are then scanned twice (count + counts aggregate): cheap for
      file-backed sources, but an expensive upstream plan is recomputed —
      checkpoint it first.
    * ``group_cells='auto'``: the summary collect, plus the hot-set collect
      when the counts are skewed or ``salt_hot`` is set.
    * ``haversine`` without ``max_abs_lat``: one max(|lat|) aggregate.
    """
    if method not in ("simple", "ordinary", "universal"):
        raise ValueError(
            f"unknown kriging method {method!r}: expected 'simple', "
            "'ordinary' or 'universal' (a typo would silently run the "
            "universal drift-extended solve)"
        )
    check_int("knn", knn, 1, None)
    check_int("max_cond", max_cond, 1)
    check_int("salt_hot", salt_hot, 2, None)
    check_int("hot_threshold", hot_threshold, 0, "auto")
    check_int("group_cells", group_cells, 1, "auto")
    if not (
        isinstance(radius, numbers.Real) and math.isfinite(radius) and radius > 0
    ):
        raise ValueError(f"radius must be finite and > 0, got {radius!r}")
    d = len(coords)
    wrap_n: int | None = None
    if haversine:
        if d != 2:
            raise ValueError("haversine kriging requires coords=(lat, lon)")
        lat_c, lon_c = coords
        if max_abs_lat is None:
            row = (
                targets.select(F.col(lat_c).alias("_l"))
                .union(cond.select(F.col(lat_c).alias("_l")))
                .agg(F.max(F.abs(F.col("_l"))))
                .first()
            )
            max_abs_lat = float(row[0]) if row and row[0] is not None else 0.0
        cell_lat, n_lon, lon_w = haversine_grid(radius, max_abs_lat)
        if n_lon > 1:
            wrap_n = n_lon
        t_cells = geo_cell_exprs(lat_c, lon_c, cell_lat, n_lon, lon_w)
        d_block = len(t_cells)  # 1 when lon blocking is disabled
    else:
        t_cells = _grid_cells(coords, radius)
        d_block = d

    if drift_cols and method == "simple":
        raise ValueError("drift_cols (external drift) requires ordinary/universal")
    ext_n = len(drift_cols)
    td_cols = [f"td{j}" for j in range(ext_n)]
    cd_cols = [f"cd{j}" for j in range(ext_n)]

    jkeys = [f"jc{k}" for k in range(d_block)]
    t = targets.select(
        F.col(target_id).alias("tid"),
        *[F.col(c).alias(f"t{k}") for k, c in enumerate(coords)],
        *[F.col(dc).alias(td_cols[j]) for j, dc in enumerate(drift_cols)],
        *[e.alias(jkeys[k]) for k, e in enumerate(t_cells)],
    )
    c_sel = cond.select(
        *[F.col(cc).alias(f"c{k}") for k, cc in enumerate(coords)],
        *[F.col(dc).alias(cd_cols[j]) for j, dc in enumerate(drift_cols)],
        F.col(cond_val).alias("cval"),
    )
    if haversine:
        c_cells = geo_cell_exprs("c0", "c1", cell_lat, n_lon, lon_w)
    else:
        c_cells = _grid_cells(tuple(f"c{k}" for k in range(d)), radius)
    c = _ring_stamp(c_sel, c_cells, wrap_n=wrap_n)

    fine = list(jkeys)
    spark = targets.sparkSession
    mult, keep_fine, hot = plan_cells(
        t,
        jkeys,
        spark.sparkContext.defaultParallelism,
        hot_cap(spark),
        group_cells,
        salt_hot,
        hot_threshold,
    )
    if hot is not None:
        t, c, jkeys = salt_hot_cells(t, c, hot, jkeys, "tid", salt_hot)

    nugget = model.nugget
    sill = model.sill
    mcov = model.cov  # any functions.models.CovModel (tiny, picklable)
    simple = method == "simple"
    mu = float(mean)
    geo = haversine
    _pw = _pairwise_hav if geo else _pairwise_dist
    geo_grid = (cell_lat, n_lon, lon_w) if geo else None
    # monomial drift basis: ordinary kriging = constant drift only
    n_drift_order = 0 if method == "ordinary" else int(drift_order)

    def drift_basis_b(P: np.ndarray, D: np.ndarray | None = None) -> np.ndarray:
        # (m, n, d) [+ (m, n, ext_n)] → (m, nd, n); both solvers' one
        # drift-basis builder (m = 1 for the shared-neighborhood path)
        m, n, _ = P.shape
        rows = [np.ones((m, n))]
        if n_drift_order >= 1:
            rows += [P[:, :, kk] for kk in range(d)]
        if n_drift_order >= 2:
            rows += [P[:, :, i] * P[:, :, j] for i in range(d) for j in range(i, d)]
        if ext_n:
            rows += [D[:, :, j] for j in range(ext_n)]
        return np.stack(rows, axis=1)

    t_cols = [f"t{k}" for k in range(d)]
    c_cols = [f"c{k}" for k in range(d)]
    out_schema = (
        "tid long, "
        + ", ".join(f"{tc} double" for tc in t_cols)
        + ", krige_mean double, krige_var double, n_cond long"
    )
    out_names = ["tid", *t_cols, "krige_mean", "krige_var", "n_cond"]
    in_t_cols = ["tid", *t_cols, *td_cols]
    in_c_cols = [*c_cols, *cd_cols, "cval"]

    # ---- Arrow-native cogroup plumbing (round-6 optimization) ----------
    # The solvers take/return plain dicts of numpy arrays; one Arrow→numpy
    # conversion per GROUP replaces the per-group pandas DataFrame
    # round-trip (applyInPandas) and — in the super-grouped path — the
    # per-FINE-CELL pandas slicing + DataFrame construction + pd.concat,
    # which at ~0.5-1 ms/cell was a measurable serial term (1,600 cells in
    # the sf0.1 headline krige).  Values are bitwise unchanged: the float64
    # buffers pass through untouched and every numeric path below is the
    # same numpy code operating on the same arrays in the same order.

    def _tbl_cols(tbl, cols) -> dict:
        out = {}
        for cn in cols:
            col = tbl.column(cn)
            if hasattr(col, "combine_chunks"):  # ChunkedArray → Array
                col = col.combine_chunks()
            out[cn] = col.to_numpy(zero_copy_only=False)
        return out

    def _empty_out() -> dict:
        return {
            "tid": np.empty(0, np.int64),
            **{tc: np.empty(0, np.float64) for tc in t_cols},
            "krige_mean": np.empty(0, np.float64),
            "krige_var": np.empty(0, np.float64),
            "n_cond": np.empty(0, np.int64),
        }

    def _out_table(dd: dict):
        import pyarrow as pa

        return pa.Table.from_arrays(
            [
                pa.array(np.ascontiguousarray(dd["tid"], dtype=np.int64), type=pa.int64()),
                *[
                    pa.array(
                        np.ascontiguousarray(dd[tc], dtype=np.float64),
                        type=pa.float64(),
                    )
                    for tc in t_cols
                ],
                pa.array(np.ascontiguousarray(dd["krige_mean"], dtype=np.float64), type=pa.float64()),
                pa.array(np.ascontiguousarray(dd["krige_var"], dtype=np.float64), type=pa.float64()),
                pa.array(np.ascontiguousarray(dd["n_cond"], dtype=np.int64), type=pa.int64()),
            ],
            names=out_names,
        )

    def _stack(dd: dict, cols) -> np.ndarray:
        # (n, len(cols)) float64 — same values pandas .to_numpy() produced
        return np.stack([dd[cn].astype(np.float64, copy=False) for cn in cols], axis=1)

    def solve_cell(key, tdat: dict, cdat: dict) -> dict:
        nt0 = tdat["tid"].shape[0]
        if nt0 == 0:
            return _empty_out()
        T = _stack(tdat, t_cols)  # (nt, d)
        base = {"tid": tdat["tid"]}
        for k, tc in enumerate(t_cols):
            base[tc] = T[:, k]
        if cdat["cval"].shape[0] == 0:
            return {
                **base,
                "krige_mean": np.full(len(T), mu),
                "krige_var": np.full(len(T), sill),
                "n_cond": np.zeros(len(T), dtype=np.int64),
            }
        C_pts = _stack(cdat, c_cols)  # (nc, d)
        cv = cdat["cval"].astype(np.float64, copy=False)
        C_ext = _stack(cdat, cd_cols) if ext_n else None
        T_ext = _stack(tdat, td_cols) if ext_n else None
        # canonical cond order (coords ascending, then value, then any
        # external-drift columns — the knn path's rule extended), applied
        # UNCONDITIONALLY: within-group row order is shuffle-arrival
        # order, so two plans computing the same cell (plain vs salted,
        # fine vs grouped) deliver the same cond SET in different orders —
        # and a permuted Gram matrix shifts the LU solve by ulps.  Sorting
        # makes the solve a pure function of the set.  Drift columns must
        # join the keys: two rows tying on (coords, value) but differing
        # in drift would otherwise keep arrival order (lexsort is stable)
        # and permute the bordered Fd rows between plans.  (The max_cond
        # trim below re-ranks by center distance; its lexsort breaks ties
        # with the same full key set, so the trim is order-free too.)
        _ext_keys = (
            tuple(C_ext[:, j] for j in range(ext_n - 1, -1, -1)) if ext_n else ()
        )
        _co = np.lexsort(
            _ext_keys
            + (cv,)
            + tuple(C_pts[:, k] for k in range(C_pts.shape[1] - 1, -1, -1))
        )
        C_pts, cv = C_pts[_co], cv[_co]
        if ext_n:
            C_ext = C_ext[_co]
        if len(C_pts) > max_cond:
            # keep the max_cond conditioning points nearest the cell center
            if geo_grid is not None:
                cl, nl, lw = geo_grid
                if len(key) > 1:
                    center = np.array(
                        [(key[0] + 0.5) * cl, (key[1] + 0.5) * lw - 180.0]
                    )
                    d2 = _pairwise_hav(C_pts, center[None, :])[:, 0]
                else:
                    # lon blocking disabled: the cell is a full latitude
                    # band with no lon extent — rank by latitude distance
                    # only (a lon=0 'center' would bias the kept points
                    # toward the prime meridian)
                    d2 = np.abs(C_pts[:, 0] - (key[0] + 0.5) * cl)
            else:
                center = (np.asarray(key, dtype=np.float64) + 0.5) * radius
                d2 = np.sum((C_pts - center) ** 2, axis=1)
            # canonical order (center distance, coords…, value): a bare
            # argpartition breaks distance ties by shuffle arrival order,
            # making the kept neighborhood — and the kriged values —
            # nondeterministic across runs (the knn path's lexsort rule).
            # Rows tying on ALL keys keep their relative order from the
            # unconditional canonical sort above (lexsort is stable), so
            # drift columns need not repeat here.
            order = np.lexsort(
                (cv,)
                + tuple(C_pts[:, k] for k in range(C_pts.shape[1] - 1, -1, -1))
                + (d2,)
            )
            keep = order[:max_cond]
            C_pts, cv = C_pts[keep], cv[keep]
            if ext_n:
                C_ext = C_ext[keep]
        nc = len(C_pts)

        dxx = _pw(C_pts, C_pts)
        dxt = _pw(C_pts, T)
        C = mcov(dxx) + nugget * np.eye(nc)  # nugget on the diagonal only
        V = mcov(dxt)  # (nc, nt)

        if simple:
            # pre-invert once per neighborhood, then run the reference kernel
            try:
                M = np.linalg.inv(C)
            except np.linalg.LinAlgError:
                M = np.linalg.pinv(C)  # coincident samples with zero nugget
            field, err = K.calc_field_krige_and_variance(M, V, cv - mu)
            est = field + mu
            kvar = np.maximum(sill - err, 0.0)
        else:
            # ordinary/universal kriging: drift-extended (Lagrange) solve.
            # Ordinary = constant drift {1}; universal adds monomials —
            # the unbiasedness constraints F·w = f(target) per drift fn.
            Fd = drift_basis_b(C_pts[None], C_ext[None] if ext_n else None)[0]
            Ft = drift_basis_b(T[None], T_ext[None] if ext_n else None)[0]
            nd = Fd.shape[0]
            A = np.zeros((nc + nd, nc + nd))
            A[:nc, :nc] = C
            A[nc:, :nc] = Fd
            A[:nc, nc:] = Fd.T
            B = np.vstack([V, Ft])
            # width-stable solve — NOT plain np.linalg.solve(A, B):
            # LAPACK's multi-RHS getrs/trsm is nrhs-blocked, so the same
            # target column solved inside groups of different WIDTH (a
            # salted sub-group vs the plain group; fine vs super-grouped)
            # drifts by ulps (captured-array repro: identical A and B_j,
            # different W_j at nrhs 801 vs 107).  K.stable_solve pins the
            # per-call width so each target's weights are a pure function
            # of (A, its own column) — the salting/grouping
            # bitwise-invariance pins rest on this.
            try:
                W = K.stable_solve(A, B)  # weights + lagrange multipliers
            except np.linalg.LinAlgError:
                # singular (e.g. universal with fewer neighbors than drift
                # functions): pinv = the minimum-norm lstsq solution,
                # applied through the width-stable matmul
                W = K.stable_matmul(np.linalg.pinv(A), B)
            # multiply+sum over axis 0, NOT W[:nc].T @ cv: the gemv kernel
            # BLAS picks depends on nt, so the same target solved in a
            # salted sub-group (different nt) drifted 1 ulp; the pairwise
            # axis-0 reduction depends only on nc — identical for every
            # group size (the salting bitwise-invariance pin)
            est = (W[:nc] * cv[:, None]).sum(axis=0)
            kvar = np.maximum(
                sill
                - np.einsum("ij,ij->j", W[:nc], V)
                - np.einsum("ij,ij->j", W[nc:], Ft),
                0.0,
            )
        return {
            **base,
            "krige_mean": est,
            "krige_var": kvar,
            "n_cond": np.full(len(T), nc, dtype=np.int64),
        }

    def solve_cell_knn(key, tdat: dict, cdat: dict) -> dict:
        if tdat["tid"].shape[0] == 0:
            return _empty_out()
        T = _stack(tdat, t_cols)
        nt = len(T)
        base = {"tid": tdat["tid"]}
        for kk, tc in enumerate(t_cols):
            base[tc] = T[:, kk]
        T_ext = _stack(tdat, td_cols) if ext_n else None
        est = np.full(nt, mu)
        kvar = np.full(nt, sill)
        ncond = np.zeros(nt, dtype=np.int64)
        if cdat["cval"].shape[0] != 0:
            C_pts = _stack(cdat, c_cols)
            cv = cdat["cval"].astype(np.float64, copy=False)
            C_ext = _stack(cdat, cd_cols) if ext_n else None
            # canonical cond order (coords ascending, then value): stable
            # argsort then breaks distance ties by coordinates, not by
            # shuffle arrival; cval is the final key so two conditioning
            # points at bitwise-identical coords but different values still
            # sort deterministically (mirrored by the oracle's
            # ORDER BY dist, px, py, pv)
            order = np.lexsort(
                (cv,) + tuple(C_pts[:, kk] for kk in range(d - 1, -1, -1))
            )
            C_pts, cv = C_pts[order], cv[order]
            if ext_n:
                C_ext = C_ext[order]
            nc = len(C_pts)
            # TARGET-CHUNKED: every O(nc)-wide buffer (distance block +
            # its argsort) is capped at ~64 MB, so peak task memory stays
            # ~250 MB however hot the cell (skewed geocoding packs 10^4+
            # points into one cell — the unchunked form allocated nc×nt
            # and nc×nc matrices).  No floor on the chunk: a hotter cell
            # just loops more.  Covariances are evaluated on GATHERED
            # (m, q) / (m, q, q) neighbor blocks only, never the full cell.
            chunk = int(max(1, min(nt, (1 << 23) // max(nc, 1) + 1)))
            for lo in range(0, nt, chunk):
                Tc = T[lo : lo + chunk]
                if geo_grid is not None:
                    dxt = _pairwise_hav(C_pts, Tc)  # (nc, m_c) central angles
                else:
                    # per-axis accumulation (no (nc, m, d) intermediate);
                    # left-to-right axis order — bitwise == the SQL
                    # oracle's dx*dx + dy*dy
                    dxt = np.zeros((nc, len(Tc)))
                    for kk in range(d):
                        dk = C_pts[:, kk : kk + 1] - Tc[None, :, kk]
                        dxt += dk * dk
                    np.sqrt(dxt, out=dxt)
                valid = dxt <= radius
                counts = np.minimum(valid.sum(axis=0), knn)
                # mask invalid entries in place: gathered (valid) cov
                # inputs are untouched, no second (nc, m) float buffer
                np.putmask(dxt, ~valid, np.inf)
                sel = np.argsort(dxt, axis=0, kind="stable")[:knn]
                for q in np.unique(counts):
                    if q == 0:
                        continue
                    S = np.nonzero(counts == q)[0]
                    G = lo + S  # global target rows
                    idx = sel[:q, S].T  # (m, q) neighbor indices per target
                    P_b = C_pts[idx]  # (m, q, d)
                    if geo_grid is not None:
                        A2 = P_b.transpose(2, 0, 1)  # (2, m, q)
                        cb_q = np.cos(np.radians(A2[0]))  # (m, q) per-point
                        D_b = K.haversine_dist_coslat(
                            A2[:, :, :, None],
                            A2[:, :, None, :],
                            cb_q[:, :, None],
                            cb_q[:, None, :],
                        )
                    else:
                        dd = P_b[:, :, None, :] - P_b[:, None, :, :]
                        D_b = np.sqrt(np.sum(dd * dd, axis=3))
                    C_b = mcov(D_b) + nugget * np.eye(q)
                    V_b = mcov(dxt[idx, S[:, None]])  # (m, q)
                    v_b = cv[idx]  # (m, q)
                    if simple:
                        try:
                            W = np.linalg.solve(C_b, V_b[:, :, None])[:, :, 0]
                        except np.linalg.LinAlgError:
                            W = np.stack([_solve1(A, y) for A, y in zip(C_b, V_b)])
                        est[G] = np.einsum("mq,mq->m", W, v_b - mu) + mu
                        kvar[G] = np.maximum(
                            sill - np.einsum("mq,mq->m", W, V_b), 0.0
                        )
                    else:
                        E_b = C_ext[idx] if ext_n else None  # (m, q, ext_n)
                        Fd_b = drift_basis_b(P_b, E_b)  # (m, nd, q)
                        # (m, nd) as the transpose of a C-ordered (nd, m):
                        # einsum's reduction order follows the memory layout,
                        # so a C-ordered (m, nd) would shift ulps
                        Ft_b = drift_basis_b(
                            Tc[S][None],
                            T_ext[lo : lo + chunk][S][None] if ext_n else None,
                        )[0].T
                        ndr = Fd_b.shape[1]
                        m = len(S)
                        A_b = np.zeros((m, q + ndr, q + ndr))
                        A_b[:, :q, :q] = C_b
                        A_b[:, q:, :q] = Fd_b
                        A_b[:, :q, q:] = np.transpose(Fd_b, (0, 2, 1))
                        B_b = np.concatenate([V_b, Ft_b], axis=1)[:, :, None]
                        try:
                            W = np.linalg.solve(A_b, B_b)[:, :, 0]
                        except np.linalg.LinAlgError:
                            # only singular items take lstsq (e.g. universal
                            # with fewer neighbors than drift fns)
                            W = np.stack(
                                [_solve1(A, y[:, 0]) for A, y in zip(A_b, B_b)]
                            )
                        est[G] = np.einsum("mq,mq->m", W[:, :q], v_b)
                        kvar[G] = np.maximum(
                            sill
                            - np.einsum("mq,mq->m", W[:, :q], V_b)
                            - np.einsum("mn,mn->m", W[:, q:], Ft_b),
                            0.0,
                        )
                    ncond[G] = q
        return {**base, "krige_mean": est, "krige_var": kvar, "n_cond": ncond}

    base_fn = solve_cell_knn if knn is not None else solve_cell

    group_keys = jkeys  # fine cells (+ _salt): one cell per group
    if mult > 1:
        skeys = [f"sc{k}" for k in range(d_block)]
        sexprs = [F.floor(F.col(f) / F.lit(mult)) for f in fine]
        flag_cols = []
        if keep_fine is not None:
            # HYBRID grouping (auto under skew): the skew-causing cells —
            # broadcast onto both cogroup sides, same pattern as salting's
            # hot set — keep FINE granularity (one group each, further
            # splittable by salt_hot), while the cold tail groups into
            # super-cells.  The _scf flag joins the group key so a fine
            # cell id can never collide with a super-cell id.
            # one kf instance PER SIDE: sharing one DataFrame between the
            # two cogroup inputs makes _gfine's attribute id ambiguous at
            # the cogroup analysis (self-join lineage)
            t = t.join(
                F.broadcast(keep_fine.withColumn("_gfine", F.lit(True))),
                fine,
                "left",
            )
            c = c.join(
                F.broadcast(keep_fine.withColumn("_gfine", F.lit(True))),
                fine,
                "left",
            )
            flag = F.coalesce(F.col("_gfine"), F.lit(False))
            sexprs = [F.when(flag, F.col(f)).otherwise(e) for f, e in zip(fine, sexprs)]
            flag_cols = [flag.alias("_scf")]
        # drop the join helper AFTER the select evaluates flag/sexprs: it
        # would otherwise ride into the cogrouped Arrow frames (an extra
        # boolean per row through the exchange, unused by solve_cells)
        scols = [e.cast("long").alias(s) for e, s in zip(sexprs, skeys)]
        t = t.select("*", *scols, *flag_cols).drop("_gfine")
        c = c.select("*", *scols, *flag_cols).drop("_gfine")
        # _salt (and the fine/super disambiguation flag) stay group keys
        group_keys = (
            skeys + (["_scf"] if flag_cols else []) + jkeys[d_block:]
        )

    def _cell_slices(dd: dict):
        # stable lexsort by the fine keys: cells ascend by key, rows
        # keep arrival order within a cell — exactly the iteration
        # order pandas groupby(fine, sort=True) produced, so per-cell
        # inputs (and the output row order) are bitwise unchanged
        n = dd[fine[0]].shape[0]
        order = np.lexsort(tuple(dd[f] for f in reversed(fine)))
        change = np.zeros(max(n - 1, 0), dtype=bool)
        for f in fine:
            kf = dd[f][order]
            change |= kf[1:] != kf[:-1]
        starts = np.flatnonzero(np.concatenate(([True], change)))
        ends = np.append(starts[1:], n)
        return order, starts, ends

    def solve_cells(key, t_tbl, c_tbl):
        # iterate the fine blocking cells inside ONE cogroup group (one
        # cell when mult == 1): identical (cell, targets, ring) triples
        # reach base_fn under any grouping or salting, so the per-cell
        # outputs are bitwise invariant.  All slicing is numpy (no
        # per-cell pandas frames, no pd.concat).
        if t_tbl.num_rows == 0:
            return _out_table(_empty_out())
        tdat = _tbl_cols(t_tbl, in_t_cols + fine)
        t_ord, t_st, t_en = _cell_slices(tdat)
        c_index: dict = {}
        cdat = None
        if c_tbl.num_rows:
            cdat = _tbl_cols(c_tbl, in_c_cols + fine)
            c_ord, c_st, c_en = _cell_slices(cdat)
            for i in range(len(c_st)):
                r0 = c_ord[c_st[i]]
                kk = tuple(int(cdat[f][r0]) for f in fine)
                c_index[kk] = c_ord[c_st[i] : c_en[i]]
        empty_c = {cn: np.empty(0, np.float64) for cn in in_c_cols}
        outs = []
        for i in range(len(t_st)):
            rows = t_ord[t_st[i] : t_en[i]]
            kk = tuple(int(tdat[f][rows[0]]) for f in fine)
            tsub = {cn: tdat[cn][rows] for cn in in_t_cols}
            crows = c_index.get(kk)
            csub = (
                empty_c
                if crows is None
                else {cn: cdat[cn][crows] for cn in in_c_cols}
            )
            outs.append(base_fn(kk, tsub, csub))
        return _out_table(
            {cn: np.concatenate([o[cn] for o in outs]) for cn in out_names}
        )

    out = (
        t.groupBy(*group_keys)
        .cogroup(c.groupBy(*group_keys))
        .applyInArrow(solve_cells, out_schema)
    )
    return out.select(
        F.col("tid").alias(target_id),
        *[F.col(f"t{k}").alias(c) for k, c in enumerate(coords)],
        "krige_mean",
        "krige_var",
        "n_cond",
    )

"""Distributed kriging: Gram-matrix assembly + solve per neighborhood.

The reference kernel (krige.rs:24-118) receives a PRE-INVERTED system matrix
and computes field = condᵀ·Mᵀ·V, error = v_jᵀ·Mᵀ·v_j; the assembly + solve
happens upstream in GSTools (reference benches/gen_benchmark_inputs.py:35-59).
Per the north star, this engine owns BOTH steps:

* neighborhoods via the cell-ring blocking (a target cell's ring = the
  conditioning points of its 3^d neighbor cells at cell_size = radius);
* per fine cell, a selector picks the neighborhoods (the cell's shared
  ring, or each target's knn), the model's covariances fill their Gram
  matrices, and ``kernels.krige_batch`` solves them — the reference's
  condᵀ·M·v / vᵀ·M·v products (krige.rs:24-118) taken through a
  factorized solve instead of a pre-inverted M.

Two physical plans deliver the rings (chosen in ``krige``, same bits):

* BROADCAST (``knn`` set, cond under Spark's broadcast bound): cond and
  its cell keys are collected once and captured in the UDF closure; one
  ``mapInArrow`` over the round-robin-spread targets looks each cell's
  ring up in a per-task cell index.  No planner job, no exchange of cond
  rows, no cogroup — a small build side is broadcast, not partitioned.
* PARTITIONED (everything else): cond rows are stamped onto the ring of
  their cell and one ``cogroup().applyInArrow`` UDF iterates the fine
  cells of each group (one cell, or a super-cell of them);
  ``plan_cells`` makes every skew decision (grouping factor, keep-fine
  cells, salted hot cells) from one per-cell count aggregate.

Covariance models: any functions/models.CovModel (Gaussian, Exponential,
Spherical, Matérn, Stable); the nugget enters only the Gram diagonal.
Simple (known mean), ordinary (Lagrange row), and universal (polynomial
drift) kriging are provided; anisotropy via functions.models.isotropize.
"""

from __future__ import annotations

import itertools
import numbers
from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from gstools_core_spark import kernels as K
from gstools_core_spark.session import broadcast_threshold
from gstools_core_spark.functions.sqltext import lit, q
from gstools_core_spark.operators.pair_join import (
    check_int,
    check_positive,
    geo_cell_sql,
    grid_cell_sql,
    haversine_grid,
    hot_cap,
    offsets_sql,
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
    df: DataFrame,
    cols: Sequence[str],
    cell_exprs: Sequence[str],
    wrap_n: int | None = None,
) -> DataFrame:
    """Stamp each row of ``df`` (columns ``cols``) onto the full 3^d ring
    of its blocking cell (``cell_exprs`` = one cell-index SQL expression
    per axis) → ``cols`` + jc0..; the LAST axis wraps mod ``wrap_n`` when
    given (longitude at the antimeridian)."""
    d = len(cell_exprs)
    offsets = offsets_sql(list(itertools.product((-1, 0, 1), repeat=d)))

    def stamped(k: int) -> str:
        e = f"_c{k} + _off.d{k}"
        if wrap_n is not None and k == d - 1:
            e = f"pmod({e}, {wrap_n})"
        return e

    return (
        df.selectExpr("*", *[f"{e} AS _c{k}" for k, e in enumerate(cell_exprs)])
        .selectExpr("*", f"explode({offsets}) AS _off")
        .selectExpr(*cols, *[f"{stamped(k)} AS jc{k}" for k in range(d)])
    )


def _literal_cells(spark, rows: list, cols: Sequence[str]) -> DataFrame | None:
    """Collected cell-key rows → a literal DataFrame; None when empty (lets
    callers skip the machinery the set would drive).  Built JVM-side from
    literals, not ``createDataFrame(list)`` (a Python RDD that Python
    workers serve on every execution)."""
    if not rows:
        return None
    structs = ", ".join(
        "struct(" + ", ".join(f"CAST({lit(r[c])} AS BIGINT) AS {c}" for c in cols) + ")"
        for r in rows
    )
    return spark.range(1).selectExpr(f"inline(array({structs}))")


def _tbl_cols(tbl, cols) -> dict:
    """Arrow table / record batch columns → numpy arrays by name."""
    out = {}
    for cn in cols:
        col = tbl.column(cn)
        if hasattr(col, "combine_chunks"):  # ChunkedArray → Array
            col = col.combine_chunks()
        out[cn] = col.to_numpy(zero_copy_only=False)
    return out


def _stack(dd: dict, cols) -> np.ndarray:
    return np.stack([dd[cn].astype(np.float64, copy=False) for cn in cols], axis=1)


def _small_cond(
    cond: DataFrame,
    x_exprs: dict,
    cell_exprs: Sequence[str],
    keys: Sequence[str],
    wrap_n: int | None,
) -> dict | None:
    """The conditioning rows as numpy columns — ``x_exprs`` (name → SQL
    over ``cond``) plus their blocking-cell ``keys`` (the last one taken
    mod ``wrap_n`` when given) —
    when they fit under Spark's own broadcast bound,
    ``spark.sql.autoBroadcastJoinThreshold`` at 8 bytes per value; else
    None.  One bounded collect (``limit(bound + 1)``); a threshold ≤ 0
    disables broadcasting and runs no job."""
    thresh = broadcast_threshold(cond.sparkSession)
    if thresh <= 0:
        return None
    cells = list(cell_exprs)
    if wrap_n is not None:
        cells[-1] = f"pmod({cells[-1]}, {wrap_n})"
    bound = thresh // (8 * (len(x_exprs) + len(keys)))
    tbl = (
        cond.selectExpr(
            *[f"{e} AS {n}" for n, e in x_exprs.items()],
            *[f"{e} AS {k}" for e, k in zip(cells, keys)],
        )
        .limit(bound + 1)
        .toArrow()
    )
    if tbl.num_rows > bound:
        return None
    return _tbl_cols(tbl, [*x_exprs, *keys])


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
    below are the only ones the partitioned plan adds at plan time.

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
    if group_cells != "auto" and not salt_hot:
        return group_cells, None, None  # no decision to make: no job
    spark = t.sparkSession
    counts = t.groupBy(*keys).agg(F.expr("count(1) AS _hot_n"))
    skew_t = hot_t = None
    if group_cells == "auto":
        row = counts.selectExpr(
            "count(1) AS cells",
            "max(_hot_n) AS mx",
            "avg(_hot_n) AS av",
            "sum(_hot_n) AS total",
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
    """(..., na, 2) × (..., nb, 2) (lat, lon degrees) → (..., na, nb)
    central angles in RADIANS, broadcast through the golden-pinned kernel
    (operation order identical to variogram.rs:107-118).  The per-point
    cos(lat) factors are hoisted out of the pair broadcast
    (haversine_dist_coslat — bitwise identical, ~2 of the ~7
    transcendental ops per pair become O(points))."""
    A, B = np.moveaxis(A, -1, 0), np.moveaxis(B, -1, 0)
    ca = np.cos(np.radians(A[0]))[..., :, None]
    cb = np.cos(np.radians(B[0]))[..., None, :]
    return K.haversine_dist_coslat(A[..., :, None], B[..., None, :], ca, cb)


def _pairwise_euclid(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(..., na, d) × (..., nb, d) → (..., na, nb) Euclidean distances,
    accumulated per axis left to right with explicit mul/add, then sqrt:
    bitwise equal to the SQL oracle's sqrt(dx*dx + dy*dy), so knn rank
    order reproduces there (np.hypot does not)."""
    sq = None
    for k in range(A.shape[-1]):
        dk = A[..., :, None, k] - B[..., None, :, k]
        dk *= dk
        if sq is None:
            sq = dk
        else:
            sq += dk
    return np.sqrt(sq, out=sq)


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
    ``drift_order`` ∈ {0, 1, 2} — order 1 = the coords, order 2 adds all
    quadratic monomials; ordinary ≡ universal with order 0; any other
    value raises).  Universal kriging reproduces any target function
    inside the drift space exactly (pytest-pinned).  Targets whose 3^d
    cell ring holds no conditioning points fall back to the prior (mean,
    sill).  Neighborhoods are capped at ``max_cond`` points (nearest to
    the cell center) to bound the per-cell solve.

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
    ties broken by coordinates, then value, then drift columns ascending —
    deterministic under shuffle reordering), one batched
    ``kernels.krige_batch`` call per (cell, neighborhood-size) group
    instead of one shared per-cell neighborhood.  ``knn=None`` keeps the
    per-cell shared neighborhood (all ring points, ``max_cond``-capped) —
    cheaper, but an approximation the moving window removes.  Planar
    distances use explicit mul/add/sqrt (not np.hypot) so rank order is
    bitwise-reproducible against the SQL oracle.

    A neighborhood with fewer points than drift functions (universal or
    KED; shared path: the capped cell neighborhood, knn path: each
    neighborhood size) is underdetermined: its targets keep the prior
    (mean, sill) with ``n_cond`` 0, like an empty ring.  Another singular
    system (coincident samples with zero nugget) takes the minimum-norm
    least-squares solution, ``pinv(A)·b``, for that neighborhood alone;
    every other neighborhood keeps its plain solve.

    Physical plan — chosen at build time from an observable input size,
    with identical output bits either way (pytest-pinned):

    * BROADCAST when ``knn`` is set and the cond rows fit under Spark's
      ``spark.sql.autoBroadcastJoinThreshold`` at 8 bytes per value
      (coords, value, drift columns and cell keys): one bounded collect
      of cond, then a ``mapInArrow`` over the targets (one round-robin
      exchange, no cogroup).  A knn target's solve shares nothing with
      the other targets of its cell, so splitting a cell across tasks
      costs no solve work.  A threshold ≤ 0 turns it off.
    * PARTITIONED otherwise, and always for ``knn=None``: the shared path
      factorizes one system per cell, which every task holding some of
      the cell's targets would repeat.  ``salt_hot``, ``hot_threshold``
      and ``group_cells`` (validated on every call) apply to this plan
      only.

    ``haversine`` — kriging ON THE SPHERE: ``coords`` must be
    ("lat", "lon") in DEGREES and ``radius`` (and the model's len_scale)
    are central angles in RADIANS, matching the engine's geo conventions
    (pair_join / geo_knn_join).  Blocking uses the wrapped haversine grid
    (latitude cells of width degrees(radius); longitude cells wrap at the
    antimeridian, derived from the data's |lat| bound unless
    ``max_abs_lat`` is given), so neighborhoods straddling ±180° stay
    intact; all neighborhood distances are great-circle central angles
    through the golden-pinned kernel.

    ``salt_hot=S`` — EXPLICIT hot-cell salting for the cogroup (north rule;
    partitioned plan only):
    a pandas cogroup runs one task per key and AQE cannot split it, so one
    dense cell serializes the stage at skewed scale.  Cells with more than
    ``hot_threshold`` TARGETS are split across S sub-keys (targets hashed,
    cond ring replicated — pair_join.salt_hot_cells); the kriged output is
    bitwise identical (pytest-pinned) because every target still sees its
    cell's full cond ring, all per-group orders are canonicalized, and a
    target's solve does not depend on how many targets share it (a target
    alone in its sub-group included — ``kernels.krige_batch``).  The
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

    ``group_cells`` — SUPER-CELL grouping factor (partitioned plan only):
    cogroup on cells of
    ``group_cells × radius`` and iterate the fine cells inside the UDF
    (each group costs ~2-3 ms of fixed Arrow dispatch; 1,600 tiny groups
    WERE the sf0.1 headline krige).  'auto' (default) sizes it from the
    per-cell counts and keeps skew-causing cells fine (``plan_cells``);
    an int skips that job (1 disables grouping).  Per-fine-cell results
    are bitwise identical under any grouping (pinned).

    Plan-time Spark jobs — run while the DataFrame is built, nothing stays
    cached; plan-only consumers should pass ints (partitioned plan) or set
    the broadcast threshold to -1:

    * broadcast plan: the one bounded cond collect.
    * partitioned plan: with ``knn`` set, that collect too (it found cond
      over the bound) unless the threshold is ≤ 0; then, per skew config:

      - ``group_cells`` int, no ``salt_hot``: none.
      - ``group_cells`` int + ``salt_hot``: the hot-set collect, plus a
        map-only ``t.count()`` under ``hot_threshold='auto'``.  The
        targets are then scanned twice (count + counts aggregate): cheap
        for file-backed sources, but an expensive upstream plan is
        recomputed — checkpoint it first.
      - ``group_cells='auto'``: the summary collect, plus the hot-set
        collect when the counts are skewed or ``salt_hot`` is set.
    * ``haversine`` without ``max_abs_lat``: one max(|lat|) aggregate
      (either plan).
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
    if (
        not isinstance(drift_order, numbers.Integral)
        or isinstance(drift_order, bool)
        or drift_order not in (0, 1, 2)
    ):
        raise ValueError(f"drift_order must be 0, 1 or 2, got {drift_order!r}")
    check_positive("radius", radius)
    d = len(coords)
    wrap_n: int | None = None
    if haversine:
        if d != 2:
            raise ValueError("haversine kriging requires coords=(lat, lon)")
        lat_c, lon_c = coords
        if max_abs_lat is None:
            row = (
                targets.selectExpr(f"{q(lat_c)} AS _l")
                .union(cond.selectExpr(f"{q(lat_c)} AS _l"))
                .agg(F.expr("max(abs(_l))"))
                .first()
            )
            max_abs_lat = float(row[0]) if row and row[0] is not None else 0.0
        cell_lat, n_lon, lon_w = haversine_grid(radius, max_abs_lat)
        if n_lon > 1:
            wrap_n = n_lon
        t_cells = geo_cell_sql(lat_c, lon_c, cell_lat, n_lon, lon_w)
        d_block = len(t_cells)  # 1 when lon blocking is disabled
    else:
        t_cells = grid_cell_sql(coords, radius)
        d_block = d

    if drift_cols and method == "simple":
        raise ValueError("drift_cols (external drift) requires ordinary/universal")
    ext_n = len(drift_cols)
    td_cols = [f"td{j}" for j in range(ext_n)]
    cd_cols = [f"cd{j}" for j in range(ext_n)]

    jkeys = [f"jc{k}" for k in range(d_block)]
    fine = list(jkeys)
    t = targets.selectExpr(
        f"{q(target_id)} AS tid",
        *[f"{q(c)} AS t{k}" for k, c in enumerate(coords)],
        *[f"{q(dc)} AS {td_cols[j]}" for j, dc in enumerate(drift_cols)],
        *[f"{e} AS {jkeys[k]}" for k, e in enumerate(t_cells)],
    )
    # cond's columns: name → SQL over cond
    c_proj = {
        **{f"c{k}": q(cc) for k, cc in enumerate(coords)},
        **{cd_cols[j]: q(dc) for j, dc in enumerate(drift_cols)},
        "cval": q(cond_val),
    }

    nugget = model.nugget
    sill = model.sill
    mcov = model.cov  # any functions.models.CovModel (tiny, picklable)
    simple = method == "simple"
    mu = float(mean)
    _pw = _pairwise_hav if haversine else _pairwise_euclid
    geo_grid = (cell_lat, lon_w) if haversine else None
    # monomial drift basis: ordinary kriging = constant drift only
    n_drift_order = 0 if method == "ordinary" else drift_order
    # drift functions bordering the system; a neighborhood with fewer
    # points is underdetermined and keeps the prior
    n_basis = 0 if simple else (
        1
        + (d if n_drift_order >= 1 else 0)
        + (d * (d + 1) // 2 if n_drift_order >= 2 else 0)
        + ext_n
    )

    def drift_basis_b(P: np.ndarray, D: np.ndarray) -> np.ndarray:
        # (m, n, d) points + (m, n, ext_n) drift columns → (m, nd, n)
        m, n, _ = P.shape
        rows = [np.ones((m, n))]
        if n_drift_order >= 1:
            rows += [P[:, :, kk] for kk in range(d)]
        if n_drift_order >= 2:
            rows += [P[:, :, i] * P[:, :, j] for i in range(d) for j in range(i, d)]
        rows += [D[:, :, j] for j in range(ext_n)]
        return np.stack(rows, axis=1)

    def assemble(P, Pe, T, Te):
        # (m, n, d) neighborhoods [+ drift cols], (m, t, d) targets → the
        # Gram matrices (nugget on the diagonal only) and the drift bases
        # at points and targets (None for simple kriging)
        C = mcov(_pw(P, P)) + nugget * np.eye(P.shape[1])
        if simple:
            return C, None, None
        return C, drift_basis_b(P, Pe), drift_basis_b(T, Te)

    def nearest_center(key, P: np.ndarray) -> np.ndarray:
        # the shared selector: rows of the max_cond points nearest the
        # cell center.  A stable sort breaks distance ties by the
        # canonical order, never by shuffle arrival.
        if geo_grid is None:
            center = (np.asarray(key, dtype=np.float64) + 0.5) * radius
            d2 = np.sum((P - center) ** 2, axis=1)
        elif len(key) > 1:
            cl, lw = geo_grid
            center = np.array([(key[0] + 0.5) * cl, (key[1] + 0.5) * lw - 180.0])
            d2 = _pairwise_hav(P, center[None, :])[:, 0]
        else:
            # lon blocking disabled: the cell is a full latitude band with
            # no lon extent — rank by latitude distance only (a lon=0
            # 'center' would bias the kept points toward the prime meridian)
            d2 = np.abs(P[:, 0] - (key[0] + 0.5) * geo_grid[0])
        return np.argsort(d2, kind="stable")[:max_cond]

    def knn_groups(P: np.ndarray, T: np.ndarray):
        # the knn selector → (target rows, (m, q) neighbor rows, (m, q)
        # distances) per neighborhood size q.  Each target keeps its knn
        # nearest points within radius; the stable argsort breaks ties by
        # the canonical order (mirrored by the oracle's ORDER BY dist, px,
        # py, pv).  TARGET-CHUNKED: the (nc, chunk) distance block and its
        # argsort are capped at ~64 MB, so peak task memory stays ~250 MB
        # however hot the cell (skewed geocoding packs 10^4+ points into
        # one cell).  No floor on the chunk: a hotter cell just loops more.
        nc, nt = len(P), len(T)
        chunk = int(max(1, min(nt, (1 << 23) // max(nc, 1) + 1)))
        for lo in range(0, nt, chunk):
            dxt = _pw(P, T[lo : lo + chunk])  # (nc, chunk)
            valid = dxt <= radius
            counts = np.minimum(valid.sum(axis=0), knn)
            # mask in place: the gathered (valid) distances are untouched
            np.putmask(dxt, ~valid, np.inf)
            sel = np.argsort(dxt, axis=0, kind="stable")[:knn]
            for q in np.unique(counts):
                if q < max(n_basis, 1):
                    continue  # no point in reach, or underdetermined
                S = np.nonzero(counts == q)[0]
                idx = sel[:q, S].T
                yield lo + S, idx, dxt[idx, S[:, None]]

    def krige_cell(key, Y, X, est, kvar, ncond) -> None:
        # one fine cell: targets Y = (coords, drift cols) and the cell
        # ring's cond rows X = (coords, value, drift cols); fills the
        # cell's slices of the outputs, which hold the prior (mean, sill)
        # for targets no cond point reaches.
        # Canonical cond order — coords, then value, then the drift
        # columns: the rows of a ring arrive in an order that depends on
        # the plan (shuffle arrival, salting, grouping, broadcast index),
        # and a permuted Gram matrix shifts the LU solve by ulps.  Sorting
        # on every column makes the solve a pure function of the set
        # (rows tying on coords and value but not on drift would
        # otherwise permute the bordered Fd rows between plans).
        X = X[np.lexsort(X.T[::-1])]
        if knn is None and len(X) > max_cond:
            X = X[nearest_center(key, X[:, :d])]
        P, cv, Pe = X[:, :d], X[:, d], X[:, d + 1 :]
        T, Te = Y[:, :d], Y[:, d:]
        if knn is None:
            if len(X) < n_basis:
                return  # underdetermined drift: keep the prior
            C, Fd, Ft = assemble(P[None], Pe[None], T[None], Te[None])
            V = mcov(_pw(P, T))[None]
            e, k = K.krige_batch(C, V, cv[None], Fd, Ft, mu, sill, 512)
            est[:], kvar[:], ncond[:] = e[0], k[0], len(X)
            return
        for G, idx, dist in knn_groups(P, T):
            C, Fd, Ft = assemble(P[idx], Pe[idx], T[G][:, None], Te[G][:, None])
            V = mcov(dist)[:, :, None]
            e, k = K.krige_batch(C, V, cv[idx], Fd, Ft, mu, sill, 1)
            est[G], kvar[G], ncond[G] = e[:, 0], k[:, 0], idx.shape[1]

    t_cols = [f"t{k}" for k in range(d)]
    y_cols = [*t_cols, *td_cols]
    x_cols = [*(f"c{k}" for k in range(d)), "cval", *cd_cols]
    t_names = ["tid", *y_cols, *fine]
    # a StructType, not DDL text: PySpark parses DDL with one more JVM call
    out_schema = StructType(
        [
            StructField("tid", LongType()),
            *[StructField(tc, DoubleType()) for tc in t_cols],
            StructField("krige_mean", DoubleType()),
            StructField("krige_var", DoubleType()),
            StructField("n_cond", LongType()),
        ]
    )

    # Arrow-native plumbing: one Arrow→numpy conversion per Arrow frame
    # and numpy slicing per fine cell (no per-cell pandas frames, no
    # pd.concat — at ~0.5-1 ms/cell those were a measurable serial term).

    def _cell_slices(dd: dict):
        # stable lexsort by the fine keys: cells ascend by key, rows keep
        # arrival order within a cell → (order, cell bounds in it)
        order = np.lexsort(tuple(dd[f] for f in reversed(fine)))
        edge = np.zeros(len(order) + 1, dtype=bool)
        edge[[0, -1]] = True
        for f in fine:
            kf = dd[f][order]
            edge[1:-1] |= kf[1:] != kf[:-1]
        return order, np.flatnonzero(edge)

    def _cell_index(dd: dict) -> dict:
        # fine cell key → the rows of ``dd`` in that cell
        order, b = _cell_slices(dd)
        return {
            tuple(int(dd[f][order[lo]]) for f in fine): order[lo:hi]
            for lo, hi in zip(b[:-1], b[1:])
        }

    def solve_targets(tdat: dict, ring):
        # krige one Arrow frame of targets cell by cell; ``ring(key)`` →
        # the cond rows of fine cell ``key``'s 3^d ring (None when empty).
        # Identical (cell, targets, ring set) triples reach krige_cell in
        # every plan, and a knn target's solve does not depend on the
        # other targets beside it, so per-target outputs are bitwise
        # invariant under grouping, salting and the choice of plan.
        import pyarrow as pa

        t_ord, t_b = _cell_slices(tdat)
        Y = _stack(tdat, y_cols)[t_ord]
        n = len(Y)
        est, kvar, ncond = np.full(n, mu), np.full(n, sill), np.zeros(n, np.int64)
        for lo, hi in zip(t_b[:-1], t_b[1:]):
            kk = tuple(int(tdat[f][t_ord[lo]]) for f in fine)
            X = ring(kk)
            if X is not None:
                s = slice(lo, hi)
                krige_cell(kk, Y[s], X, est[s], kvar[s], ncond[s])
        cols = [tdat["tid"][t_ord].astype(np.int64), *Y[:, :d].T, est, kvar, ncond]
        return pa.Table.from_arrays(
            [pa.array(np.ascontiguousarray(a)) for a in cols],
            names=["tid", *t_cols, "krige_mean", "krige_var", "n_cond"],
        )

    out_cols = [
        f"tid AS {q(target_id)}",
        *[f"t{k} AS {q(c)}" for k, c in enumerate(coords)],
        "krige_mean",
        "krige_var",
        "n_cond",
    ]
    spark = targets.sparkSession
    par = spark.sparkContext.defaultParallelism
    cdat = None
    if knn is not None:
        # cond shares the targets' coordinate names, so t_cells apply
        x_exprs = {n: c_proj[n] for n in x_cols}
        cdat = _small_cond(cond, x_exprs, t_cells, fine, wrap_n)
    if cdat is not None:
        # BROADCAST plan: the cond columns ride in the UDF closure and
        # every target is solved where it sits — no planner jobs, no ring
        # stamp, no cond exchange, no cogroup.  A cell's ring is the union
        # of its 3^d neighbor cells in the index: exactly the rows
        # _ring_stamp delivers to it (cond keys on the wrapped lon axis
        # are already taken mod wrap_n; a target key outside [0, wrap_n)
        # matches no stamped key).
        offsets = list(itertools.product((-1, 0, 1), repeat=d_block))

        def solve_batches(batches):
            X = _stack(cdat, x_cols)
            index = _cell_index(cdat)

            def ring(kk):
                if wrap_n is not None and not 0 <= kk[-1] < wrap_n:
                    return None
                rows = []
                for o in offsets:
                    nb = [k - ok for k, ok in zip(kk, o)]
                    if wrap_n is not None:
                        nb[-1] %= wrap_n
                    r = index.get(tuple(nb))
                    if r is not None:
                        rows.append(r)
                return X[np.concatenate(rows)] if rows else None

            for rb in batches:
                yield from solve_targets(_tbl_cols(rb, t_names), ring).to_batches()

        # one round-robin exchange: an under-partitioned target frame (one
        # small file) would otherwise krige in a single task
        out = t.repartition(par).mapInArrow(solve_batches, out_schema)
        return out.selectExpr(*out_cols)

    # PARTITIONED plan: cond rows ring-stamped and cogrouped with the
    # targets by blocking cell, skew-planned by plan_cells
    c_sel = cond.selectExpr(*[f"{e} AS {n}" for n, e in c_proj.items()])
    if haversine:
        c_cells = geo_cell_sql("c0", "c1", cell_lat, n_lon, lon_w)
    else:
        c_cells = grid_cell_sql([f"c{k}" for k in range(d)], radius)
    c = _ring_stamp(c_sel, list(c_proj), c_cells, wrap_n=wrap_n)
    mult, keep_fine, hot = plan_cells(
        t, jkeys, par, hot_cap(par), group_cells, salt_hot, hot_threshold
    )
    if hot is not None:
        t, c, jkeys = salt_hot_cells(t, c, hot, jkeys, "tid", salt_hot)

    group_keys = jkeys  # fine cells (+ _salt): one cell per group
    if mult > 1:
        skeys = [f"sc{k}" for k in range(d_block)]
        sexprs = [f"FLOOR({f} / {mult})" for f in fine]
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
                F.broadcast(keep_fine.selectExpr("*", "true AS _gfine")), fine, "left"
            )
            c = c.join(
                F.broadcast(keep_fine.selectExpr("*", "true AS _gfine")), fine, "left"
            )
            flag = "coalesce(_gfine, false)"
            sexprs = [
                f"CASE WHEN {flag} THEN {f} ELSE {e} END" for f, e in zip(fine, sexprs)
            ]
            flag_cols = [f"{flag} AS _scf"]
        # drop the join helper AFTER the select evaluates flag/sexprs: it
        # would otherwise ride into the cogrouped Arrow frames (an extra
        # boolean per row through the exchange, unused by solve_cells)
        scols = [f"CAST({e} AS BIGINT) AS {s}" for e, s in zip(sexprs, skeys)]
        t = t.selectExpr("*", *scols, *flag_cols)
        c = c.selectExpr("*", *scols, *flag_cols)
        if keep_fine is not None:
            t, c = t.drop("_gfine"), c.drop("_gfine")
        # _salt (and the fine/super disambiguation flag) stay group keys
        group_keys = (
            skeys + (["_scf"] if flag_cols else []) + jkeys[d_block:]
        )

    def solve_cells(key, t_tbl, c_tbl):
        # iterate the fine blocking cells inside ONE cogroup group (one
        # cell when mult == 1); the group's cond rows are already the
        # rings of its cells
        cdat = _tbl_cols(c_tbl, [*x_cols, *fine])
        X = _stack(cdat, x_cols)
        index = _cell_index(cdat)

        def ring(kk):
            rows = index.get(kk)
            return None if rows is None else X[rows]

        return solve_targets(_tbl_cols(t_tbl, t_names), ring)

    out = (
        t.groupBy(*group_keys)
        .cogroup(c.groupBy(*group_keys))
        .applyInArrow(solve_cells, out_schema)
    )
    return out.selectExpr(*out_cols)

"""Distributed kriging: Gram-matrix assembly + solve per neighborhood.

The reference kernel (krige.rs:24-118) receives a PRE-INVERTED system matrix
and computes field = condᵀ·Mᵀ·V, error = v_jᵀ·Mᵀ·v_j; the assembly + solve
happens upstream in GSTools (reference benches/gen_benchmark_inputs.py:35-59).
Per the north star, this engine owns BOTH steps:

* neighborhoods via the cell-ring blocking (conditioning points stamped onto
  the 3×3 ring of each target cell at cell_size = radius);
* one ``cogroup().applyInPandas`` per cell assembles the covariance Gram
  matrix with the model, inverts it once, and evaluates every target in the
  cell through the numpy kernels (kernels.calc_field_krige_and_variance) —
  i.e. the reference's matrix kernel runs verbatim on each neighborhood.

Covariance models: any functions/models.CovModel (Gaussian, Exponential,
Spherical, Matérn, Stable); the nugget enters only the Gram diagonal.
Simple (known mean), ordinary (Lagrange row), and universal (polynomial
drift) kriging are provided; anisotropy via functions.models.isotropize.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gstools_core_spark import kernels as K
from gstools_core_spark.operators.pair_join import top_hot_cells
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


def salt_cogroup_keys(
    t: DataFrame,
    c: DataFrame,
    jkeys: list[str],
    tid_col: str,
    salt_hot: int,
    hot_threshold: int,
    counts: DataFrame | None = None,
    hot_cap: int | None = None,
    hot: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Split hot blocking cells across ``salt_hot`` cogroup sub-keys.

    A pandas cogroup executes ONE task per key — AQE cannot split it — so a
    hot cell (the north rule's dense-page scenario: lang-skewed geocoding
    packs one city cell with 10^5+ targets) serializes the whole stage.
    Mirroring pair_join's ``salt_hot`` recipe: cells whose TARGET count
    exceeds ``hot_threshold`` are detected with a count aggregate and
    broadcast onto both sides (no driver key list); the target side takes
    ``pmod(xxhash64(tid), S)`` and the cond-ring side replicates across all
    S salts, so each target still cogroups with its cell's FULL cond ring —
    output invariant (pytest-pinned bitwise), one hot cell becomes S tasks.
    Cold cells pay nothing (salt 0, no replication).

    NOTE: pair_join.py:202-239 carries the sibling of this recipe for the
    pair JOIN (detection over unstamped cells, salt name ``jsalt``); the
    two differ in detection base and join-key structure, so they are kept
    separate — a semantic fix to either (null keys, thresholds, salt hash)
    must be mirrored in the other.

    ``group_cells`` — SUPER-CELL grouping factor: cogroup on cells of
    ``group_cells × radius`` and iterate the fine blocking cells inside
    the pandas function.  Each cogroup GROUP costs ~2-3 ms of fixed
    Arrow/pandas machinery regardless of size; with thousands of small
    cells that fixed cost WAS the whole query (measured at sf0.1: the
    headline krige spent 5.8 s of 7.1 s in a trivial-kernel cogroup over
    1,600 groups of ~62 targets).  'auto' (default) sizes the factor
    from one per-cell-count stats pass over the targets so that ~2 groups
    land per core — UNLESS the counts are skewed (max above both 4× mean
    and a Poisson extreme-value floor — see auto_group_factor), where
    it keeps fine cells: merging adjacent hot-region cells re-serializes
    exactly what ``salt_hot`` splits (sphere path at sf0.1: gc=1 7.5 s,
    gc=8 10.1 s, gc=32 28.5 s).  Pass an int (1 disables) to skip the
    stats pass when table stats are known.  Per-fine-cell results are bitwise
    IDENTICAL under any grouping: the same fine (cell, targets, ring)
    triples reach the same solver, whose internal orders are
    canonicalized (the salting-invariance pins cover this property).

    ``hot_cap`` — BOUND the broadcast hot set at the top-``hot_cap`` cells
    by target count (deterministic tie-break on the cell keys).  The skew
    threshold is absolute here but relative-to-mean in the auto-grouping
    sibling; on a heavy-tailed (Zipfian city-cell) density at 100× the
    above-threshold set can grow without bound — cells barely above it
    gain nothing from salting but would each ship to every task.  Salting
    fewer cells never changes the output (the invariance pin), only which
    cells get split, so capping is free correctness-wise.
    ``hot`` — a precomputed hot-cell DataFrame (``jkeys`` columns only);
    overrides detection entirely (krige passes a collected literal so the
    persisted stats DF behind it can be unpersisted immediately).
    """
    if hot is not None:
        hot = hot.select(*jkeys, F.lit(True).alias("_hot"))
    else:
        if counts is None:
            counts = cell_count_df(t, jkeys)
        hot = top_hot_cells(counts, jkeys, hot_threshold, hot_cap).select(
            *jkeys, F.lit(True).alias("_hot")
        )
    t = (
        t.join(F.broadcast(hot), jkeys, "left")
        .withColumn(
            "_ksalt",
            F.when(
                F.col("_hot"),
                F.pmod(F.xxhash64(F.col(tid_col)), F.lit(salt_hot)),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("_hot")
    )
    c = (
        c.join(F.broadcast(hot), jkeys, "left")
        .withColumn(
            "_ksalts",
            F.when(
                F.col("_hot"), F.sequence(F.lit(0), F.lit(salt_hot - 1))
            ).otherwise(F.array(F.lit(0))),
        )
        .withColumn("_ksalt", F.explode("_ksalts"))
        .withColumn("_ksalt", F.col("_ksalt").cast("long"))
        .drop("_ksalts", "_hot")
    )
    return t, c, jkeys + ["_ksalt"]


def _literal_cells(df: DataFrame, cols: Sequence[str]) -> DataFrame | None:
    """Collect a BOUNDED (≤hot_cap-row) cell-key DataFrame into a literal
    in-memory DataFrame; None when empty (lets callers skip the machinery
    the set would drive).  The hot/keep-fine sets are lazy views over the
    (possibly persisted) stats DF; materializing them (cheap — the row
    count is capped) lets krige unpersist the stats DF at
    plan-construction time and make plan-shape decisions from the actual
    set.  Built JVM-side from literals, not ``createDataFrame(list)`` (a
    Python RDD that Python workers serve on every execution)."""
    rows = [
        F.struct(*(F.lit(r[c]).cast("long").alias(c) for c in cols))
        for r in df.collect()
    ]
    if not rows:
        return None
    return df.sparkSession.range(1).select(F.inline(F.array(*rows)))


def cell_count_df(t: DataFrame, fine_keys: Sequence[str]) -> DataFrame:
    """Per-fine-cell target counts → (fine_keys…, _hot_n) — the ONE stats
    aggregate shared by ``auto_group_factor`` and ``salt_cogroup_keys``
    hot detection (only (cell, count) pairs cross the exchange, with
    map-side partial agg; the target rows never shuffle for this)."""
    return t.groupBy(*fine_keys).agg(F.count(F.lit(1)).alias("_hot_n"))


def auto_group_factor(
    t: DataFrame,
    fine_keys: Sequence[str],
    parallelism: int,
    groups_per_core: int = 2,
    skew_cap: float = 4.0,
    counts: DataFrame | None = None,
) -> int:
    """Pick the super-cell grouping factor from ONE stats pass over the
    staged targets ``t`` (``group_cells='auto'``).

    A second-level aggregate over the per-fine-cell counts yields (number
    of cells, max count, mean count) as one collected row.  Pass
    ``counts`` (a ``cell_count_df`` result) to reuse an aggregate another
    consumer already needs — krige does this when ``salt_hot`` is also
    set, so salting's hot detection and this decision share one pass.
    Production jobs that know their stats pass an explicit int and skip
    the pass entirely.

    The factor targets ``groups_per_core`` cogroup groups per core (the
    per-group Arrow/pandas dispatch is near-serial, so fewer groups win
    until load balance bites), EXCEPT under spatial skew: super-grouping
    merges ADJACENT cells into one cogroup task, so on a lopsided density
    (the north-star geocoder concentrates pages in city cells by
    construction) it re-serializes exactly the hot region ``salt_hot``
    just split — measured at sf0.1 on the sphere path: group_cells=1
    7.5 s, 8 10.1 s, 32 28.5 s.  Skew test: max count above BOTH
    ``skew_cap``× the mean AND a Poisson extreme-value allowance
    (mean + 6·√mean + 10) — the pure ratio test degenerates on sparse
    densities (Poisson with mean ≤ ~1.5 has max/mean > 4 over enough
    cells almost surely), which would silently forfeit grouping on
    exactly the thousands-of-tiny-cells inputs it exists for."""
    mult, keep_fine = auto_group_plan(
        t, fine_keys, parallelism, groups_per_core, skew_cap, counts
    )
    # single-factor contract: under skew the only safe GLOBAL factor is 1
    # (krige itself uses auto_group_plan's hybrid instead)
    return 1 if keep_fine is not None else mult


def auto_group_plan(
    t: DataFrame,
    fine_keys: Sequence[str],
    parallelism: int,
    groups_per_core: int = 2,
    skew_cap: float = 4.0,
    counts: DataFrame | None = None,
    keep_cap: int | None = None,
) -> tuple[int, DataFrame | None]:
    """Full 'auto' grouping decision → ``(mult, keep_fine)``.

    Uniform density → ``(factor from the groups_per_core rule, None)``:
    every cell joins a super-cell.  Skewed density (see
    ``auto_group_factor`` for the statistic) → HYBRID grouping: the
    skew-causing cells (count above the skew threshold) are returned as
    ``keep_fine`` — a broadcast-able (fine_keys…) DataFrame — and stay at
    fine granularity (one cogroup group each, splittable further by
    ``salt_hot``), while the factor is re-derived from the COLD cell
    count so the long tail of tiny cells still sheds its near-serial
    per-group dispatch.  At 100× the cold tail grows linearly with the
    corpus while per-cell work stays bounded, so grouping only-the-cold
    is the scale design: merging hot regions was measured 7.5 → 28.5 s
    on the sphere path, while NOT grouping the tail pays thousands of
    ~3 ms dispatches.  ``keep_fine`` is None when no cell clears the
    threshold.  When ``counts`` spans >1 consumer the caller should
    persist it (krige does).

    ``keep_cap`` — BOUND ``keep_fine`` at the top-``keep_cap`` cells by
    target count (deterministic tie-break on the cell keys): the skew
    threshold is relative to the mean, so a heavy-tailed density at 100×
    can push far more cells above it than there are cores — the tail of
    barely-above-threshold cells gains nothing from fine granularity and
    would bloat the broadcast.  Cells beyond the cap rejoin the grouped
    cold tail (output bitwise-invariant under any split — the grouping
    invariance pin); the grouping factor is re-derived counting them as
    cold."""
    d_block = len(fine_keys)
    if counts is None:
        counts = cell_count_df(t, fine_keys)
    row = (
        counts.agg(
            F.count(F.lit(1)).alias("cells"),
            F.max("_hot_n").alias("mx"),
            F.avg("_hot_n").alias("av"),
        ).collect()[0]
    )
    n_cells = row["cells"] or 1
    av = row["av"] or 1.0
    skew_floor = av + 6.0 * float(av) ** 0.5 + 10.0
    thresh = max(skew_cap * av, skew_floor)

    def rule(n: int) -> int:
        return max(
            1,
            int(
                round(
                    (n / max(groups_per_core * parallelism, 1)) ** (1.0 / d_block)
                )
            ),
        )

    if row["mx"] is None or row["mx"] <= thresh:
        return rule(n_cells), None
    # skewed: one more TINY aggregate over the (persisted) counts — how
    # many cells are hot — plus the keep-fine set itself
    n_hot = counts.where(F.col("_hot_n") > F.lit(thresh)).count()
    keep_fine = top_hot_cells(
        counts, list(fine_keys), thresh, keep_cap
    ).select(*fine_keys)
    kept = n_hot if keep_cap is None else min(n_hot, keep_cap)
    return rule(max(n_cells - kept, 1)), keep_fine


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
    hot_cap: int | None = None,
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
    cond ring replicated — see salt_cogroup_keys); the kriged output is
    bitwise identical (pytest-pinned) because every target still sees its
    cell's full cond ring and all per-group orders are canonicalized.
    The hot set is detected at PLAN time (one tiny aggregate, shared with
    'auto'); when it is empty the salting machinery is skipped entirely —
    the cond-ring explode + broadcast joins cost ~35% of the sphere bench
    at sf0.1 purely to salt zero cells — so ``salt_hot`` is free until
    the data actually has hot cells.

    ``hot_threshold='auto'`` (default) sizes the threshold from the same
    stats pass: a cell is hot when its target count exceeds one shuffle
    partition's FAIR SHARE (``total targets / shuffle partitions``, floor
    256) — any such cell is a straggler task no matter the cluster size,
    since a pandas cogroup runs one task per key.  Measured on the
    lang-skewed sphere bench (one 3,090-target cell over a 1,562 fair
    share): splitting it halved the query (10.1 → 5.2 s) even paying the
    salting machinery.  Pass an int when table stats say otherwise; the
    rule scales with the data (at 100× both the numerator and the
    production partition count grow).

    ``hot_cap`` — bound on BOTH broadcast hot sets (salting's split set and
    auto-grouping's keep-fine set): only the top-``hot_cap`` cells by
    target count are treated as hot (default ``16 × defaultParallelism``,
    min 64; pass 0 to disable).  On a heavy-tailed density at 100× the
    relative-to-mean skew threshold can mark far more cells than there are
    cores; the tail of barely-hot cells gains nothing from splitting/fine
    granularity but would bloat the per-task broadcast.  Output is bitwise
    invariant under any cap (the salting/grouping invariance pins).

    NOTE ``group_cells='auto'`` is EAGER: it runs 1-3 tiny Spark jobs at
    DataFrame-CONSTRUCTION time (the per-cell stats aggregate + collect;
    under skew also the hot-cell count and the ≤``hot_cap``-row hot-set
    collects).  The stats DF is persisted only while the decision runs and
    unpersisted before return — nothing stays cached.  Plan-only consumers
    and repeated tiny interactive calls should pass an explicit int
    (production jobs size it from table stats the same way).
    """
    if method not in ("simple", "ordinary", "universal"):
        raise ValueError(
            f"unknown kriging method {method!r}: expected 'simple', "
            "'ordinary' or 'universal' (a typo would silently run the "
            "universal drift-extended solve)"
        )
    d = len(coords)
    wrap_n: int | None = None
    if haversine:
        from gstools_core_spark.operators.pair_join import haversine_grid

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

        from gstools_core_spark.operators.pair_join import geo_cell_exprs

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

    # ONE shared per-cell-count aggregate feeds both the 'auto' grouping
    # decision and salting's hot detection (they need the same counts;
    # persist only when both consume it — auto's collect populates the
    # cache, the later tiny aggregates reuse it instead of re-scanning the
    # targets).  Both hot sets are bounded by ``hot_cap`` and collected to
    # literal DataFrames while the cache is warm, so the stats DF is
    # unpersisted BEFORE return — nothing survives plan construction.
    par = targets.sparkSession.sparkContext.defaultParallelism
    if hot_cap is None:
        hot_cap = max(64, 16 * par)
    cap = hot_cap if hot_cap > 0 else None

    cell_counts = None
    keep_fine = None
    persisted = False
    if salt_hot or group_cells == "auto":
        cell_counts = cell_count_df(t, jkeys)
        # persist when ≥2 plan-time consumers will aggregate it (auto
        # grouping's summary/keep-fine + salting's hot-set collect) —
        # each would otherwise re-scan the targets.  The auto fair-share
        # threshold no longer consumes it (its total comes from t.count(),
        # see below), so an explicit group_cells int + salt_hot runs ONE
        # aggregate over the counts and skips the persist round-trip.
        if group_cells == "auto":
            cell_counts = cell_counts.persist()
            persisted = True
    if group_cells == "auto":
        mult, keep_fine = auto_group_plan(
            t, jkeys, par, counts=cell_counts, keep_cap=cap
        )
    else:
        mult = max(1, int(group_cells))

    hot_df = None
    if salt_hot:
        # build + collect the (≤cap-row) salting hot set NOW (one tiny
        # aggregate job — the broadcast side of the lazy form was its own
        # stage anyway, so this moves cost, not adds it; under 'auto' the
        # stats DF is already cached).  Knowing the hot set at plan time
        # lets the EMPTY case skip the salting machinery entirely — the
        # cond-ring explode/broadcast-join/_ksalt key otherwise cost
        # ~2.7 s at sf0.1 on the sphere bench purely to salt zero cells.
        # At 100× densities the set is non-empty and salting engages
        # unchanged: the decision is data-driven, not scale-tuned.
        if hot_threshold == "auto":
            # fair-share rule (see docstring): hot = bigger than one
            # shuffle partition's average target load.  `total` is the sum
            # of the per-cell counts ≡ the target ROW COUNT, so take it
            # from a single-stage t.count() (64 map tasks, no exchange)
            # instead of aggregating the shuffled counts DF — the tiny-row
            # exchange dominated that job (measured 0.7-1.6 s vs ~0.15 s
            # at sf0.1; round-6 stats-pass profile)
            spark = targets.sparkSession
            shp = int(spark.conf.get("spark.sql.shuffle.partitions"))
            total = t.count()
            hot_threshold = max(256, int(total / max(shp, par, 1)))
        hot_df = _literal_cells(
            top_hot_cells(cell_counts, jkeys, hot_threshold, cap).select(*jkeys),
            jkeys,
        )
    if persisted and keep_fine is not None:
        keep_fine = _literal_cells(keep_fine, jkeys)
    if persisted:
        cell_counts.unpersist(blocking=False)

    if salt_hot and hot_df is not None:
        # hot= short-circuits detection entirely: counts/hot_cap would be
        # dead arguments here (and cell_counts is already unpersisted)
        t, c, jkeys = salt_cogroup_keys(
            t, c, jkeys, "tid", salt_hot, hot_threshold, hot=hot_df
        )

    nugget = model.nugget
    sill = model.sill
    mcov = model.cov  # any functions.models.CovModel (tiny, picklable)
    simple = method == "simple"
    mu = float(mean)
    geo = haversine
    _pw = _pairwise_hav if geo else _pairwise_dist
    geo_grid = (cell_lat, n_lon, lon_w) if geo else None
    n_block_keys = d_block  # salted groups append _ksalt AFTER the cell keys
    # monomial drift basis: ordinary kriging = constant drift only
    n_drift_order = 0 if method == "ordinary" else int(drift_order)

    def drift_basis(P: np.ndarray, D: np.ndarray | None = None) -> np.ndarray:
        # P: (n, d) coords; D: (n, ext_n) external drift values
        rows = [np.ones(P.shape[0])]
        if n_drift_order >= 1:
            rows += [P[:, k] for k in range(d)]
        if n_drift_order >= 2:
            rows += [
                P[:, i] * P[:, j]
                for i in range(d)
                for j in range(i, d)
            ]
        if ext_n:
            rows += [D[:, j] for j in range(ext_n)]
        return np.stack(rows)  # (nd, n)

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
        key = key[:n_block_keys]  # drop the _ksalt component when salted
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
            Fd = drift_basis(C_pts, C_ext)  # (nd, nc)
            Ft = drift_basis(T, T_ext)  # (nd, nt)
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

    def drift_basis_b(P: np.ndarray, D: np.ndarray | None = None) -> np.ndarray:
        # (m, n, d) [+ (m, n, ext_n)] → (m, nd, n)
        m, n, _ = P.shape
        rows = [np.ones((m, n))]
        if n_drift_order >= 1:
            rows += [P[:, :, kk] for kk in range(d)]
        if n_drift_order >= 2:
            rows += [P[:, :, i] * P[:, :, j] for i in range(d) for j in range(i, d)]
        if ext_n:
            rows += [D[:, :, j] for j in range(ext_n)]
        return np.stack(rows, axis=1)

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
                        Ft_b = drift_basis(
                            Tc[S], T_ext[lo : lo + chunk][S] if ext_n else None
                        ).T  # (m, nd)
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

    def _as_py_key(key) -> tuple:
        # applyInArrow passes pyarrow Scalars; the solvers do arithmetic
        # on the key components (geo cell centers)
        return tuple(k.as_py() if hasattr(k, "as_py") else k for k in key)

    if mult > 1:
        fine = jkeys[:d_block]
        skeys = [f"sc{k}" for k in range(d_block)]
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
            sexprs = [
                F.when(flag, F.col(fine[k]))
                .otherwise(F.floor(F.col(fine[k]) / F.lit(mult)))
                .cast("long")
                for k in range(d_block)
            ]
            flag_cols = [flag.alias("_scf")]
            flag_keys = ["_scf"]
        else:
            sexprs = [
                F.floor(F.col(fine[k]) / F.lit(mult)).cast("long")
                for k in range(d_block)
            ]
            flag_cols = []
            flag_keys = []
        # drop the join helper AFTER the select evaluates flag/sexprs: it
        # would otherwise ride into the cogrouped Arrow frames (an extra
        # boolean per row through the exchange, unused by solve_super)
        t = t.select(
            "*", *[e.alias(s) for e, s in zip(sexprs, skeys)], *flag_cols
        ).drop("_gfine")
        c = c.select(
            "*", *[e.alias(s) for e, s in zip(sexprs, skeys)], *flag_cols
        ).drop("_gfine")
        # _ksalt (and the fine/super disambiguation flag) stay group keys
        group_keys = skeys + flag_keys + jkeys[d_block:]

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

        def solve_super(key, t_tbl, c_tbl):
            # iterate the fine blocking cells inside ONE cogroup group:
            # identical (cell, targets, ring) triples reach base_fn, so
            # the per-cell outputs are bitwise the mult=1 outputs.  All
            # slicing is numpy (no per-cell pandas frames, no pd.concat).
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
            .applyInArrow(solve_super, out_schema)
        )
    else:

        def run_cell(key, t_tbl, c_tbl):
            return _out_table(
                base_fn(
                    _as_py_key(key),
                    _tbl_cols(t_tbl, in_t_cols),
                    _tbl_cols(c_tbl, in_c_cols),
                )
            )

        out = (
            t.groupBy(*jkeys)
            .cogroup(c.groupBy(*jkeys))
            .applyInArrow(run_cell, out_schema)
        )
    return out.select(
        F.col("tid").alias(target_id),
        *[F.col(f"t{k}").alias(c) for k, c in enumerate(coords)],
        "krige_mean",
        "krige_var",
        "n_cond",
    )

"""Distributed all-pairs-within-radius self-join (the variogram's theta join).

The reference enumerates all O(n²/2) pairs in a triangular nested loop
(variogram.rs:377-382, 510-515).  At 100 TB that is not a loop but a join, and
a naive theta join (dist < r) would execute as a broadcast nested-loop join.
We rewrite it into an EQUI-join on spatial blocks:

1. quantize points to a grid with cell width >= max_dist per dimension;
2. stamp the LEFT side onto a HALF-STENCIL of its neighbor hypercube — the
   center plus the lexicographically-positive offsets of {-1,0,1}^d (explode
   ×((3^d−1)/2 + 1); d=2 → ×5, d=3 → ×14): the positive set H and −H
   partition the nonzero offsets, so each unordered neighbor cell pair is
   generated exactly once;
3. equi-join on the stamped cell == right cell (hash shuffle join — AQE
   splits skewed cells);
4. same-cell matches keep ``a.id < b.id`` (work-halving symmetry, mirroring
   the reference's triangular loop); cross-cell matches are already unique;
5. exact predicate ``dist < max_dist``; ids canonicalized to a_id < b_id.

Every unordered pair within max_dist appears exactly once: point b's cell is
inside point a's neighbor hypercube when dist < cell width, and exactly one
of (cell_b − cell_a) ∈ H ∪ {0} or (cell_a − cell_b) ∈ H holds.

Haversine blocking (lat/lon degrees, max_dist a central angle in radians):

* latitude cells of width degrees(max_dist) — |Δlat| ≤ θ for any pair;
* longitude cells WRAP at ±180°: the circle is tiled with
  n_lon = floor(360 / w_req) cells where w_req = degrees(θ)/cos(φmax + θ)
  bounds |Δlon| for any pair whose great-circle arc stays below latitude
  φmax + θ (the arc between two points at |lat| ≤ φmax cannot climb higher
  than φmax + θ).  The stamped lon index is taken mod n_lon, so antimeridian
  pairs land in adjacent cells.  φmax is DERIVED FROM THE DATA (one max(|lat|)
  aggregate) unless the caller supplies ``max_abs_lat``.  When the secant
  bound degenerates (near-polar data or huge θ → n_lon < 3, where modular
  adjacency would double-generate pairs) longitude blocking is disabled
  entirely — a single planet-wide lon cell, still exact, just unpruned.
* a CHORD pre-filter runs ahead of the exact ``dist < max_dist``: each
  point carries its unit vector u = (cos φ cos λ, cos φ sin λ, sin φ),
  computed once per point, and a candidate must pass
  |u_a − u_b|² < (2 sin(θ/2)·(1 + 1e-9) + 1e-12)² (θ = max_dist < π)
  before the haversine tree is evaluated on it.  It cannot drop a kept
  pair: |u_a − u_b| = 2 sin(θ_ab/2) exactly (1 − u_a·u_b is twice the
  haversine argument, for any φ and λ), and for lat/lon in the grid's
  domain the computed chord and the computed haversine are each within
  ~1e-15 of their exact values while 2 sin(θ/2) moves by at most |dθ|, so
  a pair whose computed dist is below max_dist has a computed chord far
  inside the 1e-9 relative / 1e-12 absolute margin.  Kept pairs and their
  ``dist`` bits are therefore unchanged; only the haversine evaluations
  on far candidates are saved — provided the chord conjunct stays AHEAD
  of the haversine tree in the join condition.  It is its own ``where``
  before the distance filter, and Catalyst keeps that conjunct order when
  it merges both into the join; the plan pins (PLANS.md) show it.

Skew: hot cells (the north rule's dense pages) are handled by (a) AQE skew
join splitting — the join is a plain shuffle equi-join, so AQE can split
oversized partitions — and (b) optional explicit salting: hot cells are
detected with a count aggregate and split by ``salt_hot_cells`` (the recipe
kriging's cogroup shares).
"""

from __future__ import annotations

import itertools
import math
import numbers
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gstools_core_spark.functions import distance as D
from gstools_core_spark.functions.sqltext import lit, q


def half_stencil(d: int) -> list[tuple[int, ...]]:
    """Center + lexicographically-positive neighbor offsets of {-1,0,1}^d.

    H = {o ≠ 0 : first nonzero component of o is +1} satisfies H ∪ −H =
    all nonzero offsets (disjoint), so stamping the left side on {0} ∪ H
    generates each unordered neighbor-cell pair exactly once.
    """
    zero = (0,) * d
    return [zero] + [
        o for o in itertools.product((-1, 0, 1), repeat=d) if o > zero
    ]


def offsets_sql(offsets: Sequence[tuple[int, ...]]) -> str:
    """Literal array of stencil offsets as structs (d0, d1, …)."""
    return "array(" + ", ".join(
        "struct(" + ", ".join(f"{v} AS d{k}" for k, v in enumerate(o)) + ")"
        for o in offsets
    ) + ")"


def haversine_grid(
    max_dist: float, lat_bound: float
) -> tuple[float, int, float]:
    """Blocking grid for haversine pairs → (cell_lat_deg, n_lon, lon_width_deg).

    ``n_lon == 1`` means longitude blocking is disabled (single cell).
    The secant bound cos(φmax + θ) is evaluated at the maximum latitude the
    connecting great-circle arc can reach; when it is ≤ 0 (poles reachable)
    or the required width exceeds 120° (n_lon < 3, modular adjacency unsafe)
    we fall back to one lon cell.  NO clamp on ``lat_bound``: capping it at
    89° silently under-sized lon cells for data in (89°, 90°) — near-polar
    bounds flow into the cosine and degrade to the (sound) single-cell
    fallback on their own.
    """
    cell_lat = math.degrees(max_dist)
    phi = math.radians(abs(lat_bound)) + max_dist
    denom = math.cos(phi)
    if denom <= 1e-9:
        return cell_lat, 1, 360.0
    w_req = cell_lat / denom  # degrees of longitude
    n_lon = int(360.0 // w_req)
    if n_lon < 3:
        return cell_lat, 1, 360.0
    return cell_lat, n_lon, 360.0 / n_lon


def geo_cell_sql(
    lat_col: str, lon_col: str, cell_lat: float, n_lon: int, lon_w: float
) -> list[str]:
    """Blocking-cell index expressions (SQL text) for the wrapped haversine
    grid — the ONE definition of geo blocking cells (pair join, geo kNN,
    geo kriging all share it; the lon==180.0 seam clamp lives only here)."""
    cells = [f"CAST(FLOOR({q(lat_col)} / {lit(cell_lat)}) AS BIGINT)"]
    if n_lon > 1:
        cy = f"CAST(FLOOR(({q(lon_col)} + 180.0D) / {lit(lon_w)}) AS BIGINT)"
        # lon == 180.0 exactly lands in cell n_lon → clamp to the seam cell
        cells.append(f"least({cy}, {n_lon - 1})")
    return cells


def geo_cell_exprs(
    lat_col: str, lon_col: str, cell_lat: float, n_lon: int, lon_w: float
) -> list[Column]:
    """``geo_cell_sql`` as Columns."""
    return [F.expr(e) for e in geo_cell_sql(lat_col, lon_col, cell_lat, n_lon, lon_w)]


def grid_cell_sql(coords: Sequence[str], width: float) -> list[str]:
    """Planar blocking-cell index expressions: floor(c / width) per axis."""
    return [f"CAST(FLOOR({q(c)} / {lit(width)}) AS BIGINT)" for c in coords]


def _unit_vector(lat_col: str, lon_col: str) -> list[str]:
    """(cos φ cos λ, cos φ sin λ, sin φ) of (lat, lon) degree columns."""
    lat, lon = f"radians({q(lat_col)})", f"radians({q(lon_col)})"
    return [f"cos({lat}) * cos({lon})", f"cos({lat}) * sin({lon})", f"sin({lat})"]


def hot_cap(par: int) -> int:
    """Bound on every broadcast hot set: the top ``max(64, 16 × par)``
    cells by count (``par`` = defaultParallelism).  A heavy-tailed density can push
    unboundedly many cells over a threshold; the barely-hot tail gains
    nothing from splitting but would ship to every task.  Output is
    invariant under any cap (pinned) — it only moves cells between the
    split and plain treatments."""
    return max(64, 16 * par)


def top_hot_cells(
    counts: DataFrame,
    keys: Sequence[str],
    threshold: float,
    cap: int | None,
) -> DataFrame:
    """Cells whose ``_hot_n`` count exceeds ``threshold``, bounded at the
    top-``cap`` by count with a DETERMINISTIC tie-break on the cell keys —
    the ONE recipe behind every hot-set selection (pair_join salting,
    kriging salting, auto grouping's keep-fine).  Any change to the
    tie-break or cap semantics happens here and nowhere else."""
    hot = counts.where(f"_hot_n > {lit(threshold)}")
    if cap is not None:
        hot = hot.orderBy(F.desc("_hot_n"), *keys).limit(cap)
    return hot


def check_int(name: str, value, lo: int, *allowed) -> None:
    """Reject ``value`` at the API boundary with a ValueError naming the
    parameter, unless it is one of ``allowed`` or an int ≥ ``lo``."""
    if isinstance(value, str) or value is None:
        if value in allowed:
            return
    elif isinstance(value, numbers.Integral) and not isinstance(value, bool):
        if value >= lo:
            return
    want = " or ".join([*map(repr, allowed), f"an int >= {lo}"])
    raise ValueError(f"{name} must be {want}, got {value!r}")


def check_positive(name: str, value) -> None:
    """Reject ``value`` at the API boundary with a ValueError naming the
    parameter, unless it is a finite real number > 0 (``dist < NaN`` is
    true in Spark: a NaN bound would keep every pair)."""
    if (
        isinstance(value, numbers.Real)
        and not isinstance(value, bool)
        and math.isfinite(value)
        and value > 0
    ):
        return
    raise ValueError(f"{name} must be finite and > 0, got {value!r}")


def salt_hot_cells(
    hashed: DataFrame,
    replicated: DataFrame,
    hot: DataFrame,
    keys: list[str],
    id_col: str,
    salt_hot: int,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Split every cell of ``hot`` (a ``keys``-only DataFrame) across
    ``salt_hot`` sub-keys → ``(hashed, replicated, keys + ["_salt"])`` —
    the ONE salting recipe (pair_join's join, kriging's cogroup).

    A hot cell serializes its reducer (a pandas cogroup even runs ONE task
    per key, which AQE cannot split).  The hot set is flagged onto both
    sides by a BROADCAST join (no driver-side key list, no plan-size
    blowup); ``hashed`` rows take ``pmod(xxhash64(id_col), salt_hot)`` and
    ``replicated`` rows are copied to all salts, so every hashed row still
    meets its cell's full replicated side exactly once.  Cold cells pay
    nothing (salt 0, no replication)."""
    hot = hot.selectExpr(*map(q, keys), "true AS _hot")
    salt = f"pmod(xxhash64({q(id_col)}), {salt_hot})"
    hashed = (
        hashed.join(F.broadcast(hot), keys, "left")
        .selectExpr("*", f"CAST(CASE WHEN _hot THEN {salt} ELSE 0 END AS BIGINT) AS _salt")
        .drop("_hot")
    )
    salts = f"CASE WHEN _hot THEN sequence(0, {salt_hot - 1}) ELSE array(0) END"
    replicated = (
        replicated.join(F.broadcast(hot), keys, "left")
        .selectExpr("*", f"explode({salts}) AS _salt")
        .withColumn("_salt", F.expr("CAST(_salt AS BIGINT)"))
        .drop("_hot")
    )
    return hashed, replicated, [*keys, "_salt"]


def pair_join(
    points: DataFrame,
    max_dist: float,
    id_col: str = "id",
    coords: Sequence[str] = ("x", "y"),
    payload_cols: Sequence[str] = ("val",),
    haversine: bool = False,
    max_abs_lat: float | None = None,
    salt_partitions: int | None = None,
    salt_hot: int | None = None,
    hot_threshold: int = 50_000,
) -> DataFrame:
    """Return one row per unordered pair (a, b) with dist(a,b) < max_dist.

    Output columns: a_<id>, b_<id>, dist, a_<payload>, b_<payload> …

    Euclid path blocks on ALL coordinates (2-D, 3-D, … — dense-z data keeps
    full pruning).  For ``haversine=True`` coords must be ("lat", "lon") in
    degrees and ``max_dist`` is a central angle in RADIANS
    (variogram.rs:107-118); ``max_abs_lat`` optionally supplies the data's
    latitude bound (skipping the max(|lat|) aggregate), and longitude cells
    wrap at the antimeridian (see module docstring).

    ``salt_hot=S`` enables EXPLICIT hot-cell salting (north rule): the
    top-``hot_cap`` cells whose point count exceeds ``hot_threshold`` get
    their join key extended with a salt (``salt_hot_cells``: the stamped
    left side is hashed, the right side replicated across all S salts),
    splitting one hot cell's pair work across S reducers.  Each pair is
    still produced exactly once (the left row's salt selects one of the S
    replicas).  Unsalted hot-tail cells are still split by AQE skew join.
    """
    check_positive("max_dist", max_dist)
    check_int("salt_hot", salt_hot, 2, None)
    wrap_n: int | None = None
    if haversine:
        lat_c, lon_c = coords
        if max_abs_lat is None:
            # one cheap column-pruned aggregate; never silently clamp the
            # secant factor (the round-1 lon-degeneracy bug)
            row = points.agg(F.expr(f"max(abs({q(lat_c)}))")).first()
            max_abs_lat = float(row[0]) if row and row[0] is not None else 0.0
        cell_lat, n_lon, lon_w = haversine_grid(max_dist, max_abs_lat)
        cell_exprs = geo_cell_sql(lat_c, lon_c, cell_lat, n_lon, lon_w)
        if n_lon > 1:
            wrap_n = n_lon
    else:
        cell_exprs = grid_cell_sql(coords, max_dist)

    d = len(cell_exprs)
    # underscore prefix: must never collide with user coordinate/payload
    # names (api.py names its coords c0, c1, ...)
    cell_names = [f"_bc{k}" for k in range(d)]
    jkeys = [f"jc{k}" for k in range(d)]
    cols = [id_col, *coords, *payload_cols]
    a_id, b_id = q(f"a_{id_col}"), q(f"b_{id_col}")

    # haversine: per-point unit vectors on the sphere, for the chord
    # pre-filter in front of the exact distance test
    unit = _unit_vector(lat_c, lon_c) if haversine else []
    pts = points.selectExpr(
        *map(q, cols),
        *[f"{e} AS {n}" for e, n in zip(cell_exprs, cell_names)],
        *[f"{u} AS _u{k}" for k, u in enumerate(unit)],
    )

    def stamped(k: int) -> str:
        e = f"{cell_names[k]} + _off.d{k}"
        if wrap_n is not None and k == d - 1:
            e = f"pmod({e}, {wrap_n})"  # antimeridian wrap on the lon axis
        return e

    same_cell = " AND ".join(f"_off.d{k} = 0" for k in range(d))
    left = pts.selectExpr("*", f"explode({offsets_sql(half_stencil(d))}) AS _off").selectExpr(
        *[f"{q(c)} AS {q('a_' + c)}" for c in cols],
        *[f"{stamped(k)} AS {jkeys[k]}" for k in range(d)],
        f"{same_cell} AS _same_cell",
        *[f"_u{k} AS _au{k}" for k in range(len(unit))],
    )
    right = pts.selectExpr(
        *[f"{q(c)} AS {q('b_' + c)}" for c in cols],
        *[f"{cell_names[k]} AS {jkeys[k]}" for k in range(d)],
        *[f"_u{k} AS _bu{k}" for k in range(len(unit))],
    )

    join_keys = list(jkeys)
    if salt_hot:
        hot = top_hot_cells(
            pts.groupBy(*cell_names).agg(F.expr("count(1) AS _hot_n")),
            cell_names,
            hot_threshold,
            hot_cap(points.sparkSession.sparkContext.defaultParallelism),
        ).selectExpr(*[f"{cell_names[k]} AS {jkeys[k]}" for k in range(d)])
        left, right, join_keys = salt_hot_cells(
            left, right, hot, join_keys, f"a_{id_col}", salt_hot
        )

    if salt_partitions:
        # explicit co-partitioning before the join; AQE still splits skew
        left = left.repartition(salt_partitions, *join_keys)
        right = right.repartition(salt_partitions, *join_keys)

    # same-cell matches appear in both orientations → keep a < b there;
    # cross-cell matches are generated exactly once by the half-stencil
    joined = left.join(right, on=join_keys, how="inner").where(
        f"NOT _same_cell OR {a_id} < {b_id}"
    )

    a = [q(f"a_{c}") for c in coords]
    b = [q(f"b_{c}") for c in coords]
    if haversine:
        if max_dist < math.pi:  # beyond π every pair qualifies
            # chord pre-filter (module docstring).  Its own where, ahead
            # of the distance filter: Catalyst merges both into the join
            # condition in this order and keeps the conjunct order, so
            # the haversine tree runs only on the pairs the chord keeps
            chord2 = " + ".join(
                f"(_au{k} - _bu{k}) * (_au{k} - _bu{k})" for k in range(3)
            )
            bound = 2.0 * math.sin(max_dist / 2.0) * (1.0 + 1e-9) + 1e-12
            joined = joined.where(f"{chord2} < {lit(bound * bound)}")
        dist = D.haversine(a[0], a[1], b[0], b[1])
    else:
        dist = D.euclid(a, b)

    # canonicalize: output pair always has a_id < b_id (swap sides if needed)
    def pick(col: str, side: str) -> str:
        other = "b" if side == "a" else "a"
        return (
            f"CASE WHEN {a_id} > {b_id} THEN {q(f'{other}_{col}')}"
            f" ELSE {q(f'{side}_{col}')} END AS {q(f'{side}_{col}')}"
        )

    return joined.selectExpr(
        pick(id_col, "a"),
        pick(id_col, "b"),
        f"{dist} AS dist",
        *[pick(c, "a") for c in coords],
        *[pick(c, "b") for c in coords],
        *[pick(c, "a") for c in payload_cols],
        *[pick(c, "b") for c in payload_cols],
    ).where(f"dist < {lit(max_dist)}")

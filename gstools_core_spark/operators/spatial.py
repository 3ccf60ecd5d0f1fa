"""Spatial-join layer: kNN join, point-in-polygon, rasterization.

Engine-layer operators mandated by the north rule (SURVEY.md §2.3) — the
reference has no spatial joins (it is a dense-array kernel library), so these
are built Spark-first on the cell-prefix blocking idea:

* kNN join — radius-bounded: candidates from the 3×3 cell ring at
  cell_size = radius (equi-join), then a per-query top-k window ordered by
  (dist, base_id) for deterministic ties.
* point-in-polygon — bounding-box prefilter (pushes into the scan) + exact
  ray-cast test as a vectorized pandas UDF.
* rasterize — groupBy tile aggregation of a point field back to grid cells.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType
from pyspark.sql.window import Window

from gstools_core_spark.functions import distance as D
from gstools_core_spark.functions.sqltext import q as quote


def knn_join(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    radius: float,
    query_id: str = "qid",
    base_id: str = "bid",
    coords: Sequence[str] = ("x", "y"),
    base_payload: Sequence[str] = (),
) -> DataFrame:
    """For each query point, its k nearest base points within ``radius``.

    Output: (qid, bid, dist, rank, b_<payload>…).  Semantics are
    radius-bounded kNN — a query with fewer than k in-radius neighbors
    returns fewer rows (the scale-safe contract: the ring join prunes, no
    global fallback scan).  Ties broken by base id, deterministically.
    """
    qcx = F.floor(F.col(coords[0]) / F.lit(radius)).cast("long")
    qcy = F.floor(F.col(coords[1]) / F.lit(radius)).cast("long")
    q = queries.select(
        F.col(query_id).alias("qid"),
        *[F.col(c).alias(f"q_{c}") for c in coords],
        qcx.alias("cx"),
        qcy.alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    q = (
        q.withColumn("_off", F.explode(offsets))
        .select(
            "qid",
            *[f"q_{c}" for c in coords],
            (F.col("cx") + F.col("_off.dx")).alias("jcx"),
            (F.col("cy") + F.col("_off.dy")).alias("jcy"),
        )
    )
    bcx = F.floor(F.col(coords[0]) / F.lit(radius)).cast("long")
    bcy = F.floor(F.col(coords[1]) / F.lit(radius)).cast("long")
    b = base.select(
        F.col(base_id).alias("bid"),
        *[F.col(c).alias(f"b_{c}") for c in coords],
        *[F.col(c).alias(f"b_{c}") for c in base_payload],
        bcx.alias("jcx"),
        bcy.alias("jcy"),
    )
    dist = F.expr(
        D.euclid([quote(f"q_{c}") for c in coords], [quote(f"b_{c}") for c in coords])
    )
    cand = (
        q.join(b, ["jcx", "jcy"])
        .withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(radius))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("bid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "bid", "dist", "rank", *[f"b_{c}" for c in base_payload])
    )


def geo_knn_join(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    radius_rad: float,
    query_id: str = "qid",
    base_id: str = "bid",
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_abs_lat: float | None = None,
) -> DataFrame:
    """kNN join on the sphere: neighbors within ``radius_rad`` central angle
    (haversine, radians — reference unit, variogram.rs:107-118), ranked per
    query.  Latitude cells of width degrees(radius); longitude cells WRAP at
    the antimeridian (same grid as pair_join.haversine_grid — a single
    planet-wide lon cell when the secant bound degenerates).  The latitude
    bound is derived from the data (max over BOTH sides) unless given."""
    from gstools_core_spark.operators.pair_join import geo_cell_exprs, haversine_grid

    if max_abs_lat is None:
        qb = queries.select(F.abs(F.col(lat_col)).alias("al")).unionByName(
            base.select(F.abs(F.col(lat_col)).alias("al"))
        )
        row = qb.agg(F.max("al")).first()
        max_abs_lat = float(row[0]) if row and row[0] is not None else 0.0
    cell_lat, n_lon, lon_w = haversine_grid(radius_rad, max_abs_lat)
    # the shared geo blocking-cell definition; pad to a 2-key scheme with a
    # constant lon cell when lon blocking is disabled
    cells = geo_cell_exprs(lat_col, lon_col, cell_lat, n_lon, lon_w)
    lat_cell = cells[0]
    lon_cell = cells[1] if len(cells) > 1 else F.lit(0).cast("long")

    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col(lat_col).alias("q_lat"),
        F.col(lon_col).alias("q_lon"),
        lat_cell.alias("cx"),
        lon_cell.alias("cy"),
    )
    lon_offs = (-1, 0, 1) if n_lon > 1 else (0,)
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in lon_offs
        ]
    )
    jcy = F.col("cy") + F.col("_off.dy")
    if n_lon > 1:
        jcy = F.pmod(jcy, F.lit(n_lon))
    q = q.withColumn("_off", F.explode(offsets)).select(
        "qid", "q_lat", "q_lon",
        (F.col("cx") + F.col("_off.dx")).alias("jcx"),
        jcy.alias("jcy"),
    )
    b = base.select(
        F.col(base_id).alias("bid"),
        F.col(lat_col).alias("b_lat"),
        F.col(lon_col).alias("b_lon"),
        lat_cell.alias("jcx"),
        lon_cell.alias("jcy"),
    )
    dist = F.expr(D.haversine("q_lat", "q_lon", "b_lat", "b_lon"))
    cand = (
        q.join(b, ["jcx", "jcy"])
        .withColumn("dist", dist)
        .where(F.col("dist") <= F.lit(radius_rad))
    )
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("bid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "bid", "dist", "rank")
    )


def knn_join_adaptive(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    radius: float,
    query_id: str = "qid",
    base_id: str = "bid",
    coords: Sequence[str] = ("x", "y"),
    max_rounds: int = 3,
    growth: float = 4.0,
) -> DataFrame:
    """kNN join with expanding search radius: queries that found fewer than
    ``k`` neighbors in round r retry with radius·growth^r (anti-join keeps
    only unsatisfied queries — the north-rule checkpoint/resume shape).
    Bounded driver loop of ``max_rounds`` distributed passes; each pass is
    the radius-bounded ring join.  Queries still unsatisfied after the last
    round return their partial (<k) neighbor lists.
    """
    remaining = queries
    results = None
    r = radius
    for round_i in range(max_rounds):
        # localCheckpoint per round (CLAUDE.md iterative-loop rule): without
        # it round r's plan embeds every earlier round's ring join — the
        # join is re-executed by both the counts aggregate and the semi
        # join, and the logical plan doubles per round
        found = knn_join(
            remaining, base, k=k, radius=r, query_id=query_id,
            base_id=base_id, coords=coords,
        ).withColumn("radius_round", F.lit(round_i)).localCheckpoint(eager=True)
        counts = found.groupBy("qid").agg(F.count(F.lit(1)).alias("_n"))
        satisfied = counts.where(F.col("_n") >= k).select("qid")
        done = found.join(satisfied, "qid", "left_semi")
        last = round_i == max_rounds - 1
        keep = found if last else done
        results = keep if results is None else results.unionByName(keep)
        if last:
            break
        remaining = remaining.join(
            satisfied.withColumnRenamed("qid", query_id), query_id, "left_anti"
        ).localCheckpoint(eager=True)
        r *= growth
    # a query can appear from multiple rounds only via the final partial
    # pass; dedupe keeping the earliest round
    w = Window.partitionBy("qid", "bid").orderBy("radius_round")
    return (
        results.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def knn_join_bruteforce(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    query_id: str = "qid",
    base_id: str = "bid",
    coords: Sequence[str] = ("x", "y"),
) -> DataFrame:
    """Exact unbounded kNN via cross join — test oracle / tiny inputs only."""
    q = queries.select(
        F.col(query_id).alias("qid"), *[F.col(c).alias(f"q_{c}") for c in coords]
    )
    b = base.select(
        F.col(base_id).alias("bid"), *[F.col(c).alias(f"b_{c}") for c in coords]
    )
    dist = F.expr(
        D.euclid([quote(f"q_{c}") for c in coords], [quote(f"b_{c}") for c in coords])
    )
    cand = q.crossJoin(b).withColumn("dist", dist)
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("bid").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "bid", "dist", "rank")
    )


def polygon_cell_cover(
    polygon: Sequence[tuple[float, float]], cell_size: float
) -> tuple[set, set]:
    """Conservative grid cover of a polygon: returns (interior_cells,
    boundary_cells).  Cells fully inside skip the exact test entirely;
    boundary cells go to the ray-cast; everything else is outside.
    Driver-side numpy rasterization of the (small) polygon — the broadcast
    cell-cover set of SURVEY.md §2.3."""
    vx = np.array([p[0] for p in polygon], dtype=np.float64)
    vy = np.array([p[1] for p in polygon], dtype=np.float64)

    def ray(px, py):
        inside = np.zeros(np.shape(px), dtype=bool)
        j = len(vx) - 1
        for i in range(len(vx)):
            crosses = (vy[i] > py) != (vy[j] > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at = vx[i] + (py - vy[i]) * (vx[j] - vx[i]) / (vy[j] - vy[i])
            inside ^= crosses & (px < np.where(crosses, x_at, np.inf))
            j = i
        return inside

    def seg_hits_box(x1, y1, x2, y2, bx0, by0, bx1, by1):
        """Liang-Barsky segment vs axis-aligned box."""
        t0, t1 = 0.0, 1.0
        dx, dy = x2 - x1, y2 - y1
        for p, q in (
            (-dx, x1 - bx0), (dx, bx1 - x1), (-dy, y1 - by0), (dy, by1 - y1),
        ):
            if p == 0.0:
                if q < 0.0:
                    return False
            else:
                r = q / p
                if p < 0.0:
                    t0 = max(t0, r)
                else:
                    t1 = min(t1, r)
                if t0 > t1:
                    return False
        return True

    cx0 = int(np.floor(vx.min() / cell_size)) - 1
    cx1 = int(np.floor(vx.max() / cell_size)) + 1
    cy0 = int(np.floor(vy.min() / cell_size)) - 1
    cy1 = int(np.floor(vy.max() / cell_size)) + 1
    nv = len(vx)
    interior, boundary = set(), set()
    for cx in range(cx0, cx1 + 1):
        for cy in range(cy0, cy1 + 1):
            bx0, by0 = cx * cell_size, cy * cell_size
            bx1, by1 = bx0 + cell_size, by0 + cell_size
            # boundary iff any polygon edge intersects the cell box (sound
            # for arbitrary simple polygons); else class = center's class
            crossed = any(
                seg_hits_box(vx[i], vy[i], vx[(i + 1) % nv], vy[(i + 1) % nv],
                             bx0, by0, bx1, by1)
                for i in range(nv)
            )
            if crossed:
                boundary.add((cx, cy))
            elif bool(ray(np.array([bx0 + cell_size / 2]), np.array([by0 + cell_size / 2]))[0]):
                interior.add((cx, cy))
    return interior, boundary


def point_in_polygon(
    points: DataFrame,
    polygon: Sequence[tuple[float, float]],
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "inside",
    cell_size: float | None = None,
) -> DataFrame:
    """Flag points inside a simple polygon (even-odd ray cast).

    Physical plan: the polygon bbox becomes a plain column predicate (pushed
    into the parquet scan by Catalyst); with ``cell_size`` set, a broadcast
    cell cover further routes points — interior-cell points are inside=true
    with NO Python, only boundary-cell points reach the vectorized numpy
    ray-cast UDF (SURVEY.md §2.3 cell-cover design).

    The cover is sound for arbitrary simple polygons: a cell is 'boundary'
    iff a polygon edge intersects it (Liang-Barsky), otherwise its class is
    its center's class.
    """
    vx = np.array([p[0] for p in polygon], dtype=np.float64)
    vy = np.array([p[1] for p in polygon], dtype=np.float64)
    xmin, xmax = float(vx.min()), float(vx.max())
    ymin, ymax = float(vy.min()), float(vy.max())

    @F.pandas_udf(BooleanType())
    def _ray_cast(xs: pd.Series, ys: pd.Series) -> pd.Series:
        x = xs.to_numpy(dtype=np.float64)
        y = ys.to_numpy(dtype=np.float64)
        inside = np.zeros(len(x), dtype=bool)
        nv = len(vx)
        j = nv - 1
        for i in range(nv):
            xi, yi, xj, yj = vx[i], vy[i], vx[j], vy[j]
            crosses = (yi > y) != (yj > y)
            with np.errstate(divide="ignore", invalid="ignore"):
                x_at = xi + (y - yi) * (xj - xi) / (yj - yi)
            inside ^= crosses & (x < np.where(crosses, x_at, np.inf))
            j = i
        return pd.Series(inside)

    # null-safe bbox predicate (a null coordinate is 'outside')
    in_bbox = F.coalesce(
        (F.col(x_col) >= xmin)
        & (F.col(x_col) <= xmax)
        & (F.col(y_col) >= ymin)
        & (F.col(y_col) <= ymax),
        F.lit(False),
    )
    # A Python UDF referenced inside when() is EXTRACTED by Catalyst into
    # an ArrowEvalPython node and evaluated for EVERY row — the branch
    # condition only selects among already-computed values.  To actually
    # skip Python, the rows must be SPLIT with filters first (the UDF then
    # sits above a Filter in its own union branch) and recombined with
    # unionByName; each branch re-reads the (columnar, pushdown-pruned)
    # scan — at scale that trade is the whole point of the cover.
    if cell_size is None:
        inside_part = points.where(in_bbox).withColumn(
            out_col, _ray_cast(F.col(x_col), F.col(y_col))
        )
        outside_part = points.where(~in_bbox).withColumn(out_col, F.lit(False))
        return inside_part.unionByName(outside_part)

    interior, boundary = polygon_cell_cover(polygon, cell_size)
    enc = lambda c: (c[0] << 21) ^ (c[1] & ((1 << 21) - 1))  # noqa: E731
    key = F.shiftleft(
        F.floor(F.col(x_col) / F.lit(cell_size)).cast("long"), 21
    ).bitwiseXOR(
        F.floor(F.col(y_col) / F.lit(cell_size))
        .cast("long")
        .bitwiseAND(F.lit((1 << 21) - 1))
    )
    # cover membership via a BROADCAST join, not isin literal lists — a
    # fine cell_size would otherwise inflate the plan with thousands of
    # 64-bit literals (the blowup pair_join's salting explicitly avoids)
    if not (interior or boundary):  # degenerate polygon: no cover cells
        return points.withColumn(out_col, F.lit(False))
    clash = {"_pipck", "_pipint"} & set(points.columns)
    if clash:  # a silent collision would mis-route rows between branches
        raise ValueError(
            f"input columns {sorted(clash)} collide with point_in_polygon's "
            "internal temp columns — rename them first"
        )
    # a pyarrow table plans a JVM-side LocalTableScan; createDataFrame(list)
    # would be a Python RDD that Python workers serve on every execution
    cover = points.sparkSession.createDataFrame(
        pa.table(
            {
                "_pipck": pa.array([enc(c) for c in [*interior, *boundary]], pa.int64()),
                "_pipint": pa.array([True] * len(interior) + [False] * len(boundary)),
            }
        ),
        "_pipck long, _pipint boolean",
    )
    tagged = points.withColumn("_pipck", key).join(
        F.broadcast(cover), "_pipck", "left"
    )
    interior_part = tagged.where(
        in_bbox & F.col("_pipint").eqNullSafe(F.lit(True))
    ).withColumn(out_col, F.lit(True))
    boundary_part = tagged.where(
        in_bbox & F.col("_pipint").eqNullSafe(F.lit(False))
    ).withColumn(out_col, _ray_cast(F.col(x_col), F.col(y_col)))
    outside_part = tagged.where(
        ~in_bbox | F.col("_pipint").isNull()
    ).withColumn(out_col, F.lit(False))
    return (
        interior_part.unionByName(boundary_part)
        .unionByName(outside_part)
        .drop("_pipck", "_pipint")
    )


def rasterize_tiles(
    points: DataFrame,
    cell_size: float,
    value_col: str,
    tile_cells: int = 16,
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Rasterize a point field into dense per-tile grids: one output row per
    ``tile_cells × tile_cells`` macro-tile carrying the full cell-value
    matrix (row-major array<array<double>>, NaN for empty cells) — the
    north-star's 'kriged surface back to tile grids' shape, built with one
    groupBy + ``applyInPandas`` per macro-tile."""
    import pandas as pd

    tc = tile_cells
    cs = cell_size
    cx = F.floor(F.col(x_col) / F.lit(cs)).cast("long")
    cy = F.floor(F.col(y_col) / F.lit(cs)).cast("long")
    staged = (
        points.withColumn("_cx", cx)
        .withColumn("_cy", cy)
        .withColumn("tile_x", F.floor(F.col("_cx") / F.lit(tc)).cast("long"))
        .withColumn("tile_y", F.floor(F.col("_cy") / F.lit(tc)).cast("long"))
        .select("tile_x", "tile_y", "_cx", "_cy", F.col(value_col).alias("_v"))
    )

    def to_grid(tbl):
        # Arrow-native grouped map (round-6: same treatment as the kriging
        # cogroup — no per-tile pandas frame).  Row order is the Arrow
        # arrival order, identical to what applyInPandas delivered, so the
        # np.add.at accumulation order — and the tile means — are bitwise
        # unchanged.
        import pyarrow as pa

        def col(name):
            c = tbl.column(name)
            return (c.combine_chunks() if hasattr(c, "combine_chunks") else c).to_numpy(
                zero_copy_only=False
            )

        tx = col("tile_x")
        ty = col("tile_y")
        grid = np.full((tc, tc), np.nan)
        counts = np.zeros((tc, tc))
        sums = np.zeros((tc, tc))
        ix = (col("_cx") - tx[0] * tc).astype(np.int64)
        iy = (col("_cy") - ty[0] * tc).astype(np.int64)
        np.add.at(sums, (ix, iy), col("_v").astype(np.float64, copy=False))
        np.add.at(counts, (ix, iy), 1.0)
        nz = counts > 0
        grid[nz] = sums[nz] / counts[nz]
        return pa.Table.from_arrays(
            [
                pa.array([int(tx[0])], type=pa.int64()),
                pa.array([int(ty[0])], type=pa.int64()),
                pa.array([tbl.num_rows], type=pa.int64()),
                pa.array([grid.tolist()], type=pa.list_(pa.list_(pa.float64()))),
            ],
            names=["tile_x", "tile_y", "n_points", "grid"],
        )

    return staged.groupBy("tile_x", "tile_y").applyInArrow(
        to_grid,
        "tile_x long, tile_y long, n_points long, grid array<array<double>>",
    )


def rasterize(
    points: DataFrame,
    cell_size: float,
    value_col: str,
    x_col: str = "x",
    y_col: str = "y",
    agg: str = "avg",
) -> DataFrame:
    """Aggregate a point field back onto a regular tile grid
    → (tile_x, tile_y, value, n_points)."""
    agg_fn = {
        "avg": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        # exact interpolated median (not approx) — cross-engine-stable on
        # integer-valued doubles, unlike percentile_approx
        "median": lambda c: F.percentile(c, F.lit(0.5)),
    }[agg]
    return (
        points.withColumn("tile_x", F.floor(F.col(x_col) / F.lit(cell_size)).cast("long"))
        .withColumn("tile_y", F.floor(F.col(y_col) / F.lit(cell_size)).cast("long"))
        .groupBy("tile_x", "tile_y")
        .agg(
            agg_fn(F.col(value_col)).alias("value"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )

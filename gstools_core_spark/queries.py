"""Query registry: every operator exposed as (spark_fn, oracle_sql) pairs.

Each Spark callable takes (spark, sf_dir) and returns a DataFrame; the oracle
is ANSI SQL DuckDB runs on the same parquet tables.  Correctness contract
(driver compares row count + schema + order-insensitive value hash):

* all float outputs are ``round(x, N)`` on BOTH sides;
* all derived coordinates come from integer mul/mod arithmetic and distances
  from mul/add/sqrt only → bitwise-identical doubles in both engines, so
  half-open bin membership and window ranks agree exactly;
* column names/types are aligned explicitly (BIGINT/DOUBLE casts in SQL).

The oracle is intentionally the *naive* formulation (brute-force pair joins,
window functions); the Spark side runs the engine's scale-path operators
(cell-blocked joins, broadcast bins, pandas-UDF kernels) — differential
testing of the physical strategy against the declarative spec.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gstools_core_spark.functions import cells as C
from gstools_core_spark.functions import distance as D
from gstools_core_spark.functions import estimators as E
from gstools_core_spark.functions import points as P
from gstools_core_spark.functions import text as T
from gstools_core_spark.functions.sqltext import ORACLE
from gstools_core_spark.operators import dedup as DD
from gstools_core_spark.operators import similarity as SIM
from gstools_core_spark.operators import spatial as S
from gstools_core_spark.operators import variogram as V
from gstools_core_spark.operators.field import summate_field
from gstools_core_spark.operators.kriging import GaussianModel, krige
from gstools_core_spark.operators.multimodal import extract_features, synthesize_media
from gstools_core_spark.operators.pair_join import pair_join

# ---------------------------------------------------------------------------
# shared constants (used by BOTH the Spark impls and the SQL oracles)
# ---------------------------------------------------------------------------

BIN_EDGES = [float(v) for v in range(0, 9)]  # 8 unit bins over [-10,10]² points
HAV_EDGES = [0.0, 0.025, 0.05, 0.075, 0.1]  # radians
DIRECTIONS = [(1.0, 0.0), (0.0, 1.0)]
DIRECTIONS_SEP = [(1.0, 0.0), (math.sqrt(0.5), math.sqrt(0.5))]
ANGLES_TOL = math.pi / 8.0
BANDWIDTH_SEP = 2.0
KNN_K, KNN_RADIUS = 5, 3.0
POLY = [(-5.3, -4.7), (6.1, -5.2), (5.7, 4.9), (-4.9, 5.8)]  # CCW, off-lattice
RASTER_CS = 2.0
TILE_RES = 6
NEARDUP_TAU = 0.37
# integer-valued doubles: pair sums stay exact (< 2^53) in BOTH engines, so
# normalization is a division of identical inputs — no summation-order noise
VAL_SQL = "CAST(n_chars AS DOUBLE)"

_rng = np.random.default_rng(424242)
MODES = _rng.normal(size=(2, 8)).round(6)
MZ1 = _rng.normal(size=8).round(6)
MZ2 = _rng.normal(size=8).round(6)
MSF = np.abs(_rng.normal(size=8)).round(6)
# incompressible projector per mode: p = e1 − k·k1/|k|² (field.rs:148-152)
_K2 = MODES[0] / (MODES[0] ** 2 + MODES[1] ** 2)
PROJ = np.vstack([1.0 - MODES[0] * _K2, -MODES[1] * _K2])


def _prep(spark: SparkSession) -> None:
    """Defensive session settings (the driver owns the session)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # sf0.01-appropriate task granularity if the session default is 200
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    # release intermediates persisted by a previous registry query (dedup
    # signature tables, posting lists) — long-lived drivers run many
    # queries through one session
    from gstools_core_spark.operators.cache import clear_tracked

    clear_tracked()


def _docs_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("id"),
        P.x_col("doc_id").alias("x"),
        P.y_col("doc_id").alias("y"),
        F.expr(VAL_SQL).alias("val"),
    )


SQL_PTS = f"""pts AS (
  SELECT doc_id AS id,
         {P.sql_x('doc_id')} AS x,
         {P.sql_y('doc_id')} AS y,
         {VAL_SQL} AS val
  FROM documents
)"""


def _sql_bins(edges) -> str:
    rows = ", ".join(
        f"({i}, CAST({lo!r} AS DOUBLE), CAST({hi!r} AS DOUBLE))"
        for i, (lo, hi) in enumerate(zip(edges[:-1], edges[1:]))
    )
    return f"bins(bin_id, lo, hi) AS (VALUES {rows})"


SQL_PAIRS = """pairs AS (
  SELECT a.id AS a_id, b.id AS b_id,
         a.val - b.val AS fd,
         a.x - b.x AS ddx, a.y - b.y AS ddy,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
  FROM pts a JOIN pts b ON a.id < b.id
)"""


def _sql_variogram(edges, estimator="m", est_expr=None) -> str:
    est = est_expr or E.estimate("fd", estimator)
    gamma = E.normalize("coalesce(vsum, 0.0)", "coalesce(cnt, 0)", estimator, dialect=ORACLE)
    return f"""WITH {SQL_PTS}, {SQL_PAIRS}, {_sql_bins(edges)},
agg AS (
  SELECT bin_id, sum({est}) AS vsum, count(*) AS cnt
  FROM pairs JOIN bins ON dist >= lo AND dist < hi
  GROUP BY bin_id
)
SELECT CAST(b.bin_id AS BIGINT) AS bin_id, b.lo, b.hi,
       round({gamma}, 6) AS gamma,
       CAST(coalesce(cnt, 0) AS BIGINT) AS counts
FROM bins b LEFT JOIN agg ON b.bin_id = agg.bin_id"""


def _variogram_out(df: DataFrame) -> DataFrame:
    return df.select(
        "bin_id", "lo", "hi", F.round("gamma", 6).alias("gamma"), "counts"
    )


# --- 1-3: unstructured variograms ------------------------------------------

def q_variogram_unstructured(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    return _variogram_out(V.variogram_unstructured(pts, BIN_EDGES, estimator="m"))


def q_variogram_cressie(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    return _variogram_out(V.variogram_unstructured(pts, BIN_EDGES, estimator="c"))


def q_variogram_haversine(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        F.col("doc_id").alias("id"),
        P.lat_col("doc_id").alias("lat"),
        P.lon_col("doc_id").alias("lon"),
        F.expr(VAL_SQL).alias("val"),
    )
    out = V.variogram_unstructured(
        pts, HAV_EDGES, coords=("lat", "lon"), distance="h"
    )
    return _variogram_out(out)


def q_variogram_3d(spark, sf_dir):
    """3-D unstructured variogram — exercises the d-dimensional half-stencil
    blocking (lex-positive {-1,0,1}³ ring, 3-key equi-join) in the hash
    gate, not just pytest."""
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        F.col("doc_id").alias("id"),
        P.x_col("doc_id").alias("x"),
        P.y_col("doc_id").alias("y"),
        P.z_col("doc_id").alias("z"),
        F.expr(VAL_SQL).alias("val"),
    )
    out = V.variogram_unstructured(pts, BIN_EDGES, coords=("x", "y", "z"))
    return _variogram_out(out)


def _sql_variogram_3d() -> str:
    d3 = ("sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)"
          " + (a.z - b.z) * (a.z - b.z))")
    est = E.estimate("fd", "m")
    gamma = E.normalize("coalesce(vsum, 0.0)", "coalesce(cnt, 0)", "m", dialect=ORACLE)
    return f"""WITH pts AS (
  SELECT doc_id AS id, {P.sql_x('doc_id')} AS x, {P.sql_y('doc_id')} AS y,
         {P.sql_z('doc_id')} AS z, {VAL_SQL} AS val
  FROM documents
),
pairs AS (
  SELECT a.val - b.val AS fd, {d3} AS dist
  FROM pts a JOIN pts b ON a.id < b.id
),
{_sql_bins(BIN_EDGES)},
agg AS (
  SELECT bin_id, sum({est}) AS vsum, count(*) AS cnt
  FROM pairs JOIN bins ON dist >= lo AND dist < hi
  GROUP BY bin_id
)
SELECT CAST(b.bin_id AS BIGINT) AS bin_id, b.lo, b.hi,
       round({gamma}, 6) AS gamma,
       CAST(coalesce(cnt, 0) AS BIGINT) AS counts
FROM bins b LEFT JOIN agg ON b.bin_id = agg.bin_id"""


def _sql_variogram_haversine() -> str:

    hav = D.haversine("a.lat", "a.lon", "b.lat", "b.lon", ORACLE)
    gamma = E.normalize("coalesce(vsum, 0.0)", "coalesce(cnt, 0)", "m", dialect=ORACLE)
    return f"""WITH pts AS (
  SELECT doc_id AS id, {P.sql_lat('doc_id')} AS lat, {P.sql_lon('doc_id')} AS lon,
         {VAL_SQL} AS val
  FROM documents
),
pairs AS (
  SELECT a.val - b.val AS fd, {hav} AS dist
  FROM pts a JOIN pts b ON a.id < b.id
), {_sql_bins(HAV_EDGES)},
agg AS (
  SELECT bin_id, sum(fd * fd) AS vsum, count(*) AS cnt
  FROM pairs JOIN bins ON dist >= lo AND dist < hi
  GROUP BY bin_id
)
SELECT CAST(b.bin_id AS BIGINT) AS bin_id, b.lo, b.hi,
       round({gamma}, 6) AS gamma,
       CAST(coalesce(cnt, 0) AS BIGINT) AS counts
FROM bins b LEFT JOIN agg ON b.bin_id = agg.bin_id"""


# --- 4-5: directional -------------------------------------------------------

def q_variogram_directional(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    out = V.variogram_directional(
        pts, BIN_EDGES, DIRECTIONS, angles_tol=ANGLES_TOL, bandwidth=-1.0
    )
    return out.select(
        "dir_id", "bin_id", "lo", "hi", F.round("gamma", 6).alias("gamma"), "counts"
    )


def q_variogram_directional_sep(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    out = V.variogram_directional(
        pts,
        BIN_EDGES,
        DIRECTIONS_SEP,
        angles_tol=ANGLES_TOL,
        bandwidth=BANDWIDTH_SEP,
        separate_dirs=True,
    )
    return out.select(
        "dir_id", "bin_id", "lo", "hi", F.round("gamma", 6).alias("gamma"), "counts"
    )


def _sql_dirs(directions) -> str:
    rows = ", ".join(
        f"({i}, CAST({dx!r} AS DOUBLE), CAST({dy!r} AS DOUBLE))"
        for i, (dx, dy) in enumerate(directions)
    )
    return f"dirs(dir_id, dx, dy) AS (VALUES {rows})"


def _sql_dir_test(angles_tol: float, bandwidth: float) -> str:
    s = "(ddx * dx + ddy * dy)"
    cond = []
    if bandwidth > 0.0:
        band = (
            f"sqrt((ddx - {s} * dx) * (ddx - {s} * dx)"
            f" + (ddy - {s} * dy) * (ddy - {s} * dy))"
        )
        cond.append(f"{band} < CAST({bandwidth!r} AS DOUBLE)")
    # least() clamp: DuckDB evaluates acos eagerly (vectorized, no
    # short-circuit) and errors outside [-1,1]; the angle<1 guard keeps
    # the clamped value irrelevant to the predicate.
    angle = f"(abs({s}) / dist)"
    cond.append(
        f"NOT (dist > 0.0 AND {angle} < 1.0"
        f" AND acos(least({angle}, 1.0)) >= CAST({angles_tol!r} AS DOUBLE))"
    )
    return " AND ".join(cond)


def _sql_variogram_directional(directions, angles_tol, bandwidth, separate) -> str:
    gamma = E.normalize("coalesce(vsum, 0.0)", "coalesce(cnt, 0)", "m", dialect=ORACLE)
    sep_filter = (
        "QUALIFY row_number() OVER (PARTITION BY a_id, b_id ORDER BY dir_id) = 1"
        if separate
        else ""
    )
    return f"""WITH {SQL_PTS}, {SQL_PAIRS}, {_sql_dirs(directions)}, {_sql_bins(BIN_EDGES)},
passing AS (
  SELECT a_id, b_id, dir_id, fd, dist FROM pairs, dirs
  WHERE {_sql_dir_test(angles_tol, bandwidth)}
  {sep_filter}
),
agg AS (
  SELECT dir_id, bin_id, sum(fd * fd) AS vsum, count(*) AS cnt
  FROM passing JOIN bins ON dist >= lo AND dist < hi
  GROUP BY dir_id, bin_id
)
SELECT CAST(d.dir_id AS BIGINT) AS dir_id, CAST(b.bin_id AS BIGINT) AS bin_id,
       b.lo, b.hi, round({gamma}, 6) AS gamma,
       CAST(coalesce(cnt, 0) AS BIGINT) AS counts
FROM dirs d CROSS JOIN bins b
LEFT JOIN agg ON agg.dir_id = d.dir_id AND agg.bin_id = b.bin_id"""


DIRECTIONS_3D = [(1.0, 0.0, 0.0), (0.0, 0.0, 1.0)]


def q_variogram_directional_3d(spark, sf_dir):
    """3-D directional variogram — the any-dim cone test + d-dim blocking
    through the hash gate (directions along x and z)."""
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        F.col("doc_id").alias("id"),
        P.x_col("doc_id").alias("x"),
        P.y_col("doc_id").alias("y"),
        P.z_col("doc_id").alias("z"),
        F.expr(VAL_SQL).alias("val"),
    )
    out = V.variogram_directional(
        pts, BIN_EDGES, DIRECTIONS_3D, angles_tol=ANGLES_TOL,
        bandwidth=-1.0, coords=("x", "y", "z"),
    )
    return out.select(
        "dir_id", "bin_id", "lo", "hi", F.round("gamma", 6).alias("gamma"), "counts"
    )


def _sql_variogram_directional_3d() -> str:
    gamma = E.normalize("coalesce(vsum, 0.0)", "coalesce(cnt, 0)", "m", dialect=ORACLE)
    dir_rows = ", ".join(
        f"({i}, CAST({dx!r} AS DOUBLE), CAST({dy!r} AS DOUBLE), CAST({dz!r} AS DOUBLE))"
        for i, (dx, dy, dz) in enumerate(DIRECTIONS_3D)
    )
    s = "(ddx * dx + ddy * dy + ddz * dz)"
    angle = f"(abs({s}) / dist)"
    dir_test = (
        f"NOT (dist > 0.0 AND {angle} < 1.0"
        f" AND acos(least({angle}, 1.0)) >= CAST({ANGLES_TOL!r} AS DOUBLE))"
    )
    return f"""WITH pts AS (
  SELECT doc_id AS id, {P.sql_x('doc_id')} AS x, {P.sql_y('doc_id')} AS y,
         {P.sql_z('doc_id')} AS z, {VAL_SQL} AS val
  FROM documents
),
pairs AS (
  SELECT a.val - b.val AS fd,
         a.x - b.x AS ddx, a.y - b.y AS ddy, a.z - b.z AS ddz,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              + (a.z - b.z) * (a.z - b.z)) AS dist
  FROM pts a JOIN pts b ON a.id < b.id
),
dirs(dir_id, dx, dy, dz) AS (VALUES {dir_rows}),
{_sql_bins(BIN_EDGES)},
passing AS (
  SELECT dir_id, fd, dist FROM pairs, dirs WHERE {dir_test}
),
agg AS (
  SELECT dir_id, bin_id, sum(fd * fd) AS vsum, count(*) AS cnt
  FROM passing JOIN bins ON dist >= lo AND dist < hi
  GROUP BY dir_id, bin_id
)
SELECT CAST(d.dir_id AS BIGINT) AS dir_id, CAST(b.bin_id AS BIGINT) AS bin_id,
       b.lo, b.hi, round({gamma}, 6) AS gamma,
       CAST(coalesce(cnt, 0) AS BIGINT) AS counts
FROM dirs d CROSS JOIN bins b
LEFT JOIN agg ON agg.dir_id = d.dir_id AND agg.bin_id = b.bin_id"""


# --- 6-7: structured --------------------------------------------------------

GRID_NX = 100
# value has 2 decimals → cents are integer-valued doubles (exact sums)
SQL_GRID = f"""grid AS (
  SELECT event_id % {GRID_NX} AS i,
         CAST(floor(event_id / {GRID_NX}.0) AS BIGINT) AS j,
         round(value * 100) AS val,
         ((event_id * 31) % 10) < 3 AS masked
  FROM events
)"""


def _events_grid(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        (F.col("event_id") % GRID_NX).alias("i"),
        F.floor(F.col("event_id") / F.lit(float(GRID_NX))).cast("long").alias("j"),
        F.round(F.col("value") * 100, 0).alias("val"),
        ((F.col("event_id") * 31) % 10 < 3).alias("masked"),
    )


def q_variogram_structured(spark, sf_dir):
    _prep(spark)
    out = V.variogram_structured(_events_grid(spark, sf_dir))
    return out.select("lag", F.round("gamma", 6).alias("gamma"))


def q_variogram_ma_structured(spark, sf_dir):
    _prep(spark)
    out = V.variogram_structured_fast(_events_grid(spark, sf_dir), mask_col="masked")
    return out.select("lag", F.round("gamma", 6).alias("gamma"))


def _sql_variogram_structured(masked: bool) -> str:
    gamma = E.normalize("coalesce(vsum, 0.0)", "coalesce(cnt, 0)", "m", dialect=ORACLE)
    mask_pred = "AND NOT a.masked AND NOT b.masked" if masked else ""
    return f"""WITH {SQL_GRID},
agg AS (
  SELECT b.i - a.i AS lag,
         sum((a.val - b.val) * (a.val - b.val)) AS vsum,
         count(*) AS cnt
  FROM grid a JOIN grid b ON a.j = b.j AND b.i > a.i {mask_pred}
  GROUP BY b.i - a.i
)
SELECT CAST(l.range AS BIGINT) AS lag,
       CASE WHEN l.range = 0 THEN 0.0 ELSE round({gamma}, 6) END AS gamma
FROM range(0, {GRID_NX}) l LEFT JOIN agg ON agg.lag = l.range"""


# --- 8: multi-field ---------------------------------------------------------

VAL2_SQL = "CAST(doc_id % 7 AS DOUBLE) + 0.5"


def q_variogram_multifield(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        F.col("doc_id").alias("id"),
        P.x_col("doc_id").alias("x"),
        P.y_col("doc_id").alias("y"),
        F.expr(VAL_SQL).alias("val"),
        F.expr(VAL2_SQL).alias("val2"),
    )
    out = V.variogram_unstructured(pts, BIN_EDGES, val_cols=("val", "val2"))
    return _variogram_out(out)


def _sql_variogram_multifield() -> str:
    gamma = E.normalize("coalesce(vsum, 0.0)", "coalesce(cnt, 0)", "m", dialect=ORACLE)
    return f"""WITH pts AS (
  SELECT doc_id AS id, {P.sql_x('doc_id')} AS x, {P.sql_y('doc_id')} AS y,
         {VAL_SQL} AS val, {VAL2_SQL} AS val2
  FROM documents
),
pairs AS (
  SELECT u.fd AS fd,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS dist
  FROM pts a JOIN pts b ON a.id < b.id,
       unnest([a.val - b.val, a.val2 - b.val2]) AS u(fd)
), {_sql_bins(BIN_EDGES)},
agg AS (
  SELECT bin_id, sum(fd * fd) AS vsum, count(*) AS cnt
  FROM pairs JOIN bins ON dist >= lo AND dist < hi
  GROUP BY bin_id
)
SELECT CAST(b.bin_id AS BIGINT) AS bin_id, b.lo, b.hi,
       round({gamma}, 6) AS gamma, CAST(coalesce(cnt, 0) AS BIGINT) AS counts
FROM bins b LEFT JOIN agg ON b.bin_id = agg.bin_id"""


# --- 9: tile assignment (morton cells) --------------------------------------

def q_tile_assignment(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pts = docs.select(
        P.lat_col("doc_id").alias("lat"), P.lon_col("doc_id").alias("lon")
    )
    return (
        pts.select(C.geo_cell_col(F.col("lat"), F.col("lon"), TILE_RES).alias("cell_id"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_spread_steps(col: str) -> list[str]:
    masks = [
        (16, 281470681808895),
        (8, 71777214294589695),
        (4, 1085102592571150095),
        (2, 3689348814741910323),
        (1, 6148914691236517205),
    ]
    return [f"(({col} | ({col} << {s})) & {m})" for s, m in masks]


def _sql_tile_assignment() -> str:
    n = 1 << TILE_RES
    cs_lon, cs_lat = 360.0 / n, 180.0 / n
    sql = f"""WITH q AS (
  SELECT least(CAST(floor(({P.sql_lon('doc_id')} - (-180.0)) / {cs_lon!r}) AS BIGINT), {n - 1}) AS sx,
         least(CAST(floor(({P.sql_lat('doc_id')} - (-90.0)) / {cs_lat!r}) AS BIGINT), {n - 1}) AS sy
  FROM documents
)"""
    masks = [
        (16, 281470681808895),
        (8, 71777214294589695),
        (4, 1085102592571150095),
        (2, 3689348814741910323),
        (1, 6148914691236517205),
    ]
    prev = "q"
    for step, (s, m) in enumerate(masks):
        sql += f""",
s{step} AS (
  SELECT ((sx | (sx << {s})) & {m}) AS sx, ((sy | (sy << {s})) & {m}) AS sy
  FROM {prev}
)"""
        prev = f"s{step}"
    sql += f"""
SELECT (sx | (sy << 1)) AS cell_id, CAST(count(*) AS BIGINT) AS n_docs
FROM {prev} GROUP BY 1"""
    return sql


# --- 10: kNN join -----------------------------------------------------------

def q_knn_join(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    q = pts.where(F.col("id") % 10 == 0)
    out = S.knn_join(q, pts, k=KNN_K, radius=KNN_RADIUS, query_id="id", base_id="id")
    return out.select(
        "qid", "bid", F.round("dist", 9).alias("dist"), F.col("rank").cast("long").alias("rank")
    )


def _sql_knn_join() -> str:
    return f"""WITH {SQL_PTS},
q AS (SELECT * FROM pts WHERE id % 10 = 0),
cand AS (
  SELECT q.id AS qid, b.id AS bid,
         sqrt((q.x - b.x) * (q.x - b.x) + (q.y - b.y) * (q.y - b.y)) AS dist
  FROM q JOIN pts b ON true
),
sel AS (
  SELECT qid, bid, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, bid ASC) AS rank
  FROM cand WHERE dist <= {KNN_RADIUS!r}
)
SELECT qid, bid, round(dist, 9) AS dist, CAST(rank AS BIGINT) AS rank
FROM sel WHERE rank <= {KNN_K}"""


GEO_KNN_RADIUS = 0.05  # central angle, radians


def q_geo_knn(spark, sf_dir):
    """kNN on the sphere — exercises the wrapped haversine blocking grid
    (antimeridian pmod, data-derived latitude bound) in the hash gate."""
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    geo = docs.select(
        F.col("doc_id").alias("id"),
        P.lat_col("doc_id").alias("lat"),
        P.lon_col("doc_id").alias("lon"),
    )
    q = geo.where(F.col("id") % 10 == 0)
    out = S.geo_knn_join(
        q, geo, k=KNN_K, radius_rad=GEO_KNN_RADIUS, query_id="id", base_id="id"
    )
    return out.select(
        "qid", "bid", F.round("dist", 9).alias("dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_geo_knn() -> str:

    hav = D.haversine("q.lat", "q.lon", "b.lat", "b.lon", ORACLE)
    return f"""WITH geo AS (
  SELECT doc_id AS id, {P.sql_lat('doc_id')} AS lat, {P.sql_lon('doc_id')} AS lon
  FROM documents
),
q AS (SELECT * FROM geo WHERE id % 10 = 0),
cand AS (
  SELECT q.id AS qid, b.id AS bid, {hav} AS dist
  FROM q JOIN geo b ON true
),
sel AS (
  SELECT qid, bid, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist ASC, bid ASC) AS rank
  FROM cand WHERE dist <= {GEO_KNN_RADIUS!r}
)
SELECT qid, bid, round(dist, 9) AS dist, CAST(rank AS BIGINT) AS rank
FROM sel WHERE rank <= {KNN_K}"""


# --- 11: point-in-polygon ----------------------------------------------------

def q_point_in_polygon(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir).select("id", "x", "y")
    return S.point_in_polygon(pts, POLY).select("id", "inside")


def _sql_point_in_polygon() -> str:
    # convex CCW polygon → inside ⇔ strictly left of every edge;
    # equals the engine's even-odd ray cast for non-boundary points
    conds = []
    nv = len(POLY)
    for i in range(nv):
        x1, y1 = POLY[i]
        x2, y2 = POLY[(i + 1) % nv]
        conds.append(
            f"(({x2!r} - {x1!r}) * (y - {y1!r}) - ({y2!r} - {y1!r}) * (x - {x1!r})) > 0.0"
        )
    pred = " AND ".join(conds)
    return f"""WITH {SQL_PTS}
SELECT id, ({pred}) AS inside FROM pts"""


# --- 12: rasterize ----------------------------------------------------------

def q_rasterize(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    out = S.rasterize(pts, RASTER_CS, "val")
    return out.select(
        "tile_x", "tile_y", F.round("value", 9).alias("value"),
        F.col("n_points").cast("long").alias("n_points"),
    )


def _sql_rasterize() -> str:
    return f"""WITH {SQL_PTS}
SELECT CAST(floor(x / {RASTER_CS!r}) AS BIGINT) AS tile_x,
       CAST(floor(y / {RASTER_CS!r}) AS BIGINT) AS tile_y,
       round(sum(val) / count(*), 9) AS value,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts GROUP BY 1, 2"""


def q_variogram_cloud(spark, sf_dir):
    """Variogram CLOUD: the un-binned per-pair semivariances
    (a_id, b_id, dist, sv = (Δval)²/2) — the standard outlier-diagnostics
    product upstream of binning.  Spark side runs the cell-blocked ring
    pair join (the scale path); the oracle brute-forces all pairs."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    pairs = pair_join(pts, max_dist=float(max(BIN_EDGES)))
    diff = F.col("a_val") - F.col("b_val")
    return pairs.select(
        "a_id",
        "b_id",
        F.round("dist", 9).alias("dist"),
        F.round(diff * diff / 2.0, 6).alias("sv"),
    )


def _sql_variogram_cloud() -> str:
    return f"""WITH {SQL_PTS}, {SQL_PAIRS}
SELECT a_id, b_id, round(dist, 9) AS dist, round(fd * fd / 2.0, 6) AS sv
FROM pairs WHERE dist < {float(max(BIN_EDGES))!r}"""


def q_rasterize_median(spark, sf_dir):
    """Median-aggregated rasterization (robust tile statistic): exact
    interpolated percentile per tile, cross-engine-stable on the
    integer-valued doubles (unlike percentile_approx)."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    out = S.rasterize(pts, cell_size=RASTER_CS, value_col="val", agg="median")
    return out.select(
        "tile_x", "tile_y", F.round("value", 6).alias("value"), "n_points"
    )


def _sql_rasterize_median() -> str:
    return f"""WITH {SQL_PTS}
SELECT CAST(floor(x / {RASTER_CS!r}) AS BIGINT) AS tile_x,
       CAST(floor(y / {RASTER_CS!r}) AS BIGINT) AS tile_y,
       round(quantile_cont(val, 0.5), 6) AS value,
       CAST(count(*) AS BIGINT) AS n_points
FROM pts GROUP BY 1, 2"""


# --- 13: kriging (rows-only: np.linalg per neighborhood, not SQL) ------------

def q_krige_ordinary(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    cond = pts.where(F.col("id") % 5 == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    out = krige(pts, cond, model, radius=3.0, method="ordinary")
    return out.select(
        "id",
        F.round("krige_mean", 6).alias("krige_mean"),
        F.round("krige_var", 6).alias("krige_var"),
        "n_cond",
    )


KRIGE_SMALL_MOD = 97  # sparse cond set → neighborhoods of 0-2 points


def q_krige_small(spark, sf_dir):
    """Ordinary kriging restricted to neighborhoods of ≤2 conditioning
    points, where the bordered solve has a closed form DuckDB can compute —
    the ONLY hash-checked kriging query: it runs the full distributed
    pipeline (ring stamp, cogroup, per-cell LAPACK solve, variance clamp)
    and must agree with the analytic solution to 6 decimals."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    cond = pts.where(F.col("id") % KRIGE_SMALL_MOD == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    out = krige(pts, cond, model, radius=3.0, method="ordinary")
    return out.where(F.col("n_cond") <= 2).select(
        "id",
        F.round("krige_mean", 6).alias("krige_mean"),
        F.round("krige_var", 6).alias("krige_var"),
        "n_cond",
    )


def _sql_krige_closed_ctes(knn2: bool = False) -> str:
    """Shared CTE chain: given `pts` (targets) and `cond` (id,x,y,val),
    produce `nb` (ring neighborhoods, radius 3.0) and `solved` (closed-form
    ordinary-kriging est/kvar for nc in {1,2}).  Closed forms
    (var=1, len_scale=2, nugget=0.01, sigma = sill = 1.01):
    nc=1 -> w=1, mu=c1-sigma: est=z1, var=2*sigma-2*c1;
    nc=2 -> r=(c1-c2)/(sigma-c12), w1=(1+r)/2, w2=(1-r)/2,
    mu=c1-w1*sigma-w2*c12.  LAPACK vs analytic agree to << 1e-6, so
    round(...,6) hash-matches.

    ``knn2``: moving-window semantics — neighborhoods are the 2 NEAREST
    cond points with dist <= 3.0 (rank ties by (px, py, pv) ascending, the
    operator's canonical order), so EVERY target is closed-form solvable,
    not only the sparse-cond ones."""
    sig = 1.01
    cov = "exp(-((({d}) / 2.0) * (({d}) / 2.0)))"
    d_t = "sqrt((x - px{i}) * (x - px{i}) + (y - py{i}) * (y - py{i}))"
    c1 = cov.format(d=d_t.format(i=1))
    c2 = cov.format(d=d_t.format(i=2))
    d12 = "sqrt((px1 - px2) * (px1 - px2) + (py1 - py2) * (py1 - py2))"
    c12 = cov.format(d=d12)
    dist = "sqrt((t.x - c.x) * (t.x - c.x) + (t.y - c.y) * (t.y - c.y))"
    if knn2:
        nb_ranked = f"""nb0 AS (
  SELECT t.id, t.x, t.y, c.x AS px, c.y AS py, c.val AS pv, {dist} AS dist
  FROM tc t JOIN cc c ON abs(t.cx - c.cx) <= 1 AND abs(t.cy - c.cy) <= 1
),
nb AS (SELECT * FROM nb0 WHERE dist <= 3.0),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, px, py, pv) AS rn
  FROM nb
)"""
        piv_src = "ranked WHERE rn <= 2"
    else:
        nb_ranked = """nb AS (
  SELECT t.id, t.x, t.y, c.x AS px, c.y AS py, c.val AS pv
  FROM tc t JOIN cc c ON abs(t.cx - c.cx) <= 1 AND abs(t.cy - c.cy) <= 1
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY pv, px, py) AS rn
  FROM nb
)"""
        piv_src = "ranked"
    return f"""tc AS (SELECT id, x, y,
              CAST(floor(x / 3.0) AS BIGINT) AS cx,
              CAST(floor(y / 3.0) AS BIGINT) AS cy FROM pts),
cc AS (SELECT id, x, y, val,
              CAST(floor(x / 3.0) AS BIGINT) AS cx,
              CAST(floor(y / 3.0) AS BIGINT) AS cy FROM cond),
{nb_ranked},
piv AS (
  SELECT id, x, y, count(*) AS nc,
         max(CASE WHEN rn = 1 THEN px END) AS px1,
         max(CASE WHEN rn = 1 THEN py END) AS py1,
         max(CASE WHEN rn = 1 THEN pv END) AS pv1,
         max(CASE WHEN rn = 2 THEN px END) AS px2,
         max(CASE WHEN rn = 2 THEN py END) AS py2,
         max(CASE WHEN rn = 2 THEN pv END) AS pv2
  FROM {piv_src} GROUP BY id, x, y
),
solved AS (
  SELECT p.id, nc,
         CASE WHEN nc = 1 THEN pv1
              ELSE ((1.0 + ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * pv1
                 + ((1.0 - ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * pv2
         END AS est,
         CASE WHEN nc = 1 THEN greatest(2.0 * {sig!r} - 2.0 * {c1}, 0.0)
              ELSE greatest(
                {sig!r}
                - (((1.0 + ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {c1}
                   + ((1.0 - ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {c2})
                - ({c1}
                   - ((1.0 + ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {sig!r}
                   - ((1.0 - ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {c12}),
                0.0)
         END AS kvar
  FROM piv p WHERE nc <= 2
)"""


def _sql_krige_small() -> str:
    return f"""WITH {SQL_PTS},
cond AS (SELECT id, x, y, val FROM pts WHERE id % {KRIGE_SMALL_MOD} = 0),
{_sql_krige_closed_ctes()}
SELECT t.id,
       round(coalesce(s.est, 0.0), 6) AS krige_mean,
       round(coalesce(s.kvar, 1.01), 6) AS krige_var,
       CAST(coalesce(s.nc, 0) AS BIGINT) AS n_cond
FROM pts t
LEFT JOIN solved s ON s.id = t.id
LEFT JOIN (SELECT id, count(*) AS nc_all FROM nb GROUP BY id) f ON f.id = t.id
WHERE coalesce(f.nc_all, 0) <= 2"""


def q_krige_knn_small(spark, sf_dir):
    """Moving-window kriging hash-checked over EVERY target: knn=2 caps
    each target's neighborhood at its 2 nearest in-radius conditioning
    points, so the whole output (selection + bordered solve + prior
    fallback) is closed-form replayable — with a DENSE cond set (id % 11),
    unlike krige_small's sparse one, the per-target nearest-2 ranking is
    exercised on crowded neighborhoods."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    cond = pts.where(F.col("id") % 11 == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    out = krige(pts, cond, model, radius=3.0, method="ordinary", knn=2)
    return out.select(
        "id",
        F.round("krige_mean", 6).alias("krige_mean"),
        F.round("krige_var", 6).alias("krige_var"),
        "n_cond",
    )


def _sql_krige_knn_small() -> str:
    return f"""WITH {SQL_PTS},
cond AS (SELECT id, x, y, val FROM pts WHERE id % 11 = 0),
{_sql_krige_closed_ctes(knn2=True)}
SELECT t.id,
       round(coalesce(s.est, 0.0), 6) AS krige_mean,
       round(coalesce(s.kvar, 1.01), 6) AS krige_var,
       CAST(coalesce(s.nc, 0) AS BIGINT) AS n_cond
FROM pts t LEFT JOIN solved s ON s.id = t.id"""


def q_cond_field_small(spark, sf_dir):
    """Conditional simulation (unconditional summate field bent through
    conditioning data via kriged residuals), restricted to <=2-point
    neighborhoods so DuckDB can replay the whole composition in closed
    form — the flagship estimate->simulate workflow, hash-checked."""
    from gstools_core_spark.operators.fit import conditional_field

    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    cond = pts.where(F.col("id") % KRIGE_SMALL_MOD == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    out = conditional_field(pts, cond, model, MODES, MZ1, MZ2, radius=3.0)
    return out.where(F.col("n_cond") <= 2).select(
        "id", F.round("cond_field", 6).alias("cond_field"), "n_cond"
    )


def _sql_cond_field_small() -> str:
    term = "z1 * cos(kx * x + ky * y) + z2 * sin(kx * x + ky * y)"
    return f"""WITH {SQL_PTS}, {_modes_sql_values()},
uu AS (
  SELECT id, sum({term}) AS u
  FROM pts CROSS JOIN modes GROUP BY id, x, y
),
cond AS (
  SELECT p.id, p.x, p.y, p.val - uu.u AS val
  FROM pts p JOIN uu ON uu.id = p.id
  WHERE p.id % {KRIGE_SMALL_MOD} = 0
),
{_sql_krige_closed_ctes()}
SELECT t.id,
       round(u.u + coalesce(s.est, 0.0), 6) AS cond_field,
       CAST(coalesce(s.nc, 0) AS BIGINT) AS n_cond
FROM pts t
JOIN uu u ON u.id = t.id
LEFT JOIN solved s ON s.id = t.id
LEFT JOIN (SELECT id, count(*) AS nc_all FROM nb GROUP BY id) f ON f.id = t.id
WHERE coalesce(f.nc_all, 0) <= 2"""


def q_krige_universal_small(spark, sf_dir):
    """Universal (drift order 1) kriging hash-checked through DRIFT-SPACE
    EXACTNESS: the conditioning values are an exact linear function of the
    coordinates (dyadic coefficients 0.25/0.125/0.0625 → the multiply/add
    chain is bitwise-identical in both engines), and universal kriging
    reproduces any function inside its drift space exactly — est(t) =
    wᵀ(Fᵀβ) = βᵀ(Fw) = βᵀf(t) uses only the unbiasedness constraints, so
    it holds for ANY covariance model whenever the drift block has full
    rank (≥3 non-collinear neighbors).  The oracle therefore replays only
    the ring-neighborhood COUNT and the linear target value; the Spark
    side must reach it through the full distributed pipeline (ring-stamp
    cogroup, drift-extended LAPACK solve, ~1e-12 solve error « the 1e-6
    rounding quantum).  n_cond is least(ring count, 512) on BOTH sides —
    the operator truncates dense neighborhoods at max_cond=512 while the
    estimate stays drift-space-exact for any subset, so the oracle holds
    at every data density, not only the sparse gate SF.  krige_var is not
    closed-form and is pinned by the golden/constructed pytests
    instead."""
    _prep(spark)
    lin = F.lit(0.25) + F.lit(0.125) * F.col("x") - F.lit(0.0625) * F.col("y")
    pts = _docs_points(spark, sf_dir).select("id", "x", "y", lin.alias("val"))
    cond = pts.where(F.col("id") % 5 == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    out = krige(pts, cond, model, radius=3.0, method="universal", drift_order=1)
    return out.where(F.col("n_cond") >= 3).select(
        "id", F.round("krige_mean", 6).alias("krige_mean"), "n_cond"
    )


def _sql_krige_universal_small() -> str:
    return f"""WITH {SQL_PTS},
cond AS (SELECT id, x, y FROM pts WHERE id % 5 = 0),
tc AS (SELECT id, x, y,
              CAST(floor(x / 3.0) AS BIGINT) AS cx,
              CAST(floor(y / 3.0) AS BIGINT) AS cy FROM pts),
cc AS (SELECT id, x, y,
              CAST(floor(x / 3.0) AS BIGINT) AS cx,
              CAST(floor(y / 3.0) AS BIGINT) AS cy FROM cond),
cnt AS (
  SELECT t.id, count(*) AS nc
  FROM tc t JOIN cc c ON abs(t.cx - c.cx) <= 1 AND abs(t.cy - c.cy) <= 1
  GROUP BY t.id
)
SELECT t.id,
       round(0.25 + 0.125 * t.x - 0.0625 * t.y, 6) AS krige_mean,
       CAST(least(cnt.nc, 512) AS BIGINT) AS n_cond
FROM pts t JOIN cnt ON cnt.id = t.id
WHERE cnt.nc >= 3"""


def q_krige_universal(spark, sf_dir):
    """Universal (drift) kriging: unknown linear trend estimated jointly
    with the weights (bench/API path; the hash gate runs
    q_krige_universal_small's drift-space-exact twin, and the variance is
    pinned by pytest)."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    cond = pts.where(F.col("id") % 5 == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    out = krige(pts, cond, model, radius=3.0, method="universal", drift_order=1)
    return out.select(
        "id",
        F.round("krige_mean", 6).alias("krige_mean"),
        F.round("krige_var", 6).alias("krige_var"),
        "n_cond",
    )


def q_krige_geo(spark, sf_dir):
    """Kriging ON THE SPHERE (rows-only: np.linalg per neighborhood; the
    sphere path is pinned by test_krige_haversine_knn_matches_bruteforce
    incl. antimeridian neighborhoods): document points mapped to a global
    lat/lon extent — longitudes reach ±179 so the wrapped-lon blocking
    grid is exercised — moving-window ordinary kriging with central-angle
    radius."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir).select(
        "id",
        (F.col("x") * 6.0).alias("lat"),  # x ∈ [-10,10] → lat ∈ [-60,60]
        (F.col("y") * 17.9).alias("lon"),  # y ∈ [-10,10] → lon ∈ [-179,179]
        "val",
    )
    cond = pts.where(F.col("id") % 5 == 0)
    model = GaussianModel(var=1.0, len_scale=0.1, nugget=0.01)
    out = krige(
        pts,
        cond,
        model,
        radius=0.2,
        method="ordinary",
        coords=("lat", "lon"),
        knn=8,
        haversine=True,
    )
    return out.select(
        "id",
        F.round("krige_mean", 6).alias("krige_mean"),
        F.round("krige_var", 6).alias("krige_var"),
        "n_cond",
    )


GEO_SMALL_MOD, GEO_SMALL_RADIUS, GEO_SMALL_LS = 11, 0.2, 0.1


def q_krige_geo_small(spark, sf_dir):
    """Kriging ON THE SPHERE, hash-checked: moving-window (knn=2) ordinary
    kriging over the same wrapped-lon global extent as q_krige_geo
    (lat ∈ [-60,60], lon ∈ [-179,179] — the antimeridian blocking grid is
    live), capped at 2 nearest in-radius conditioning points so the
    bordered solve has the closed form DuckDB can replay with haversine
    distances (same algebra as krige_knn_small, central angles through
    the identical sin/cos/atan2 operation order).  Values are
    integer-valued doubles (n_chars), ranks tie-break by
    (dist, lat, lon, val) on both sides."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir).select(
        "id",
        (F.col("x") * 6.0).alias("lat"),
        (F.col("y") * 17.9).alias("lon"),
        "val",
    )
    cond = pts.where(F.col("id") % GEO_SMALL_MOD == 0)
    model = GaussianModel(var=1.0, len_scale=GEO_SMALL_LS, nugget=0.01)
    out = krige(
        pts,
        cond,
        model,
        radius=GEO_SMALL_RADIUS,
        method="ordinary",
        coords=("lat", "lon"),
        knn=2,
        haversine=True,
    )
    return out.select(
        "id",
        F.round("krige_mean", 6).alias("krige_mean"),
        F.round("krige_var", 6).alias("krige_var"),
        "n_cond",
    )


def _sql_krige_geo_small() -> str:
    """Brute-force spec of the wrapped-grid knn=2 sphere kriging: the
    engine's blocking recall is pinned separately (antimeridian pytests),
    so the oracle ranks ALL in-radius conditioning points per target by
    (dist, lat, lon, val) and solves the ≤2-point neighborhood in closed
    form — cov(d) = exp(-((d/ls)·(d/ls))), sigma = sill = 1.01.

    Residual risk (accepted): the operation ORDER is identical on both
    sides, but numpy's and DuckDB's libm trig may differ by ~1 ulp, which
    could flip a neighbor rank tie, the radius predicate, or a round(.,6)
    boundary.  Measured margins with the hash-derived coordinates: the
    tightest rank-1/rank-2 distance gap is 4.0e-5 rad (sf0.1; sf0.01 has
    no 2-neighbor targets) and the closest distance to the 0.2 radius
    boundary is 3.6e-6 rad (sf0.1) — both ≳1e11 ulps at this magnitude,
    so a few-ulp libm disagreement cannot flip either.  If this ever
    flaps on another host, coarsen the rounding quantum rather than
    patching one engine (same policy as ADVICE round-2 on
    krige_raster_small)."""

    sig = 1.01
    ls = GEO_SMALL_LS
    cov = f"exp(-((({{d}}) / {ls!r}) * (({{d}}) / {ls!r})))"
    c1 = cov.format(d=D.haversine("x", "y", "px1", "py1", ORACLE))
    c2 = cov.format(d=D.haversine("x", "y", "px2", "py2", ORACLE))
    c12 = cov.format(d=D.haversine("px1", "py1", "px2", "py2", ORACLE))
    dist = D.haversine("t.lat", "t.lon", "c.lat", "c.lon", ORACLE)
    return f"""WITH pts0 AS (
  SELECT doc_id AS id,
         {P.sql_x('doc_id')} * 6.0 AS lat,
         {P.sql_y('doc_id')} * 17.9 AS lon,
         {VAL_SQL} AS val
  FROM documents
),
cond AS (SELECT id, lat, lon, val FROM pts0 WHERE id % {GEO_SMALL_MOD} = 0),
nb AS (
  SELECT t.id, t.lat AS x, t.lon AS y,
         c.lat AS px, c.lon AS py, c.val AS pv, {dist} AS dist
  FROM pts0 t JOIN cond c ON {dist} <= {GEO_SMALL_RADIUS!r}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, px, py, pv) AS rn
  FROM nb
),
piv AS (
  SELECT id, x, y, count(*) AS nc,
         max(CASE WHEN rn = 1 THEN px END) AS px1,
         max(CASE WHEN rn = 1 THEN py END) AS py1,
         max(CASE WHEN rn = 1 THEN pv END) AS pv1,
         max(CASE WHEN rn = 2 THEN px END) AS px2,
         max(CASE WHEN rn = 2 THEN py END) AS py2,
         max(CASE WHEN rn = 2 THEN pv END) AS pv2
  FROM ranked WHERE rn <= 2 GROUP BY id, x, y
),
solved AS (
  SELECT p.id, nc,
         CASE WHEN nc = 1 THEN pv1
              ELSE ((1.0 + ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * pv1
                 + ((1.0 - ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * pv2
         END AS est,
         CASE WHEN nc = 1 THEN greatest(2.0 * {sig!r} - 2.0 * {c1}, 0.0)
              ELSE greatest(
                {sig!r}
                - (((1.0 + ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {c1}
                   + ((1.0 - ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {c2})
                - ({c1}
                   - ((1.0 + ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {sig!r}
                   - ((1.0 - ({c1} - {c2}) / ({sig!r} - {c12})) / 2.0) * {c12}),
                0.0)
         END AS kvar
  FROM piv p
)
SELECT t.id,
       round(coalesce(s.est, 0.0), 6) AS krige_mean,
       round(coalesce(s.kvar, 1.01), 6) AS krige_var,
       CAST(coalesce(s.nc, 0) AS BIGINT) AS n_cond
FROM pts0 t LEFT JOIN solved s ON s.id = t.id"""


def q_krige_raster(spark, sf_dir):
    """North-star end-to-end: geocoded points → ordinary kriging → kriged
    surface rasterized back to dense tile grids (rows-only; np.linalg
    solves are not SQL-expressible)."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    cond = pts.where(F.col("id") % 5 == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    kriged = krige(pts, cond, model, radius=3.0, method="ordinary")
    tiles = S.rasterize_tiles(
        kriged, cell_size=1.0, value_col="krige_mean", tile_cells=8
    )
    return tiles.select(
        "tile_x",
        "tile_y",
        "n_points",
        F.round(F.col("grid")[0][0], 6).alias("g00"),
    )


def q_krige_raster_small(spark, sf_dir):
    """Hash-checked twin of the krige→raster chain: ordinary kriging on the
    sparse KRIGE_SMALL_MOD conditioning set, restricted to ≤2-point
    neighborhoods (closed-form-solvable), quantized to integer-valued
    doubles (floor(est·1e6 + 0.5) — identical op in both engines, and
    integer sums stay exact < 2^53 regardless of accumulation order), then
    rasterized into dense 8×8 tile grids.  Output pins the grid's (0,0)
    cell, exercising the full distributed pipeline: ring-stamp cogroup
    solve → filter → applyInPandas tile assembly."""
    _prep(spark)
    pts = _docs_points(spark, sf_dir)
    cond = pts.where(F.col("id") % KRIGE_SMALL_MOD == 0)
    model = GaussianModel(var=1.0, len_scale=2.0, nugget=0.01)
    kriged = krige(pts, cond, model, radius=3.0, method="ordinary")
    small = kriged.where(F.col("n_cond") <= 2).select(
        "x",
        "y",
        F.floor(F.col("krige_mean") * 1e6 + 0.5).cast("double").alias("v"),
    )
    tiles = S.rasterize_tiles(small, cell_size=1.0, value_col="v", tile_cells=8)
    g = F.col("grid")[0][0]
    return tiles.select(
        "tile_x",
        "tile_y",
        "n_points",
        F.when(~F.isnan(g), F.round(g, 6)).alias("g00"),
    )


def _sql_krige_raster_small() -> str:
    return f"""WITH {SQL_PTS},
cond AS (SELECT id, x, y, val FROM pts WHERE id % {KRIGE_SMALL_MOD} = 0),
{_sql_krige_closed_ctes()},
small AS (
  SELECT CAST(floor(t.x / 1.0) AS BIGINT) AS cx,
         CAST(floor(t.y / 1.0) AS BIGINT) AS cy,
         floor(coalesce(s.est, 0.0) * 1000000.0 + 0.5) AS v
  FROM pts t
  LEFT JOIN solved s ON s.id = t.id
  LEFT JOIN (SELECT id, count(*) AS nc_all FROM nb GROUP BY id) f ON f.id = t.id
  WHERE coalesce(f.nc_all, 0) <= 2
),
tiled AS (
  SELECT CAST(floor(cx / 8.0) AS BIGINT) AS tile_x,
         CAST(floor(cy / 8.0) AS BIGINT) AS tile_y, cx, cy, v
  FROM small
),
agg AS (
  SELECT tile_x, tile_y, CAST(count(*) AS BIGINT) AS n_points
  FROM tiled GROUP BY tile_x, tile_y
),
g AS (
  SELECT tile_x, tile_y, round(sum(v) / count(*), 6) AS g00
  FROM tiled WHERE cx = tile_x * 8 AND cy = tile_y * 8
  GROUP BY tile_x, tile_y
)
SELECT a.tile_x, a.tile_y, a.n_points, g.g00
FROM agg a LEFT JOIN g ON g.tile_x = a.tile_x AND g.tile_y = a.tile_y"""


# --- 14-16: field summation --------------------------------------------------

def _modes_sql_values(with_sf: bool = False, with_proj: bool = False) -> str:
    rows = []
    for m in range(MODES.shape[1]):
        vals = [MODES[0, m], MODES[1, m], MZ1[m], MZ2[m]]
        if with_sf:
            vals.append(MSF[m])
        if with_proj:
            vals += [PROJ[0, m], PROJ[1, m]]
        rows.append("(" + ", ".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")")
    cols = "kx, ky, z1, z2" + (", sf" if with_sf else "") + (", p0, p1" if with_proj else "")
    return f"modes({cols}) AS (VALUES {', '.join(rows)})"


def q_summate(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir).select("id", "x", "y")
    out = summate_field(pts, MODES, MZ1, MZ2)
    return out.select("id", F.round("u", 6).alias("u"))


def q_summate_fourier(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir).select("id", "x", "y")
    out = summate_field(pts, MODES, MZ1, MZ2, variant="fourier", spectrum_factor=MSF)
    return out.select("id", F.round("u", 6).alias("u"))


def q_summate_incompr(spark, sf_dir):
    _prep(spark)
    pts = _docs_points(spark, sf_dir).select("id", "x", "y")
    out = summate_field(pts, MODES, MZ1, MZ2, variant="incompr")
    return out.select(
        "id", F.round("u_0", 6).alias("u_0"), F.round("u_1", 6).alias("u_1")
    )


def _sql_summate(variant: str) -> str:
    if variant == "scalar":
        term = "z1 * cos(kx * x + ky * y) + z2 * sin(kx * x + ky * y)"
        modes = _modes_sql_values()
        sel = f"round(sum({term}), 6) AS u"
    elif variant == "fourier":
        term = "sf * (z1 * cos(kx * x + ky * y) + z2 * sin(kx * x + ky * y))"
        modes = _modes_sql_values(with_sf=True)
        sel = f"round(sum({term}), 6) AS u"
    else:  # incompr
        z12 = "(z1 * cos(kx * x + ky * y) + z2 * sin(kx * x + ky * y))"
        modes = _modes_sql_values(with_proj=True)
        sel = f"round(sum(p0 * {z12}), 6) AS u_0, round(sum(p1 * {z12}), 6) AS u_1"
    return f"""WITH {SQL_PTS}, {modes}
SELECT id, {sel}
FROM pts CROSS JOIN modes
GROUP BY id"""


# --- 17: exact dedup ---------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = DD.exact_dedup(docs, ["text"], "doc_id")
    return out.select(F.col("doc_id").alias("keep_id"), F.col("dup_count"))


SQL_DEDUP_EXACT = """SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY text"""


# --- 18: n-gram jaccard pairs -------------------------------------------------

NGRAM_K, NGRAM_TAU = 3, 0.08


def q_dedup_components(spark, sf_dir):
    """Dedup-cluster resolution: the n-gram similarity pairs (capped
    candidate generation — the scale path) form a graph; every document
    gets the smallest doc_id of its CONNECTED COMPONENT (transitive
    near-duplicate closure — the web-scale contract, vs minhash_dedup's
    single-pass pair canonicalization).  Spark side runs alternating
    large-star/small-star contraction (operators/graph.py); the oracle
    replays it as a recursive-CTE reachability closure over the same
    capped pair set."""
    from gstools_core_spark.operators.graph import connected_components

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=NGRAM_K, threshold=NGRAM_TAU, max_df=NGRAM_MAX_DF
    )
    comp = connected_components(pairs, "a_id", "b_id")
    return docs.join(comp, docs["doc_id"] == comp["node"], "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("component")
    )


def _sql_dedup_components() -> str:
    return f"""WITH RECURSIVE pairs AS (
  SELECT a_id, b_id FROM ({_sql_ngram_jaccard_capped()})
),
und AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents
  UNION
  SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.r
)
SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS component FROM reach GROUP BY id"""


NGRAM_MAX_DF = 25


def q_ngram_jaccard_capped(spark, sf_dir):
    """Scale path of ngram_jaccard: shingles in more than max_df docs are
    dropped from CANDIDATE GENERATION (kills quadratic hot keys at corpus
    scale); jaccard is still exact on each candidate's full shingle sets."""
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = DD.ngram_jaccard_pairs(
        docs, "text", "doc_id", k=NGRAM_K, threshold=NGRAM_TAU, max_df=NGRAM_MAX_DF
    )
    return out.select("a_id", "b_id", F.round("jaccard", 9).alias("jaccard"))


def _sql_ngram_jaccard_capped() -> str:
    return f"""WITH {_sql_shingles(NGRAM_K)},
post AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
keep AS (SELECT s FROM post GROUP BY s HAVING count(*) <= {NGRAM_MAX_DF}),
kept AS (SELECT doc_id, p.s FROM post p JOIN keep USING (s)),
cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / CAST(len(sa.shingles) + len(sb.shingles)
                    - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE), 9) AS jaccard
FROM cands
JOIN sh sa ON sa.doc_id = a_id
JOIN sh sb ON sb.doc_id = b_id
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / CAST(len(sa.shingles) + len(sb.shingles)
             - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) >= {NGRAM_TAU!r}"""


# --- 19-20: minhash / simhash ---------------------------------------------------
# Both use the PORTABLE md5-derived hash (functions/hashing.py) so DuckDB
# computes bitwise-identical hash integers; the oracles are the NAIVE spec
# (minhash: same banding in list algebra; simhash: brute-force all-pairs
# popcount — the strongest check of the banding recall guarantee).

MH_HASHES, MH_BANDS, MH_K, MH_TAU = 32, 8, 3, 0.5
# scale-sane simhash gate spec: radius 4 via Manku combination banding
# (6 blocks, 2-block keys → C(6,2)=15 bands of ≥20-bit keys).  Radius ≳16
# has no scalable banding (simhash_near_dups raises via min_key_bits
# unless explicitly overridden) and is deliberately NOT registered.
SIMHASH_MAX_HAMMING, SIMHASH_BANDS, SIMHASH_KEY_BLOCKS = 4, 6, 2


def q_minhash_dedup(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = DD.minhash_dedup(
        docs, "text", "doc_id",
        threshold=MH_TAU, num_hashes=MH_HASHES, bands=MH_BANDS, shingle_k=MH_K,
    )
    return out.select("doc_id", "lang", "n_chars")


def _sql_shingles(k: int) -> str:
    """doc_id → distinct word-k-shingles (mirrors dedup.shingles_col)."""
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= {k}
           THEN list_transform(range(1, len(t) - {k} + 2),
                               i -> array_to_string(t[i:i+{k - 1}], ' '))
           ELSE [array_to_string(t, ' ')] END) AS shingles
  FROM toks
)"""


def _sql_minhash_dedup() -> str:
    from gstools_core_spark.functions.hashing import sql_portable_hash

    p = DD._MH_PRIME
    rpb = MH_HASHES // MH_BANDS
    sig_terms = ", ".join(
        f"list_min(list_transform(hh, h -> (h * {a} + {b}) % {p}))"
        for a, b in DD.mh_params(MH_HASHES)
    )
    return f"""WITH {_sql_shingles(MH_K)},
hs AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> {sql_portable_hash('s')} % {p}) AS hh
  FROM sh
),
sigs AS (SELECT doc_id, shingles, [{sig_terms}] AS sig FROM hs),
bands AS (
  SELECT doc_id, bb.band,
         array_to_string(sig[{rpb}*bb.band+1 : {rpb}*bb.band+{rpb}], ',') AS key
  FROM sigs CROSS JOIN (SELECT unnest(range(0, {MH_BANDS})) AS band) bb
),
cands AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
dups AS (
  SELECT DISTINCT c.b_id AS doc_id
  FROM cands c
  JOIN sigs sa ON sa.doc_id = c.a_id
  JOIN sigs sb ON sb.doc_id = c.b_id
  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / CAST(len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) >= {MH_TAU!r}
)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d LEFT JOIN dups u ON d.doc_id = u.doc_id
WHERE u.doc_id IS NULL"""


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dups at the web-scale radius through COMBINATION
    banding (Manku WWW'07): hamming ≤ 4 keyed on C(6,2)=15 two-block
    combinations of ≥20-bit keys instead of 5 single ~13-bit blocks —
    exponentially larger bucket space, same pigeonhole recall guarantee,
    verified against the brute-force all-pairs popcount oracle.  This IS
    the production spec: a radius-16 single-block banding (17 bands of
    ~4-bit keys) degenerates quadratic in-bucket and is rejected by
    simhash_near_dups' min_key_bits guard (pytest-pinned)."""
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hashed = DD.simhash64(docs, "text")
    out = DD.simhash_near_dups(
        hashed,
        "doc_id",
        max_hamming=SIMHASH_MAX_HAMMING,
        n_bands=SIMHASH_BANDS,
        key_blocks=SIMHASH_KEY_BLOCKS,
    )
    return out.select("a_id", "b_id", "hamming")


def _sql_simhash_neardup(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    """Brute-force all-pairs spec: simhash64 per doc (bits 0..59 from h1,
    60..63 from h2, exactly as dedup.simhash64), popcount(xor) ≤ max.  Bit 63
    can't be built with << 63 in DuckDB (overflow error) — OR in the sign
    bit as the BIGINT min literal instead."""
    from gstools_core_spark.functions.hashing import sql_portable_hash, sql_portable_hash2

    sums = ", ".join(
        f"sum((({'h1' if k < 60 else 'h2'} >> {k if k < 60 else k - 60}) & 1) * 2 - 1) AS s{k}"
        for k in range(64)
    )
    bits = " | ".join(
        f"(CASE WHEN s{k} > 0 THEN (CAST(1 AS BIGINT) << {k}) ELSE CAST(0 AS BIGINT) END)"
        for k in range(63)
    )
    bit63 = "(CASE WHEN s63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    return f"""WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
th AS (
  SELECT doc_id, {sql_portable_hash('t')} AS h1, {sql_portable_hash2('t')} AS h2
  FROM toks
),
bs AS (SELECT doc_id, {sums} FROM th GROUP BY doc_id),
simh AS (SELECT doc_id, {bits} | {bit63} AS sim FROM bs)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
FROM simh a JOIN simh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= {max_hamming}"""


# --- 21-23: text analysis -----------------------------------------------------

def q_token_count(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


SQL_TOKEN_COUNT = f"""SELECT doc_id,
       {T.sql_token_count('text')} AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars_calc
FROM documents"""


def q_lang_id(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", T.lang_id(F.col("text")).alias("lang_guess"))


def _sql_lang_id() -> str:
    scores = {
        lang: " + ".join(T.sql_occurrence_count("text", m) for m in markers)
        for lang, markers in T.LANG_MARKERS.items()
    }
    score_sel = ", ".join(f"({v}) AS s_{k}" for k, v in scores.items())
    best = "greatest(" + ", ".join(f"s_{k}" for k in scores) + ")"
    cases = " ".join(
        f"WHEN s_{k} > 0 AND s_{k} = {best} THEN '{k}'" for k in T.LANG_MARKERS
    )
    return f"""WITH sc AS (SELECT doc_id, {score_sel} FROM documents)
SELECT doc_id, CASE {cases} ELSE 'und' END AS lang_guess FROM sc"""


def q_quality_score(spark, sf_dir):
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", F.round(T.quality_score(F.col("text")), 9).alias("quality")
    )


def _sql_quality_score() -> str:
    n_tok = f"CAST({T.sql_token_count('text')} AS DOUBLE)"
    mean_tok_len = f"((CAST(length(text) AS DOUBLE) - ({n_tok} - 1)) / {n_tok})"
    len_comp = f"(1.0 - least(abs({mean_tok_len} - 4.5) / 4.5, 1.0))"
    occ_the = T.sql_occurrence_count("text", " the ")
    stop_comp = f"least(CAST({occ_the} AS DOUBLE) / ({n_tok} / 50.0 + 1.0), 1.0)"
    size_comp = "least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)"
    return f"""SELECT doc_id,
       round(0.4 * {len_comp} + 0.3 * {stop_comp} + 0.3 * {size_comp}, 9) AS quality
FROM documents"""


def q_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: 64-bit polynomial rolling hash over utf-8
    bytes (functions/text.fingerprint64, the pipeline layer's content
    fingerprint).  The vectorized pandas UDF is the engine path; the oracle
    replays the Horner fold in DuckDB HUGEINT arithmetic (mod 2^64 ≡ numpy
    uint64 wraparound).  Oracle assumes ASCII text (byte == codepoint —
    true of the synthetic corpus; the UDF itself handles any utf-8)."""
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", T.fingerprint64(F.col("text")).alias("fp"))


# Horner: fold acc = (acc·P + byte) mod 2^64, then one trailing ·P — equals
# Σ byte_i · P^(n-i), the UDF's formula.  acc < 2^64 and P < 2^41 keep the
# product < 2^105, inside HUGEINT.  The signed view maps to int64 like numpy.
SQL_DOC_FINGERPRINT = """WITH h AS (
  SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS HUGEINT),
             list_transform(range(1, length(text) + 1),
                            i -> CAST(ord(substr(text, CAST(i AS INT), 1)) AS HUGEINT))),
           (acc, b) -> (acc * 1099511628211 + b) % 18446744073709551616::HUGEINT
         ) * 1099511628211 % 18446744073709551616::HUGEINT AS hv
  FROM documents
)
SELECT doc_id,
       CASE WHEN hv < 9223372036854775808 THEN CAST(hv AS BIGINT)
            ELSE CAST(hv - 18446744073709551616 AS BIGINT) END AS fp
FROM h"""


# --- 24-25: embedding similarity ----------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    _prep(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 20 == 0)
    out = SIM.cosine_topk_sql(q, emb, k=5, query_id="vec_id", base_id="vec_id")
    return out.select(
        "qid", "bid", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


SQL_ANN_TOPK = """WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS qid, b.vec_id AS bid, sum(q.v * b.v) AS dot
  FROM e q JOIN e b ON q.idx = b.idx AND q.vec_id != b.vec_id
  WHERE q.vec_id % 20 = 0
  GROUP BY 1, 2
),
scored AS (
  SELECT qid, bid, dot / (nq.nrm * nb.nrm) AS cos_sim,
         row_number() OVER (PARTITION BY qid ORDER BY dot / (nq.nrm * nb.nrm) DESC, bid ASC) AS rank
  FROM dots JOIN norms nq ON nq.vec_id = qid JOIN norms nb ON nb.vec_id = bid
)
SELECT qid, bid, round(cos_sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM scored WHERE rank <= 5"""


def q_embedding_neardup(spark, sf_dir):
    _prep(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select(
        F.col("vec_id"),
        F.posexplode(F.col("embedding")).alias("idx", "v"),
    ).withColumn("v", F.col("v").cast("double"))
    norms = e.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm"))
    a = e.select(F.col("vec_id").alias("a_id"), "idx", F.col("v").alias("av"))
    b = e.select(F.col("vec_id").alias("b_id"), "idx", F.col("v").alias("bv"))
    dots = (
        a.join(b, "idx")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("av") * F.col("bv")).alias("dot"))
    )
    na = norms.select(F.col("vec_id").alias("a_id"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("vec_id").alias("b_id"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "a_id")
        .join(nb, "b_id")
        .withColumn("cos_sim", F.col("dot") / (F.col("na") * F.col("nb")))
        .where(F.col("cos_sim") >= NEARDUP_TAU)
        .select("a_id", "b_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


SQL_EMBEDDING_NEARDUP = f"""WITH e AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
  FROM e a JOIN e b ON a.idx = b.idx AND a.vec_id < b.vec_id
  GROUP BY 1, 2
)
SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id
WHERE dot / (na.nrm * nb.nrm) >= {NEARDUP_TAU!r}"""


IVF_CLUSTERS, IVF_PROBE, IVF_K = 16, 4, 3
LSH_BITS, LSH_TABLES, LSH_K, LSH_SEED, EMB_DIM = 12, 4, 3, 19031977, 64

# sequential-fold helpers: every dot/norm on BOTH engines is a left-to-right
# fold (Spark F.aggregate ≡ DuckDB list_reduce), so the doubles — and hence
# window ranks and >= threshold cuts — are bitwise identical
_SQL_FOLD = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), (acc, x) -> acc + x)"


def _sql_dot(a: str, b: str, dim: int) -> str:
    return _SQL_FOLD.format(terms=f"list_transform(range(1, {dim + 1}), i -> {a}[i] * {b}[i])")


def _sql_norm(v: str) -> str:
    return "sqrt(" + _SQL_FOLD.format(terms=f"list_transform({v}, x -> x * x)") + ")"


def q_ivf_ann(spark, sf_dir):
    """Gate config: iters=0 (quantizer = init vectors — fully relational,
    so DuckDB can replay it); Lloyd-trained quality is pinned by pytest
    recall tests instead (tests/test_similarity.py)."""
    _prep(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = SIM.ivf_ann(
        q, emb, k=IVF_K, query_id="vec_id", base_id="vec_id",
        n_clusters=IVF_CLUSTERS, n_probe=IVF_PROBE, iters=0, assign="expr",
    )
    return out.select(
        "qid", "bid", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_ivf_ann() -> str:
    sim = f"{_sql_dot('v', 'c', EMB_DIM)} / (vnorm * cnorm)"
    return f"""WITH base AS (
  SELECT vec_id AS bid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
cents AS (
  SELECT row_number() OVER (ORDER BY bid) - 1 AS cluster, v AS c
  FROM (SELECT bid, v FROM base ORDER BY bid LIMIT {IVF_CLUSTERS})
),
cn AS (SELECT cluster, c, {_sql_norm('c')} AS cnorm FROM cents),
vn AS (SELECT bid, v, {_sql_norm('v')} AS vnorm FROM base),
asgn AS (
  SELECT bid, cluster FROM (
    SELECT bid, cluster,
           row_number() OVER (PARTITION BY bid ORDER BY {sim} DESC, cluster ASC) AS pr
    FROM vn CROSS JOIN cn
  ) WHERE pr = 1
),
probes AS (
  SELECT bid AS qid, cluster FROM (
    SELECT bid, cluster,
           row_number() OVER (PARTITION BY bid ORDER BY {sim} DESC, cluster ASC) AS pr
    FROM vn CROSS JOIN cn WHERE bid % 50 = 0
  ) WHERE pr <= {IVF_PROBE}
),
scored AS (
  SELECT DISTINCT p.qid, a.bid,
         {_sql_dot('q.v', 't.v', EMB_DIM)} / (q.vnorm * t.vnorm) AS cos_sim
  FROM probes p
  JOIN asgn a ON a.cluster = p.cluster
  JOIN vn q ON q.bid = p.qid
  JOIN vn t ON t.bid = a.bid
  WHERE p.qid != a.bid
)
SELECT qid, bid, round(cos_sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT qid, bid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, bid ASC) AS rank
      FROM scored)
WHERE rank <= {IVF_K}"""


def q_lsh_ann(spark, sf_dir):
    _prep(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where(F.col("vec_id") % 50 == 0)
    out = SIM.lsh_ann(
        q, emb, k=LSH_K, dim=EMB_DIM, query_id="vec_id", base_id="vec_id",
        n_bits=LSH_BITS, n_tables=LSH_TABLES, seed=LSH_SEED,
    )
    return out.select(
        "qid", "bid", F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_lsh_ann() -> str:
    """Hyperplanes are deterministic (seeded) — embed them as string-parsed
    double lists (CAST from VARCHAR ⇒ exact nearest-double, no DECIMAL
    intermediate) so DuckDB sketches every vector with the same planes."""
    rows = []
    for t in range(LSH_TABLES):
        planes = SIM.hyperplanes(EMB_DIM, LSH_BITS, seed=LSH_SEED + t)
        for b in range(LSH_BITS):
            coefs = ",".join(repr(float(x)) for x in planes[b])
            rows.append(f"({t}, {b}, '{coefs}')")
    plane_values = ", ".join(rows)
    dot_vp = _SQL_FOLD.format(terms="list_transform(range(1, 65), i -> v[i] * coef[i])")
    return f"""WITH planes_raw(table_id, bit, coefs) AS (VALUES {plane_values}),
planes AS (
  SELECT table_id, bit,
         list_transform(string_split(coefs, ','), s -> CAST(s AS DOUBLE)) AS coef
  FROM planes_raw
),
e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
sk AS (
  SELECT e.vec_id, p.table_id,
         sum(CASE WHEN {dot_vp} >= 0
                  THEN (CAST(1 AS BIGINT) << p.bit) ELSE CAST(0 AS BIGINT) END) AS sketch
  FROM e CROSS JOIN planes p
  GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT q.vec_id AS qid, b.vec_id AS bid
  FROM sk q JOIN sk b ON q.table_id = b.table_id AND q.sketch = b.sketch
  WHERE q.vec_id % 50 = 0 AND q.vec_id != b.vec_id
),
norms AS (SELECT vec_id, v, {_sql_norm('v')} AS nrm FROM e),
scored AS (
  SELECT c.qid, c.bid,
         {_sql_dot('nq.v', 'nb.v', EMB_DIM)} / (nq.nrm * nb.nrm) AS cos_sim
  FROM cands c
  JOIN norms nq ON nq.vec_id = c.qid
  JOIN norms nb ON nb.vec_id = c.bid
)
SELECT qid, bid, round(cos_sim, 6) AS cos_sim, CAST(rank AS BIGINT) AS rank
FROM (SELECT qid, bid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, bid ASC) AS rank
      FROM scored)
WHERE rank <= {LSH_K}"""


# --- 26-28: relational / temporal ---------------------------------------------

def q_events_stats(spark, sf_dir):
    _prep(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents).cast("double") / 100.0).alias("value_sum"),
        F.round(
            F.sum(cents).cast("double") / F.count(F.lit(1)) / 100.0, 9
        ).alias("value_avg"),
    )


# cent-exact sums: integer aggregation is order-independent in both engines
SQL_EVENTS_STATS = """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(*) / 100.0, 9) AS value_avg
FROM events GROUP BY event_type"""


def q_events_windowed(spark, sf_dir):
    _prep(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents).cast("double") / 100.0).alias("value_sum"),
    )


SQL_EVENTS_WINDOWED = """SELECT date_trunc('hour', ts) AS window_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
FROM events GROUP BY 1, 2"""


def q_seg_order_stats(spark, sf_dir):
    _prep(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        )
    )


SQL_SEG_ORDER_STATS = """SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment"""


# --- 29-33: temporal/relational coverage --------------------------------------

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def q_sessionization(spark, sf_dir):
    """Gap-based sessionization: new session when the per-user inter-event
    gap exceeds 30 min; session stats per (user, session)."""
    _prep(spark)
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    new_s = F.when(prev.isNull() | ((us - prev) > SESSION_GAP_US), 1).otherwise(0)
    sess = (
        ev.withColumn("_new", new_s)
        .withColumn("session_id", F.sum("_new").over(w).cast("long"))
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents).cast("double") / 100.0).alias("value_sum"),
    )


SQL_SESSIONIZATION = f"""WITH marked AS (
  SELECT user_id, value, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM marked
)
SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
FROM sess GROUP BY user_id, session_id"""


def q_events_rollup(spark, sf_dir):
    """ROLLUP(event_type) with grand total — multi-level aggregation."""
    _prep(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.rollup("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(cents).cast("double") / 100.0).alias("value_sum"),
    )


SQL_EVENTS_ROLLUP = """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS value_sum
FROM events GROUP BY ROLLUP(event_type)"""


def q_customers_without_orders(spark, sf_dir):
    """Anti join: customers that never placed an URGENT-priority order."""
    _prep(spark)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    urgent = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """SELECT c_custkey, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"""


def q_top_orders_per_segment(spark, sf_dir):
    """Top-3 orders by price per market segment (broadcast dim + window)."""
    _prep(spark)
    from pyspark.sql.window import Window

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rnk")
    )


SQL_TOP_ORDERS_PER_SEGMENT = """SELECT c_mktsegment, o_orderkey, o_totalprice,
       CAST(row_number() OVER (PARTITION BY c_mktsegment
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rnk
FROM orders JOIN customer ON o_custkey = c_custkey
QUALIFY rnk <= 3"""


def q_source_stats(spark, sf_dir):
    """String functions: numeric id out of the source tag, bucketed stats."""
    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src_num = F.regexp_extract("source", "([0-9]+)", 1).cast("long")
    return (
        docs.withColumn("src_bucket", F.pmod(src_num, F.lit(10)))
        .groupBy("src_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max(F.upper(F.col("lang"))).alias("max_lang"),
        )
    )


SQL_SOURCE_STATS = """SELECT CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 10 AS src_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       max(upper(lang)) AS max_lang
FROM documents GROUP BY 1"""


# --- 34: multimodal (decode stubbed, plumbing real) ------------------------------

def q_multimodal_features(spark, sf_dir):
    _prep(spark)
    media = synthesize_media(spark, 200)
    out = extract_features(media, feature_dim=8, mode="fake")
    return out.select(
        "media_id",
        "kind",
        F.round(F.element_at("features", 1), 9).alias("f0"),
        F.round(F.element_at("features", 8), 9).alias("f7"),
    )


# Full DuckDB replay of the fake decode: payload = 'MEDIA' || sha256hex(id)
# (69 ASCII bytes), dim=8 chunking pads to 72 bytes → row 0 = bytes 1..9,
# row 7 = bytes 64..69 + three zero pads; feature = (Σbytes / 9) / 255 in
# the same IEEE division order as numpy's chunks.mean(axis=1)/255.0 (chunk
# sums are exact integers, so accumulation order is irrelevant).
SQL_MULTIMODAL_FEATURES = """
WITH media AS (
  SELECT CAST(i AS BIGINT) AS media_id,
         CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         'MEDIA' || sha256(CAST(i AS VARCHAR)) AS s
  FROM range(0, 200) t(i)
)
SELECT media_id, kind,
  round(CAST(list_sum(list_transform(range(1,10), p -> ascii(substring(s, CAST(p AS INT), 1)))) AS DOUBLE) / 9.0 / 255.0, 9) AS f0,
  round(CAST(list_sum(list_transform(range(64,70), p -> ascii(substring(s, CAST(p AS INT), 1)))) AS DOUBLE) / 9.0 / 255.0, 9) AS f7
FROM media
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def registry() -> dict[str, tuple]:
    """name → (spark_fn, oracle_sql | None).

    EXACTLY 50 entries, every one load-bearing: the correctness driver
    checks at most 50 queries, so the registry is pinned at that size
    (tests/test_registry.py) — growing it past 50 silently drops the tail
    from the gate (round-2 lesson: source_stats/multimodal_features fell
    out).  Full-size krige_universal / krige_geo and the uncapped
    ngram_jaccard remain available as functions (bench/API paths); their
    gate coverage moved to hash-checked small twins / the capped spec.
    """
    return {
        "variogram_unstructured": (q_variogram_unstructured, _sql_variogram(BIN_EDGES, "m")),
        "variogram_cressie": (q_variogram_cressie, _sql_variogram(BIN_EDGES, "c")),
        "variogram_haversine": (q_variogram_haversine, _sql_variogram_haversine()),
        "variogram_3d": (q_variogram_3d, _sql_variogram_3d()),
        "variogram_directional_3d": (
            q_variogram_directional_3d,
            _sql_variogram_directional_3d(),
        ),
        "variogram_directional": (
            q_variogram_directional,
            _sql_variogram_directional(DIRECTIONS, ANGLES_TOL, -1.0, False),
        ),
        "variogram_directional_sep": (
            q_variogram_directional_sep,
            _sql_variogram_directional(DIRECTIONS_SEP, ANGLES_TOL, BANDWIDTH_SEP, True),
        ),
        "variogram_structured": (q_variogram_structured, _sql_variogram_structured(False)),
        "variogram_ma_structured": (q_variogram_ma_structured, _sql_variogram_structured(True)),
        "variogram_multifield": (q_variogram_multifield, _sql_variogram_multifield()),
        "tile_assignment": (q_tile_assignment, _sql_tile_assignment()),
        "knn_join": (q_knn_join, _sql_knn_join()),
        "geo_knn": (q_geo_knn, _sql_geo_knn()),
        "point_in_polygon": (q_point_in_polygon, _sql_point_in_polygon()),
        "rasterize": (q_rasterize, _sql_rasterize()),
        "rasterize_median": (q_rasterize_median, _sql_rasterize_median()),
        "variogram_cloud": (q_variogram_cloud, _sql_variogram_cloud()),
        "krige_ordinary": (q_krige_ordinary, None),
        "krige_small": (q_krige_small, _sql_krige_small()),
        "krige_knn_small": (q_krige_knn_small, _sql_krige_knn_small()),
        "cond_field_small": (q_cond_field_small, _sql_cond_field_small()),
        "krige_universal_small": (
            q_krige_universal_small,
            _sql_krige_universal_small(),
        ),
        "krige_geo_small": (q_krige_geo_small, _sql_krige_geo_small()),
        "krige_raster": (q_krige_raster, None),
        "krige_raster_small": (q_krige_raster_small, _sql_krige_raster_small()),
        "summate": (q_summate, _sql_summate("scalar")),
        "summate_fourier": (q_summate_fourier, _sql_summate("fourier")),
        "summate_incompr": (q_summate_incompr, _sql_summate("incompr")),
        "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
        "ngram_jaccard_capped": (q_ngram_jaccard_capped, _sql_ngram_jaccard_capped()),
        "dedup_components": (q_dedup_components, _sql_dedup_components()),
        "minhash_dedup": (q_minhash_dedup, _sql_minhash_dedup()),
        "simhash_neardup": (q_simhash_neardup, _sql_simhash_neardup()),
        "token_count": (q_token_count, SQL_TOKEN_COUNT),
        "lang_id": (q_lang_id, _sql_lang_id()),
        "quality_score": (q_quality_score, _sql_quality_score()),
        "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
        "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_TOPK),
        "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
        "lsh_ann": (q_lsh_ann, _sql_lsh_ann()),
        "ivf_ann": (q_ivf_ann, _sql_ivf_ann()),
        "events_stats": (q_events_stats, SQL_EVENTS_STATS),
        "events_windowed": (q_events_windowed, SQL_EVENTS_WINDOWED),
        "seg_order_stats": (q_seg_order_stats, SQL_SEG_ORDER_STATS),
        "sessionization": (q_sessionization, SQL_SESSIONIZATION),
        "events_rollup": (q_events_rollup, SQL_EVENTS_ROLLUP),
        "customers_without_orders": (
            q_customers_without_orders,
            SQL_CUSTOMERS_WITHOUT_ORDERS,
        ),
        "top_orders_per_segment": (
            q_top_orders_per_segment,
            SQL_TOP_ORDERS_PER_SEGMENT,
        ),
        "source_stats": (q_source_stats, SQL_SOURCE_STATS),
        "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    }

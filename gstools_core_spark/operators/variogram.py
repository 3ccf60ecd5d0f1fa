"""Empirical variogram operators, Spark-first.

Semantics match the reference kernels exactly (see kernels.py and
/root/reference/src/variogram.rs); the physical strategy is Spark's:

* unstructured/directional — cell-blocked pair self-join (pair_join.py)
  → broadcast range-join against the tiny bins table → partial+final
  hash aggregation per bin → single final normalize select.
* structured — equi-join on the pooled axis (SQL-parity path) or a
  per-column ``applyInPandas`` numpy kernel (scale path); identical results.

Empty bins are preserved (reference output is dense over bins): the final
frame starts from the bins table and LEFT-joins the aggregates, with
normalize(0, 0) = 0 matching the reference's count==0 guard.
"""

from __future__ import annotations

import math
import numbers
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gstools_core_spark.functions import estimators as E
from gstools_core_spark.functions.sqltext import lit, q
from gstools_core_spark.operators.pair_join import pair_join


def check_bin_edges(bin_edges: Sequence[float]) -> None:
    """Reject bad ``bin_edges`` at the API boundary, before any job: they
    must be finite and strictly increasing, with a last edge > 0 (the last
    edge is the pair join's ``max_dist``).  Unordered edges would build
    inverted bins next to overlapping ones; a repeated edge an empty bin."""
    edges = list(bin_edges)
    if (
        edges
        and all(
            isinstance(e, numbers.Real) and not isinstance(e, bool) and math.isfinite(e)
            for e in edges
        )
        and all(lo < hi for lo, hi in zip(edges, edges[1:]))
        and edges[-1] > 0
    ):
        return
    raise ValueError(
        "bin_edges must be finite and strictly increasing, with a last edge"
        f" > 0, got {bin_edges!r}"
    )


def bins_df(spark: SparkSession, bin_edges: Sequence[float]) -> DataFrame:
    """(bin_id long, lo double, hi double) built JVM-side from literals:
    ``createDataFrame(list)`` is a Python RDD that Python workers serve on
    every execution of the otherwise pure-JVM variogram plan."""
    rows = ", ".join(
        f"struct({i}, {lit(float(lo))}, {lit(float(hi))})"
        for i, (lo, hi) in enumerate(zip(bin_edges[:-1], bin_edges[1:]))
    )
    # the cast names the fields and types an empty array (one edge, no bins)
    bins = f"CAST(array({rows}) AS array<struct<bin_id:bigint,lo:double,hi:double>>)"
    return spark.range(1).selectExpr(f"inline({bins})")


def bin_id_col(dist: str, bin_edges: Sequence[float]) -> str:
    """Half-open [lo, hi) bin assignment as a codegen'd CASE chain — the
    exact comparison semantics of the reference's bin predicate
    (variogram.rs:517-519) without a nested-loop join against the bins
    table on the (huge) pair stream.  Assumes dist already filtered to
    [edges[0], edges[-1]).  Nested CASEs, one per edge, as F.when chains
    built them."""
    expr = f"CAST({len(bin_edges) - 2} AS BIGINT)"
    for i in range(len(bin_edges) - 2, 0, -1):
        expr = (
            f"CASE WHEN {dist} < {lit(float(bin_edges[i]))}"
            f" THEN CAST({i - 1} AS BIGINT) ELSE {expr} END"
        )
    return expr


def _from_first_edge(pairs: DataFrame, bin_edges: Sequence[float]) -> DataFrame:
    """Drop pairs closer than the first bin edge.  No filter at all when
    that edge is ≤ 0: ``dist`` is never negative, and a NaN distance has
    already failed pair_join's ``dist < max_dist``."""
    if bin_edges[0] <= 0:
        return pairs
    return pairs.where(f"dist >= {lit(float(bin_edges[0]))}")


def _diffs_exploded(
    pairs: DataFrame, val_cols: Sequence[str], vals_array: bool = False
) -> DataFrame:
    """One row per (pair, field) with the field difference; NaN/null diffs
    dropped (reference NaN skip, variogram.rs:521-525).  Multi-field rows
    share bin cells and counts (variogram.rs:399-407).

    ``vals_array=True``: val_cols[0] is an ArrayType(Double) column (the
    SURVEY §1.4 multi-realization layout) — element-wise differences via
    arrays_zip + struct-field subtraction, NOT zip_with(lambda): a
    higher-order lambda on the hot pair stream is interpreted and breaks
    whole-stage codegen (the 8× directional-variogram lesson; unequal
    lengths pad with null on both forms and are dropped by the filter)."""
    if vals_array:
        a, b = q(f"a_{val_cols[0]}"), q(f"b_{val_cols[0]}")
        out = (
            pairs.selectExpr("*", f"explode(arrays_zip({a}, {b})) AS _z")
            .selectExpr("*", f"_z.{a} - _z.{b} AS f_diff")
            .drop("_z")
        )
    else:
        diffs = ", ".join(f"{q(f'a_{v}')} - {q(f'b_{v}')}" for v in val_cols)
        out = pairs.selectExpr("*", f"explode(array({diffs})) AS f_diff")
    return out.where("f_diff IS NOT NULL AND NOT isnan(f_diff)")


def _binned_gamma(
    per_field: DataFrame, frame: DataFrame, keys: list[str], estimator: str
) -> DataFrame:
    """Per-``keys`` sums and counts of ``per_field``, LEFT-joined onto the
    dense ``frame`` of bins and normalized in one final select."""
    agg = per_field.groupBy(*keys).agg(
        F.expr(f"sum({E.estimate('f_diff', estimator)}) AS vsum"),
        F.expr("count(1) AS counts"),
    )
    gamma = E.normalize("coalesce(vsum, 0.0D)", "coalesce(counts, 0)", estimator)
    return frame.join(agg, keys, "left").selectExpr(
        *keys,
        "lo",
        "hi",
        f"{gamma} AS gamma",
        "CAST(coalesce(counts, 0) AS BIGINT) AS counts",
    )


def variogram_unstructured(
    points: DataFrame,
    bin_edges: Sequence[float],
    val_cols: Sequence[str] = ("val",),
    id_col: str = "id",
    coords: Sequence[str] = ("x", "y"),
    estimator: str = "m",
    distance: str = "e",
    salt_partitions: int | None = None,
    vals_array: bool = False,
    max_abs_lat: float | None = None,
) -> DataFrame:
    """All-pairs binned variogram → (bin_id, lo, hi, gamma, counts).

    Distance 'e' = Euclid (any dim, blocked on every coordinate), anything
    else = Haversine on (lat, lon) degree coords with bin edges in radians
    (variogram.rs:75-123); ``max_abs_lat`` optionally pins the data's
    latitude bound for the longitude blocking grid (derived from the data
    otherwise — see pair_join).  ``vals_array=True`` treats val_cols[0] as
    an array<double> of stacked field realizations (counts include field
    multiplicity, matching the reference).
    """
    check_bin_edges(bin_edges)
    spark = points.sparkSession
    haversine = distance != "e"
    pairs = pair_join(
        points,
        max_dist=float(bin_edges[-1]),
        id_col=id_col,
        coords=coords,
        payload_cols=val_cols,
        haversine=haversine,
        max_abs_lat=max_abs_lat,
        salt_partitions=salt_partitions,
    )
    pairs = _from_first_edge(pairs, bin_edges)

    binned = pairs.selectExpr("*", f"{bin_id_col('dist', bin_edges)} AS bin_id")
    per_field = _diffs_exploded(binned, val_cols, vals_array)
    return _binned_gamma(per_field, bins_df(spark, bin_edges), ["bin_id"], estimator)


def dir_test_col(
    coords: Sequence[str],
    direction: Sequence[float],
    angles_tol: float,
    bandwidth: float,
) -> str:
    """Direction-cone pass predicate as SQL (variogram.rs:243-291).

    ``coords`` are point coord names (a_/b_ prefixed pair columns assumed);
    ``direction`` is one LITERAL unit vector — directions are known at plan
    time, so they compile into the pair stream's codegen instead of
    arriving via a broadcast nested-loop join (which breaks whole-stage
    codegen and measured 8× slower at sf0.1).
    """
    delta = [f"({q(f'a_{c}')} - {q(f'b_{c}')})" for c in coords]
    s_prod = " + ".join(f"{dc} * {lit(float(dv))}" for dc, dv in zip(delta, direction))

    passed = "true"
    if bandwidth > 0.0:
        r = [f"({dc} - ({s_prod}) * {lit(float(dv))})" for dc, dv in zip(delta, direction)]
        b_acc = " + ".join(f"{rk} * {rk}" for rk in r)
        passed = f"{passed} AND sqrt({b_acc}) < {lit(bandwidth)}"

    # ANSI-safe denominator: dist == 0 rows are excluded by the reject
    # predicate below, but common-subexpression elimination may hoist the
    # division out of the short-circuit guard — never divide by 0
    angle = f"abs({s_prod}) / (CASE WHEN dist > 0.0D THEN dist ELSE 1.0D END)"
    # dist == 0 always passes; angle >= 1 passes (numerical guard)
    reject = f"dist > 0.0D AND {angle} < 1.0D AND acos({angle}) >= {lit(angles_tol)}"
    return f"{passed} AND NOT ({reject})"


def variogram_directional(
    points: DataFrame,
    bin_edges: Sequence[float],
    directions: Sequence[Sequence[float]],
    angles_tol: float = math.pi / 8.0,
    bandwidth: float = -1.0,
    separate_dirs: bool = False,
    val_cols: Sequence[str] = ("val",),
    id_col: str = "id",
    coords: Sequence[str] = ("x", "y"),
    estimator: str = "m",
) -> DataFrame:
    """Directional variogram → (dir_id, bin_id, lo, hi, gamma, counts).

    Euclid only (the reference kernel hard-codes Euclid,
    variogram.rs:383).  ``separate_dirs=True`` credits each pair to the
    lowest-index passing direction only (variogram.rs:409-415).

    Physical plan: the direction set is a PLAN-TIME constant, so each
    cone test is a literal expression on the pair stream; a pair's passing
    directions form a small array that is exploded (or array_min'd for
    separate_dirs).  Everything from the cell join to the partial
    aggregation stays inside one whole-stage-codegen span — no broadcast
    nested-loop join, no row_number shuffle.  (The former join-based plan
    measured 29s vs plain variogram 3.5s at sf0.1; this one ~2×.)
    """
    check_bin_edges(bin_edges)
    if angles_tol <= 0:
        raise ValueError("tolerance for angle search masks must be > 0")
    spark = points.sparkSession

    pairs = pair_join(
        points,
        max_dist=float(bin_edges[-1]),
        id_col=id_col,
        coords=coords,
        payload_cols=val_cols,
    )
    pairs = _from_first_edge(pairs, bin_edges)

    passing = "array(" + ", ".join(
        f"CASE WHEN {dir_test_col(coords, dv, angles_tol, bandwidth)}"
        f" THEN CAST({i} AS BIGINT) END"
        for i, dv in enumerate(directions)
    ) + ")"
    if separate_dirs:
        # lowest-index passing direction; array_min skips the null (failed)
        # slots — replaces a full row_number window shuffle
        with_dirs = pairs.selectExpr("*", f"array_min({passing}) AS dir_id")
    else:
        # explode unconditionally, drop nulls after: filter() is a
        # higher-order function (interpreted, breaks whole-stage codegen);
        # a plain explode + IsNotNull filter stays fully codegen'd
        with_dirs = pairs.selectExpr("*", f"explode({passing}) AS dir_id")
    with_dirs = with_dirs.where("dir_id IS NOT NULL")

    binned = with_dirs.selectExpr("*", f"{bin_id_col('dist', bin_edges)} AS bin_id")
    per_field = _diffs_exploded(binned, val_cols)
    frame = (
        spark.range(len(directions))
        .selectExpr("id AS dir_id")
        .crossJoin(bins_df(spark, bin_edges))
    )
    return _binned_gamma(per_field, frame, ["dir_id", "bin_id"], estimator)


def _lag_gamma(spark: SparkSession, nx: int, agg: DataFrame, estimator: str) -> DataFrame:
    """(lag, gamma) dense over lags 0..nx-1 from per-lag (vsum, counts);
    γ(0) = 0."""
    gamma = E.normalize("coalesce(vsum, 0.0D)", "coalesce(counts, 0)", estimator)
    lags = spark.range(int(nx)).selectExpr("id AS lag")
    return lags.join(agg, "lag", "left").selectExpr(
        "lag", f"CASE WHEN lag = 0 THEN 0.0D ELSE {gamma} END AS gamma"
    )


def variogram_structured(
    grid: DataFrame,
    i_col: str = "i",
    j_col: str = "j",
    val_col: str = "val",
    mask_col: str | None = None,
    estimator: str = "m",
) -> DataFrame:
    """Structured-grid variogram by axis-0 lag → (lag, gamma).

    SQL-parity path: self equi-join on the pooled axis ``j`` with
    ``b.i > a.i`` (lag = difference), masked pairs dropped when EITHER
    endpoint is masked (variogram.rs:220-223).  γ(0) = 0 and the output is
    dense over lags 0..nx-1 (variogram.rs:144-146).
    """
    spark = grid.sparkSession
    nx_max = grid.agg(F.max(i_col)).collect()[0][0]
    if nx_max is None:
        raise ValueError("variogram_structured: empty grid (no rows)")
    nx = nx_max + 1

    cols = [i_col, j_col, val_col] + ([mask_col] if mask_col else [])
    a = grid.select(*[F.col(c).alias(f"a_{c}") for c in cols])
    b = grid.select(*[F.col(c).alias(f"b_{c}") for c in cols])
    pairs = a.join(
        b,
        (F.col(f"a_{j_col}") == F.col(f"b_{j_col}"))
        & (F.col(f"b_{i_col}") > F.col(f"a_{i_col}")),
    )
    if mask_col:
        pairs = pairs.where(~F.col(f"a_{mask_col}") & ~F.col(f"b_{mask_col}"))

    diff = f"{q(f'a_{val_col}')} - {q(f'b_{val_col}')}"
    agg = (
        pairs.selectExpr(
            f"CAST({q(f'b_{i_col}')} - {q(f'a_{i_col}')} AS BIGINT) AS lag",
            f"{E.estimate(diff, estimator)} AS est",
        )
        .groupBy("lag")
        .agg(F.sum("est").alias("vsum"), F.count(F.lit(1)).alias("counts"))
    )
    return _lag_gamma(spark, nx, agg, estimator)


def variogram_structured_fast(
    grid: DataFrame,
    i_col: str = "i",
    j_col: str = "j",
    val_col: str = "val",
    mask_col: str | None = None,
    estimator: str = "m",
) -> DataFrame:
    """Scale path for the structured variogram: one ``applyInPandas`` per
    pooled-axis column computes all lags with numpy (O(nx²) per column, no
    pair shuffle), then a tiny groupBy(lag) merges partials.

    Equivalent to :func:`variogram_structured`; the reference parallelizes
    over lags (variogram.rs:153), we parallelize over the pooled axis —
    the distributed axis is the big one (SURVEY.md §4.2).
    """
    spark = grid.sparkSession
    nx_max = grid.agg(F.max(i_col)).collect()[0][0]
    if nx_max is None:
        raise ValueError("variogram_structured_fast: empty grid (no rows)")
    nx = nx_max + 1
    est = estimator

    def per_column(pdf: pd.DataFrame) -> pd.DataFrame:
        # (i, j) is unique on a grid, so the scatter below is
        # order-independent — no sort needed
        f = pdf["val"].to_numpy(dtype=np.float64)
        ii = pdf["i"].to_numpy(dtype=np.int64)
        dense = np.full(nx, np.nan)
        dense[ii] = f
        # pair selection keys on PRESENCE (and mask), not isnan(val): a row
        # present with val=NaN must still be counted and poison its lags'
        # vsum with NaN — exactly what the join path's F.sum does and what
        # kernels.variogram_structured (no NaN skip) computes; missing
        # grid rows drop out of both paths identically
        present = np.zeros(nx, dtype=bool)
        present[ii] = True
        if "masked" in pdf.columns:
            dm = np.zeros(nx, dtype=bool)
            dm[ii] = pdf["masked"].to_numpy(dtype=bool)
            present &= ~dm
            dense = np.where(dm, np.nan, dense)
        lags, vsums, cnts = [], [], []
        for k in range(1, nx):
            diff = dense[: nx - k] - dense[k:]
            ok = present[: nx - k] & present[k:]
            lags.append(k)
            if est == "c":
                vsums.append(float(np.sum(np.sqrt(np.abs(diff[ok])))))
            else:
                vsums.append(float(np.sum(diff[ok] * diff[ok])))
            cnts.append(int(np.count_nonzero(ok)))
        return pd.DataFrame({"lag": lags, "vsum": vsums, "counts": cnts})

    sel = [F.col(i_col).alias("i"), F.col(j_col).alias("j"), F.col(val_col).alias("val")]
    if mask_col:
        sel.append(F.col(mask_col).alias("masked"))
    partials = (
        grid.select(*sel)
        .groupBy("j")
        .applyInPandas(per_column, "lag long, vsum double, counts long")
    )
    agg = partials.groupBy("lag").agg(
        F.sum("vsum").alias("vsum"), F.sum("counts").alias("counts")
    )
    return _lag_gamma(spark, nx, agg, estimator)

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
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gstools_core_spark.functions import estimators as E
from gstools_core_spark.operators.pair_join import pair_join


def bins_df(spark: SparkSession, bin_edges: Sequence[float]) -> DataFrame:
    """(bin_id long, lo double, hi double) built JVM-side from literals:
    ``createDataFrame(list)`` is a Python RDD that Python workers serve on
    every execution of the otherwise pure-JVM variogram plan."""
    rows = [
        F.struct(F.lit(i), F.lit(float(lo)), F.lit(float(hi)))
        for i, (lo, hi) in enumerate(zip(bin_edges[:-1], bin_edges[1:]))
    ]
    # the cast names the fields and types an empty array (one edge, no bins)
    bins = F.array(*rows).cast("array<struct<bin_id:bigint,lo:double,hi:double>>")
    return spark.range(1).select(F.inline(bins))


def bin_id_col(dist, bin_edges: Sequence[float]):
    """Half-open [lo, hi) bin assignment as a codegen'd CASE chain — the
    exact comparison semantics of the reference's bin predicate
    (variogram.rs:517-519) without a nested-loop join against the bins
    table on the (huge) pair stream.  Assumes dist already filtered to
    [edges[0], edges[-1])."""
    expr = F.lit(len(bin_edges) - 2).cast("long")
    for i in range(len(bin_edges) - 2, 0, -1):
        expr = F.when(dist < F.lit(float(bin_edges[i])), F.lit(i - 1).cast("long")).otherwise(expr)
    return expr


def _from_first_edge(pairs: DataFrame, bin_edges: Sequence[float]) -> DataFrame:
    """Drop pairs closer than the first bin edge.  No filter at all when
    that edge is ≤ 0: ``dist`` is never negative, and a NaN distance has
    already failed pair_join's ``dist < max_dist``."""
    if bin_edges[0] <= 0:
        return pairs
    return pairs.where(F.col("dist") >= F.lit(float(bin_edges[0])))


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
        v = val_cols[0]
        out = pairs.withColumn(
            "_z", F.explode(F.arrays_zip(F.col(f"a_{v}"), F.col(f"b_{v}")))
        ).withColumn(
            "f_diff", F.col(f"_z.a_{v}") - F.col(f"_z.b_{v}")
        ).drop("_z")
    else:
        diffs = F.array(*[F.col(f"a_{v}") - F.col(f"b_{v}") for v in val_cols])
        out = pairs.withColumn("f_diff", F.explode(diffs))
    return out.where(F.col("f_diff").isNotNull() & ~F.isnan(F.col("f_diff")))


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

    binned = pairs.withColumn("bin_id", bin_id_col(F.col("dist"), bin_edges))
    per_field = _diffs_exploded(binned, val_cols, vals_array)
    agg = per_field.groupBy("bin_id").agg(
        F.sum(E.estimate(F.col("f_diff"), estimator)).alias("vsum"),
        F.count(F.lit(1)).alias("counts"),
    )
    bins = bins_df(spark, bin_edges)
    out = (
        bins.join(agg, "bin_id", "left")
        .select(
            "bin_id",
            "lo",
            "hi",
            E.normalize(
                F.coalesce(F.col("vsum"), F.lit(0.0)),
                F.coalesce(F.col("counts"), F.lit(0)),
                estimator,
            ).alias("gamma"),
            F.coalesce(F.col("counts"), F.lit(0)).cast("long").alias("counts"),
        )
    )
    return out


def dir_test_col(
    coords: Sequence[str],
    direction: Sequence[float],
    angles_tol: float,
    bandwidth: float,
):
    """Direction-cone pass predicate as a Column (variogram.rs:243-291).

    ``coords`` are point coord names (a_/b_ prefixed pair columns assumed);
    ``direction`` is one LITERAL unit vector — directions are known at plan
    time, so they compile into the pair stream's codegen instead of
    arriving via a broadcast nested-loop join (which breaks whole-stage
    codegen and measured 8× slower at sf0.1).
    """
    s_prod = None
    for c, dv in zip(coords, direction):
        term = (F.col(f"a_{c}") - F.col(f"b_{c}")) * F.lit(float(dv))
        s_prod = term if s_prod is None else s_prod + term

    passed = F.lit(True)
    if bandwidth > 0.0:
        b_acc = None
        for c, dv in zip(coords, direction):
            r = (F.col(f"a_{c}") - F.col(f"b_{c}")) - s_prod * F.lit(float(dv))
            term = r * r
            b_acc = term if b_acc is None else b_acc + term
        passed = passed & (F.sqrt(b_acc) < F.lit(bandwidth))

    # ANSI-safe denominator: dist == 0 rows are excluded by the reject
    # predicate below, but common-subexpression elimination may hoist the
    # division out of the short-circuit guard — never divide by 0
    denom = F.when(F.col("dist") > 0.0, F.col("dist")).otherwise(F.lit(1.0))
    angle = F.abs(s_prod) / denom
    # dist == 0 always passes; angle >= 1 passes (numerical guard)
    reject = (
        (F.col("dist") > 0.0)
        & (angle < 1.0)
        & (F.acos(angle) >= F.lit(angles_tol))
    )
    return passed & ~reject


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

    passing = F.array(
        *[
            F.when(
                dir_test_col(coords, directions[i], angles_tol, bandwidth),
                F.lit(i).cast("long"),
            )
            for i in range(len(directions))
        ]
    )
    if separate_dirs:
        # lowest-index passing direction; array_min skips the null (failed)
        # slots — replaces a full row_number window shuffle
        with_dirs = pairs.withColumn("dir_id", F.array_min(passing)).where(
            F.col("dir_id").isNotNull()
        )
    else:
        # explode unconditionally, drop nulls after: F.filter is a
        # higher-order function (interpreted, breaks whole-stage codegen);
        # a plain explode + IsNotNull filter stays fully codegen'd
        with_dirs = pairs.withColumn("dir_id", F.explode(passing)).where(
            F.col("dir_id").isNotNull()
        )

    binned = with_dirs.withColumn("bin_id", bin_id_col(F.col("dist"), bin_edges))
    per_field = _diffs_exploded(binned, val_cols)
    agg = per_field.groupBy("dir_id", "bin_id").agg(
        F.sum(E.estimate(F.col("f_diff"), estimator)).alias("vsum"),
        F.count(F.lit(1)).alias("counts"),
    )
    bins = bins_df(spark, bin_edges)
    frame = spark.range(len(directions)).select(F.col("id").alias("dir_id")).crossJoin(bins)
    return frame.join(agg, ["dir_id", "bin_id"], "left").select(
        "dir_id",
        "bin_id",
        "lo",
        "hi",
        E.normalize(
            F.coalesce(F.col("vsum"), F.lit(0.0)),
            F.coalesce(F.col("counts"), F.lit(0)),
            estimator,
        ).alias("gamma"),
        F.coalesce(F.col("counts"), F.lit(0)).cast("long").alias("counts"),
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

    diff = F.col(f"a_{val_col}") - F.col(f"b_{val_col}")
    agg = (
        pairs.select(
            (F.col(f"b_{i_col}") - F.col(f"a_{i_col}")).cast("long").alias("lag"),
            E.estimate(diff, estimator).alias("est"),
        )
        .groupBy("lag")
        .agg(F.sum("est").alias("vsum"), F.count(F.lit(1)).alias("counts"))
    )
    lags = spark.range(int(nx)).select(F.col("id").alias("lag"))
    return lags.join(agg, "lag", "left").select(
        "lag",
        F.when(F.col("lag") == 0, F.lit(0.0))
        .otherwise(
            E.normalize(
                F.coalesce(F.col("vsum"), F.lit(0.0)),
                F.coalesce(F.col("counts"), F.lit(0)),
                estimator,
            )
        )
        .alias("gamma"),
    )


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
    lags = spark.range(int(nx)).select(F.col("id").alias("lag"))
    return lags.join(agg, "lag", "left").select(
        "lag",
        F.when(F.col("lag") == 0, F.lit(0.0))
        .otherwise(
            E.normalize(
                F.coalesce(F.col("vsum"), F.lit(0.0)),
                F.coalesce(F.col("counts"), F.lit(0)),
                estimator,
            )
        )
        .alias("gamma"),
    )

"""Streaming empirical variogram: spatial pairs scoped to event-time windows.

The batch variogram enumerates pairs with a cell-blocked ring join
(operators/pair_join.py); the STREAMING form answers the continuous-
ingestion question — "what is the spatial structure of this hour's
arrivals?" — with the same blocking geometry:

    watermarked stream → half-stencil cell stamp → STREAM-STREAM self-join
    on (cell, window) → exact distance + codegen'd CASE binning → windowed
    partial+final aggregation

Two chained stateful operators (join + windowed agg) in append mode —
supported since Spark 3.4.  State stays bounded at scale: the join buffers
only rows whose window can still match under the watermark, and the agg
holds only open windows; pair blocking itself is the batch operator's
ring equi-join, so no cross join appears in the streaming plan either.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gstools_core_spark.functions import distance as D
from gstools_core_spark.functions import points as P
from gstools_core_spark.operators.pair_join import half_stencil
from gstools_core_spark.operators.variogram import bin_id_col
from gstools_core_spark.streaming.util import file_stream_source, run_to_memory_sink


def streaming_variogram(
    spark: SparkSession,
    events_path: str,
    bin_edges: Sequence[float],
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-(window, bin) Matheron variogram of the event stream's
    (x, y, value) points → (window_start, bin_id, gamma, n_pairs).

    Append mode emits a window once the watermark passes it; the open tail
    windows stay in state (they would close in continuous operation).
    """
    max_dist = float(max(bin_edges))
    # one file per micro-batch: append mode only emits a window once a LATER
    # batch's watermark passes it, so a single-batch source would emit
    # nothing — the continuous-operation shape is many files/epochs anyway
    from pathlib import Path

    if Path(events_path).resolve().is_file():
        import warnings

        warnings.warn(
            "streaming_variogram over a SINGLE file runs as one micro-batch: "
            "append mode emits a window only when a later batch's watermark "
            "passes it, so the result will be empty — split the input into "
            "multiple files (one per micro-batch)",
            UserWarning,
            stacklevel=2,
        )
    stream = file_stream_source(spark, events_path, max_files_per_trigger=1)
    pts = (
        stream.select(
            F.col("event_id").alias("id"),
            P.x_col("event_id").alias("x"),
            P.y_col("event_id").alias("y"),
            F.col("value").alias("val"),
            "ts",
        )
        .withWatermark("ts", watermark)
        .withColumn("w", F.window("ts", window))
        .withColumn("cx", F.floor(F.col("x") / F.lit(max_dist)).cast("long"))
        .withColumn("cy", F.floor(F.col("y") / F.lit(max_dist)).cast("long"))
    )
    offsets = F.array(
        *[
            F.struct(F.lit(o[0]).alias("d0"), F.lit(o[1]).alias("d1"))
            for o in half_stencil(2)
        ]
    )
    left = (
        pts.withColumn("_off", F.explode(offsets))
        .select(
            F.col("id").alias("a_id"),
            F.col("x").alias("a_x"),
            F.col("y").alias("a_y"),
            F.col("val").alias("a_val"),
            "w",
            (F.col("cx") + F.col("_off.d0")).alias("jcx"),
            (F.col("cy") + F.col("_off.d1")).alias("jcy"),
            ((F.col("_off.d0") == 0) & (F.col("_off.d1") == 0)).alias("_same_cell"),
        )
    )
    right = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("b_x"),
        F.col("y").alias("b_y"),
        F.col("val").alias("b_val"),
        "w",
        F.col("cx").alias("jcx"),
        F.col("cy").alias("jcy"),
    )
    dist = F.expr(D.euclid(["a_x", "a_y"], ["b_x", "b_y"]))
    pairs = (
        left.join(right, ["jcx", "jcy", "w"])
        .where(~F.col("_same_cell") | (F.col("a_id") < F.col("b_id")))
        .withColumn("dist", dist)
        # BOTH bin bounds, matching the batch operator and the kernel
        # (kernels.variogram_unstructured: in_range = dist >= edges[0] —
        # without the lower bound a sub-first-edge pair lands in bin 0)
        .where(
            (F.col("dist") >= F.lit(float(bin_edges[0])))
            & (F.col("dist") < F.lit(max_dist))
        )
        .withColumn("bin_id", F.expr(bin_id_col("dist", list(bin_edges))))
        .where(F.col("bin_id").isNotNull())
    )
    diff = F.col("a_val") - F.col("b_val")
    agg = (
        pairs.groupBy("w", "bin_id")
        .agg(
            F.sum(diff * diff).alias("_s"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "bin_id",
            (F.col("_s") / (2.0 * F.col("n_pairs"))).alias("gamma"),
            "n_pairs",
        )
    )
    return run_to_memory_sink(agg, "stream_vario", "append")

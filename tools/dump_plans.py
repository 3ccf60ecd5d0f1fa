"""Dump the physical plans of the headline operators to PLANS.md —
reviewable evidence that the plans are the intended ones (ring equi-join,
broadcast dims, partial aggregation, pushdown, no cartesian products).

Expression ids (``#80L``) and exchange plan ids are normalized to ``#`` and
``plan_id=``: any rebuild renumbers them, and a diff between two trees
should show plan changes only."""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from gstools_core_spark import plans as PL  # noqa: E402
from gstools_core_spark.functions import points as P  # noqa: E402
from gstools_core_spark.operators import spatial as S  # noqa: E402
from gstools_core_spark.operators import variogram as V  # noqa: E402
from gstools_core_spark.operators.kriging import GaussianModel, krige  # noqa: E402
from gstools_core_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main():
    spark = get_session("plan-dump", cores=4, shuffle_partitions=8)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pts = docs.select(
        F.col("doc_id").alias("id"),
        P.x_col("doc_id").alias("x"),
        P.y_col("doc_id").alias("y"),
        F.col("n_chars").cast("double").alias("val"),
    )

    sections = {
        "variogram_unstructured (cell-blocked pair join → CASE binning → partial+final agg)":
            V.variogram_unstructured(pts, [0.0, 1.0, 2.0, 3.0]),
        "variogram_unstructured haversine (wrapped lon cells, chord pre-filter ahead of the haversine tree)":
            V.variogram_unstructured(
                pts.select("id", (F.col("y") * 3.0).alias("lat"),
                           (F.col("x") * 9.0).alias("lon"), "val"),
                [0.0, 0.01, 0.02, 0.03], coords=("lat", "lon"), distance="h",
                max_abs_lat=60.0,
            ),
        "knn_join (ring candidates → per-query top-k window)":
            S.knn_join(pts.where(F.col("id") % 10 == 0), pts, k=5, radius=3.0,
                       query_id="id", base_id="id"),
        "variogram_directional (plan-time literal cone tests, explode of passing dirs — no BNLJ, no window)":
            V.variogram_directional(pts, [0.0, 1.0, 2.0, 3.0],
                                    [(1.0, 0.0), (0.0, 1.0)]),
        "krige ordinary (cogroup applyInArrow per cell)":
            krige(pts, pts.where(F.col("id") % 5 == 0),
                  GaussianModel(1.0, 2.0, 0.01), radius=3.0),
        "krige moving-window (knn=8, small cond: broadcast plan — cond in the UDF closure, one mapInArrow over round-robin targets, no cogroup)":
            krige(pts, pts.where(F.col("id") % 5 == 0),
                  GaussianModel(1.0, 2.0, 0.01), radius=3.0, knn=8),
        "filter pushdown + column pruning (lineitem scan)":
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .where(F.col("l_quantity") < 5.0)
            .select("l_orderkey", "l_quantity"),
    }

    # one star-contraction round of connected components (the iterative op:
    # window-min + projection per round, localCheckpoint truncates lineage)
    from gstools_core_spark.operators.graph import _large_star, _small_star

    edges = pts.where(F.col("id") % 7 == 0).select(
        F.col("id").alias("a"), (F.col("id") + 1).alias("b")
    )
    sections["connected components (ONE large-star+small-star round)"] = (
        _small_star(_large_star(edges))
    )

    # pipeline half: dedup candidate generation + ANN
    from gstools_core_spark.operators import dedup as DD
    from gstools_core_spark.operators import similarity as SIM

    sigs = DD.minhash_signature(docs.select("doc_id", "text"), "text", num_hashes=32)
    sections[
        "minhash LSH candidates (per-row JVM signature → band explode → equi-join on (band, bucket))"
    ] = DD.minhash_lsh_candidates(sigs, "doc_id", bands=4, rows_per_band=8)

    hashed = DD.simhash64(docs.select("doc_id", "text"), "text")
    sections[
        "simhash near-dups (combination banding explode → equi-join → popcount verify)"
    ] = DD.simhash_near_dups(hashed, "doc_id", max_hamming=4, n_bands=6, key_blocks=2)

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sections[
        "cosine top-k broadcast path (mapInArrow over query batches — single scan, no shuffle)"
    ] = SIM.cosine_topk(
        emb.where(F.col("vec_id") % 20 == 0), emb, k=5,
        query_id="vec_id", base_id="vec_id",
    )

    out = ["# PLANS — physical plans of the headline operators", ""]
    for title, df in sections.items():
        plan = re.sub(r"#\d+L?", "#", PL.plan_string(df).strip())
        plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
        out += [f"## {title}", "", "```", plan, "```", ""]
    Path("PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md", sum(len(s) for s in out))
    spark.stop()


if __name__ == "__main__":
    main()

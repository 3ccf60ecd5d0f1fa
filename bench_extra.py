"""Round-6 isolation benchmark (guide §1.4 noop-sink method).

NOT the driver bench — bench.py is frozen for measurement.  This file holds
the reproducible probe behind OPTIMIZATION_r06.md's IVF numbers:

* ``ivf``      — IVF exact-rerank A/B at 200k×64-d vectors: the oracle-parity
                 interpreted ``F.aggregate(F.zip_with(...))`` fold
                 (rerank='expr') vs the round-6 vectorized numpy row-dot
                 mapInArrow path (rerank='arrow').

The sphere-chain phases (krige plan construction and its jobs, cogroup
execution, the Arrow boundary) are measured by perfbench's traced mode:
``krige.build_s``, ``krige.build_jobs``, ``krige.exec_s``,
``arrow_boundary.s``.

Usage: ``python bench_extra.py [ivf ...]`` (default: all).
Fresh JVM per invocation; each probe prints label + seconds.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from gstools_core_spark.session import get_session  # noqa: E402

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark(name):
    spark = get_session(name, cores=CPUS, shuffle_partitions=64, memory_gb=48)
    # warm the Python-worker pool (same reason as bench.py)
    spark.range(0, CPUS * 4, 1, CPUS).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def _t(spark, label, fn, reps=3):
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
        spark.sparkContext._jvm.System.gc()
    print(f"{label:48s} best-of-{reps} {best:7.3f}s", flush=True)
    return best


def _synthetic_embeddings(spark, n: int, dim: int = 64):
    df = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    vec = F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda k: (
            F.pmod(F.xxhash64(F.col("id"), k), F.lit(100_000)) / 50_000.0 - 1.0
        ).cast("float"),
    )
    return df.select(F.col("id").alias("vec_id"), vec.alias("embedding"))


def probe_ivf():
    """Isolate the RERANK stage: probes/lists/queries are materialized
    (localCheckpoint) once, then only _ivf_score runs — expr (interpreted
    HOF fold) vs arrow (vectorized numpy row-dots), interleaved reps."""
    from gstools_core_spark.operators.similarity import (
        _assign_clusters, _ivf_score,
    )

    spark = _spark("bench-extra-ivf")
    spark.sparkContext.setJobDescription("ivf rerank A/B @200k")
    emb = _synthetic_embeddings(spark, 200_000)
    b = emb.select(F.col("vec_id").alias("bid"), F.col("embedding").alias("v"))
    init = b.orderBy("bid").limit(256).toPandas()
    centroids = np.stack(init["v"].to_numpy()).astype(np.float64)
    lists = (
        _assign_clusters(b, "bid", "v", centroids, 1, "np")
        .join(b, "bid")
        .select("cluster", "bid", "v")
        .localCheckpoint(eager=True)
    )
    queries = emb.where(F.col("vec_id") % 200 == 0).localCheckpoint(eager=True)
    probes = _assign_clusters(
        queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("v")),
        "qid", "v", centroids, 4, "np",
    ).localCheckpoint(eager=True)
    for rr in ("expr", "arrow", "expr", "arrow"):
        out = _ivf_score(probes, lists, queries, 10, "vec_id", "embedding", impl=rr)
        _t(spark, f"_ivf_score impl={rr}",
           lambda: out.write.format("noop").mode("overwrite").save(), reps=2)
    spark.stop()


PROBES = {"ivf": probe_ivf}


if __name__ == "__main__":
    names = sys.argv[1:] or list(PROBES)
    for nm in names:
        PROBES[nm]()

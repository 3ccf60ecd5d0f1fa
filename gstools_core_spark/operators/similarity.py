"""Similarity search over embedding columns (array<float>).

Three paths, increasingly scale-friendly:

* ``cosine_topk_sql`` — pure-DataFrame brute force (posexplode → equi-join on
  component index → partial+final sum).  Oracle-checkable; O(Q·B·d) shuffle.
* ``cosine_topk`` — broadcast the base matrix (numpy) and run one BLAS
  matmul per Arrow batch of queries via ``mapInArrow`` (no per-row object
  conversion anywhere).  The scale path when the base fits in executor
  memory (the usual ANN-index assumption).
* ``lsh_ann`` — random-hyperplane LSH: sign-bit sketches → bucket equi-join
  candidates → exact cosine verify → top-k.  Approximate, no broadcast of
  the full base, bucket join scales with collision counts.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, LongType, StructField, StructType
from pyspark.sql.window import Window


def _norm_col(vec):
    return F.sqrt(
        F.aggregate(vec, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine_topk_sql(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    query_id: str = "qid",
    base_id: str = "bid",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k as pure relational ops → (qid, bid, cos_sim, rank).

    Self-pairs (same id) are excluded.  Ties broken by base id.
    """
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.posexplode(F.col(vec_col)).alias("idx", "qv"),
        _norm_col(F.col(vec_col)).alias("qn"),
    ).withColumn("qv", F.col("qv").cast("double"))
    b = base.select(
        F.col(base_id).alias("bid"),
        F.posexplode(F.col(vec_col)).alias("idx", "bv"),
        _norm_col(F.col(vec_col)).alias("bn"),
    ).withColumn("bv", F.col("bv").cast("double"))
    dots = (
        q.join(b, "idx")
        .where(F.col("qid") != F.col("bid"))
        .groupBy("qid", "bid", "qn", "bn")
        .agg(F.sum(F.col("qv") * F.col("bv")).alias("dot"))
        .withColumn("cos_sim", F.col("dot") / (F.col("qn") * F.col("bn")))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("bid").asc())
    return (
        dots.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "bid", "cos_sim", "rank")
    )


def _arrow_vec_matrix(data, id_name: str, vec_name: str):
    """(ids int64, matrix float64) from an Arrow Table/RecordBatch with a
    list<float> column — see ``_arrow_matrix``."""
    ids = data.column(id_name)
    if hasattr(ids, "combine_chunks"):  # Table columns are ChunkedArrays
        ids = ids.combine_chunks()
    if ids.null_count:
        # NaN→int64 is an undefined cast (INT64_MIN garbage ids)
        raise ValueError(f"{id_name} contains nulls")
    return ids.to_numpy(zero_copy_only=False).astype(np.int64), _arrow_matrix(data, vec_name)


def _arrow_matrix(data, vec_name: str) -> np.ndarray:
    """float64 matrix from an Arrow Table/RecordBatch list<float> column —
    vectorized flatten+reshape instead of np.stack over n Python objects
    (the per-row stack was the SERIAL term that capped ann strong scaling:
    ~7 s of driver/worker time at 200k rows regardless of core count)."""
    vec = data.column(vec_name)
    if hasattr(vec, "combine_chunks"):
        vec = vec.combine_chunks()
    if vec.null_count:
        raise ValueError(f"{vec_name} contains nulls")
    n = len(vec)
    if n == 0:
        raise ValueError(f"empty {vec_name} batch")
    # constant-width check on the list OFFSETS: a plain divisibility test
    # misses ragged sets whose total length happens to divide n (e.g.
    # rows of 63 and 65 elements reshape silently into shifted garbage)
    widths = np.diff(np.asarray(vec.offsets))
    if (widths != widths[0]).any():
        raise ValueError(
            f"ragged {vec_name} lists (widths {sorted(set(widths.tolist()))})"
        )
    flat = vec.flatten().to_numpy(zero_copy_only=False).astype(np.float64)
    return flat.reshape(n, -1)


def cosine_topk(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    query_id: str = "qid",
    base_id: str = "bid",
    vec_col: str = "embedding",
) -> DataFrame:
    """Broadcast-base brute-force cosine top-k: one numpy matmul per Arrow
    batch of queries.  Exact; requires the base matrix to fit in memory
    (otherwise use lsh_ann).  Arrow-native end to end: the base collects
    via ``toArrow()`` and the query side runs ``mapInArrow`` — no
    per-row object conversion anywhere (the pandas path spent more time
    stacking 200k Python lists than in BLAS).

    Zero-norm vectors have undefined cosine: this path DROPS their rows
    (NaN similarities fail the isfinite keep-mask) while cosine_topk_sql
    emits NaN-similarity rows — don't feed all-zero embeddings to either
    and expect agreement.  The base broadcast is registered with
    operators/cache.track: long-lived drivers release the O(base)
    broadcast blocks via cache.clear_tracked() between jobs."""
    import pyarrow as pa

    from gstools_core_spark.operators.cache import track

    spark = queries.sparkSession
    base_tbl = base.select(
        F.col(base_id).alias("bid"), F.col(vec_col).alias("v")
    ).toArrow()
    bids, B = _arrow_vec_matrix(base_tbl, "bid", "v")
    B /= np.linalg.norm(B, axis=1, keepdims=True)
    bc = track(spark.sparkContext.broadcast((B, bids)))
    kk = k

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        Bm, bid_arr = bc.value
        nb = len(bid_arr)
        # QUERY-CHUNKED: the similarity block is (chunk, nb) doubles —
        # capped at ~64 MB however large the base, so task memory stays
        # bounded (an unchunked 10k-query Arrow batch against a 100k base
        # allocated a 8 GB sims+mask working set; on this host the fresh
        # allocations page-fault and the matmul runs 10× slower than the
        # flops say).  No floor: a bigger base just loops more.
        qchunk = int(max(1, (8 << 20) // max(nb, 1)))
        for batch in batches:
            if batch.num_rows == 0:
                continue
            qids_all, Q_all = _arrow_vec_matrix(batch, "qid", "v")
            Q_all /= np.linalg.norm(Q_all, axis=1, keepdims=True)
            for qlo in range(0, len(qids_all), qchunk):
                yield _topk_block(
                    Q_all[qlo : qlo + qchunk], qids_all[qlo : qlo + qchunk],
                    Bm, bid_arr, kk,
                )

    def _topk_block(Q, qids, Bm, bid_arr, kk) -> "pa.RecordBatch":
            sims = Q @ Bm.T  # (nq_chunk, nb)
            # exclude self-match by id (in place — no second (nq, nb) copy)
            sims[qids[:, None] == bid_arr[None, :]] = -np.inf
            nb = sims.shape[1]
            take = min(kk, nb)
            # fully vectorized top-k assembly (no per-query Python loop):
            # argpartition narrows to `take` candidates per row, then a
            # row-wise lexsort orders them by (-sim, bid) — bid ascending
            # on ties, matching cosine_topk_sql's window ORDER BY
            part = np.argpartition(-sims, take - 1, axis=1)[:, :take]
            part_sims = np.take_along_axis(sims, part, axis=1)  # (nq, take)
            part_bids = bid_arr[part]  # (nq, take)
            order = np.lexsort((part_bids, -part_sims), axis=1)
            sort_sims = np.take_along_axis(part_sims, order, axis=1)
            sort_bids = np.take_along_axis(part_bids, order, axis=1)
            # -inf (self-match) entries sort last, so finite entries form a
            # row prefix: ranks 1..take line up with the kept positions
            keep = np.isfinite(sort_sims).reshape(-1)
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(qids, take)[keep], type=pa.int64()),
                    pa.array(sort_bids.reshape(-1)[keep], type=pa.int64()),
                    pa.array(sort_sims.reshape(-1)[keep], type=pa.float64()),
                    pa.array(
                        np.tile(np.arange(1, take + 1, dtype=np.int32), len(qids))[
                            keep
                        ],
                        type=pa.int32(),
                    ),
                ],
                names=["qid", "bid", "cos_sim", "rank"],
            )

    q = queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("v"))
    return q.mapInArrow(gen, "qid long, bid long, cos_sim double, rank int")


def _assign_clusters_np(df: DataFrame, id_name: str, vec_col: str, centroids: np.ndarray, n_probe: int):
    """mapInArrow: nearest ``n_probe`` centroid ids per vector (cosine) —
    one BLAS matmul per Arrow batch, list column flattened vectorized
    (same no-object-conversion rule as cosine_topk); the wide-quantizer
    path.  Ids pass through as Arrow values, so any id type works."""
    import pyarrow as pa

    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    # clamp like the expr path's F.slice: n_probe beyond the centroid
    # count would emit mismatched-length id/cluster arrays
    npb = min(n_probe, len(C))

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            V = _arrow_matrix(batch, vec_col)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            sims = V @ C.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
            ids = batch.column(id_name)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(np.repeat(np.arange(len(ids)), npb)),
                    pa.array(order.reshape(-1).astype(np.int64), type=pa.int64()),
                    pa.array(
                        np.tile(np.arange(npb, dtype=np.int64), len(ids)),
                        type=pa.int64(),
                    ),
                ],
                names=[id_name, "cluster", "probe_rank"],
            )

    schema = StructType(
        [
            StructField(id_name, df.schema[id_name].dataType),
            StructField("cluster", LongType()),
            StructField("probe_rank", LongType()),
        ]
    )
    return df.mapInArrow(gen, schema)


def _assign_clusters_expr(df: DataFrame, id_name: str, vec_col: str, centroids: np.ndarray, n_probe: int):
    """JVM-expression assignment (no Python workers, no shuffle): cosine to
    each centroid as a sequential fold over literal arrays, then an
    array_sort top-n_probe.  Fold order matches the SQL oracle's
    list_reduce bitwise.  Right choice while n_clusters is small (codegen
    size grows with n_clusters — _assign_clusters_np takes over beyond
    ``_EXPR_MAX_CLUSTERS``)."""
    v = F.col(vec_col)
    vn = _norm_col(v)
    entries = []
    for c in range(len(centroids)):
        carr = F.array(*[F.lit(float(x)) for x in centroids[c]])
        dot = F.aggregate(
            F.zip_with(v, carr, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        # sequential fold (not np.sum's pairwise summation): the SQL
        # oracle computes this norm via list_reduce, which folds left to
        # right — the two must agree bitwise or probe ranks can flip
        acc = 0.0
        for x in centroids[c]:
            acc += float(x) * float(x)
        cn = math.sqrt(acc)
        sim = dot / (vn * F.lit(cn))
        entries.append(
            F.struct((-sim).alias("ns"), F.lit(c).cast("long").alias("cluster"))
        )
    top = F.slice(F.array_sort(F.array(*entries)), 1, n_probe)
    return df.select(
        F.col(id_name),
        F.posexplode(top).alias("probe_rank", "_e"),
    ).select(
        id_name,
        F.col("_e.cluster").alias("cluster"),
        F.col("probe_rank").cast("long").alias("probe_rank"),
    )


_EXPR_MAX_CLUSTERS = 64


def _assign_clusters(df, id_name, vec_col, centroids, n_probe, assign="auto"):
    if assign == "expr" or (assign == "auto" and len(centroids) <= _EXPR_MAX_CLUSTERS):
        return _assign_clusters_expr(df, id_name, vec_col, centroids, n_probe)
    return _assign_clusters_np(df, id_name, vec_col, centroids, n_probe)


def ivf_ann(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    query_id: str = "qid",
    base_id: str = "bid",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    n_probe: int = 4,
    iters: int = 3,
    assign: str = "auto",
    rerank: str = "expr",
) -> DataFrame:
    """IVF-style approximate cosine top-k — the classic inverted-file index
    built with plain DataFrame ops:

    1. spherical k-means coarse quantizer, fully deterministic: centroids
       initialized from the ``n_clusters`` smallest base ids (default
       n_clusters ≈ √N — the standard IVF sizing, so list length and list
       count grow together), Lloyd updates via a per-cluster
       ``applyInPandas`` mean (ONE n_clusters-row collect per iteration —
       n_clusters×dim driver state, no per-component rows);
    2. base vectors land in exactly one cluster (inverted lists); the
       training cache is released once the lists are defined (the final
       plan re-reads the base from source instead of holding executor
       memory);
    3. each query probes its ``n_probe`` nearest centroids (explode) and
       reranks EXACTLY inside the probed lists: equi-join on cluster id →
       cosine → per-query top-k window.  n_probe = n_clusters ⇒ exact.

    ``iters=0`` skips Lloyd training (quantizer = the init vectors): fully
    relational, used by the differential-oracle gate; training quality is
    pinned by recall tests instead.
    """
    _check_arrow_ids(rerank, (queries, query_id), (base, base_id))
    b = base.select(F.col(base_id).alias("bid"), F.col(vec_col).alias("v")).persist()
    n_clusters, centroids = _ivf_train(b, n_clusters, iters, assign)

    lists = _assign_clusters(b, "bid", "v", centroids, 1, assign).join(b, "bid")
    probes = _assign_clusters(
        queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("v")),
        "qid", "v", centroids, n_probe, assign,
    )
    # training reuse is over: drop the cache, the remaining lazy plan
    # re-reads the base from source when the caller finally acts
    b.unpersist(blocking=False)
    return _ivf_score(
        probes, lists.select("cluster", "bid", "v"), queries, k, query_id,
        vec_col, impl=rerank,
    )


def _check_arrow_ids(rerank: str, *id_cols: tuple[DataFrame, str]) -> None:
    """rerank='arrow' emits ``qid long, bid long``: reject non-integer id
    columns here, naming them, instead of deep inside a Python worker."""
    if rerank != "arrow":
        return
    for df, col in id_cols:
        dtype = df.schema[col].dataType
        if not isinstance(dtype, IntegralType):
            raise ValueError(
                f"rerank='arrow' needs integer ids: column {col!r} is "
                f"{dtype.simpleString()}"
            )


def _ivf_train(
    b: DataFrame, n_clusters: int | None, iters: int, assign: str
) -> tuple[int, np.ndarray]:
    """Spherical k-means coarse quantizer over (bid, v) → (n_clusters,
    centroid matrix).  Deterministic init from the n_clusters smallest
    base ids: orderBy+limit compiles to TakeOrderedAndProject — a
    per-partition bounded top-K heap merged at the driver (O(N) scan,
    n_clusters-sized state), NOT a global sort; safe at 10^9 vectors
    (plan pinned by tests/test_plans.py::test_ivf_init_no_global_sort).
    Lloyd updates via a per-cluster applyInPandas mean (ONE
    n_clusters-row collect per iteration)."""
    if n_clusters is None:
        n = b.count()
        n_clusters = max(1, min(int(math.isqrt(max(n, 1))), 4096))
    init = b.orderBy("bid").limit(n_clusters).toPandas()
    centroids = np.stack(init["v"].to_numpy()).astype(np.float64)
    # A request larger than the base row count yields fewer init rows;
    # report the ACTUAL cluster count so callers that enumerate
    # centroids (ivf_index_write) never index past the matrix.
    n_clusters = int(centroids.shape[0])

    def _mean_vec(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        return pd.DataFrame(
            {"cluster": [int(pdf["cluster"].iloc[0])], "m": [M.mean(axis=0).tolist()]}
        )

    for _ in range(iters):
        assigned = _assign_clusters(b, "bid", "v", centroids, 1, assign)
        comp = (
            assigned.join(b, "bid")
            .select("cluster", "v")
            .groupBy("cluster")
            .applyInPandas(_mean_vec, "cluster long, m array<double>")
            .collect()
        )
        new_c = centroids.copy()
        for r in comp:
            new_c[r["cluster"]] = np.asarray(r["m"], dtype=np.float64)
        centroids = new_c
    return n_clusters, centroids


def _ivf_score(
    probes: DataFrame,
    lists: DataFrame,
    queries: DataFrame,
    k: int,
    query_id: str,
    vec_col: str,
    impl: str = "expr",
) -> DataFrame:
    """Exact cosine rerank inside the probed inverted lists → per-query
    top-k (the shared tail of ivf_ann and ivf_ann_from_index).

    ``impl='expr'`` (default) scores with a sequential ``F.aggregate``
    fold — bitwise DuckDB-replayable, the oracle gate's path.  Higher-order
    lambdas are INTERPRETED and break whole-stage codegen (the 8×
    pair-stream lesson), so ``impl='arrow'`` is the scale path: one
    vectorized numpy row-dot per Arrow batch of candidate pairs, the same
    treatment ``hyperplane_sketch_arrow`` gives the LSH sketches.  The two
    differ only in float summation order (pairwise einsum vs sequential
    fold, ≤ ~1 ulp on the dot), so ranks agree except on exact
    cos_sim ties within that ulp — pytest-pinned rank-equal."""
    if impl not in ("expr", "arrow"):
        raise ValueError(impl)
    qv = queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("q_v"))
    pairs = (
        probes.join(lists, "cluster")
        .join(qv, "qid")
        .where(F.col("qid") != F.col("bid"))
    )
    if impl == "arrow":
        import pyarrow as pa

        def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
            for rb in batches:
                if rb.num_rows == 0:
                    continue
                tbl = pa.Table.from_batches([rb])
                qids, Q = _arrow_vec_matrix(tbl, "qid", "q_v")
                bids, V = _arrow_vec_matrix(tbl, "bid", "v")
                dots = np.einsum("ij,ij->i", Q, V)
                sims = dots / (
                    np.linalg.norm(Q, axis=1) * np.linalg.norm(V, axis=1)
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(qids, pa.int64()),
                        pa.array(bids, pa.int64()),
                        pa.array(sims, pa.float64()),
                    ],
                    names=["qid", "bid", "cos_sim"],
                )

        scored = (
            pairs.select("qid", "bid", "q_v", "v")
            .mapInArrow(gen, "qid long, bid long, cos_sim double")
            .distinct()
        )
    else:
        dot = F.aggregate(
            F.zip_with(F.col("q_v"), F.col("v"), lambda a, bb: a.cast("double") * bb.cast("double")),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        scored = (
            pairs.withColumn(
                "cos_sim", dot / (_norm_col(F.col("q_v")) * _norm_col(F.col("v")))
            )
            .select("qid", "bid", "cos_sim")
            .distinct()
        )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("bid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "bid", "cos_sim", "rank")
    )


def ivf_index_write(
    base: DataFrame,
    path: str,
    base_id: str = "bid",
    vec_col: str = "embedding",
    n_clusters: int | None = None,
    iters: int = 3,
    assign: str = "auto",
) -> dict:
    """Build the IVF index ONCE and persist it — the production shape for
    repeated ANN querying (ivf_ann retrains the quantizer on every call):

    * ``<path>/centroids`` — the (n_clusters × dim) quantizer, one tiny
      parquet;
    * ``<path>/lists`` — the inverted lists, ``partitionBy("cluster")``:
      a query batch's probed clusters read ONLY their partition
      directories, so at 10^9 vectors the non-probed lists never leave
      storage (ivf_ann_from_index prunes them statically).

    Returns {"n_clusters", "n_vectors"}.
    """
    spark = base.sparkSession
    b = base.select(F.col(base_id).alias("bid"), F.col(vec_col).alias("v")).persist()
    n_vectors = b.count()
    n_clusters, centroids = _ivf_train(b, n_clusters, iters, assign)
    lists = _assign_clusters(b, "bid", "v", centroids, 1, assign).join(b, "bid")
    (
        lists.select("cluster", "bid", "v")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(f"{path}/lists")
    )
    _centroid_table(spark, centroids).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    b.unpersist(blocking=False)
    return {"n_clusters": n_clusters, "n_vectors": n_vectors}


def _centroid_table(spark, centroids: np.ndarray) -> DataFrame:
    """(cluster, centroid) rows of a quantizer matrix as a JVM-side local
    table: ``createDataFrame(pyarrow.Table)`` plans a LocalTableScan, where
    ``createDataFrame(list)`` would be a Python RDD."""
    import pyarrow as pa

    n, dim = centroids.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    tbl = pa.table(
        {
            "cluster": pa.array(np.arange(n, dtype=np.int64)),
            "centroid": pa.ListArray.from_arrays(
                offsets, pa.array(centroids.astype(np.float64).ravel())
            ),
        }
    )
    return spark.createDataFrame(tbl, "cluster long, centroid array<double>")


def ivf_ann_from_index(
    queries: DataFrame,
    path: str,
    k: int,
    query_id: str = "qid",
    vec_col: str = "embedding",
    n_probe: int = 4,
    assign: str = "auto",
    rerank: str = "expr",
) -> DataFrame:
    """Approximate cosine top-k against a PERSISTED ivf_index_write index:
    load the (tiny) quantizer, assign each query its ``n_probe`` nearest
    centroids, then rerank exactly inside only the probed inverted-list
    partitions — the probed cluster set is collected (bounded by
    queries × n_probe) and pushed as a static partition filter, so the
    scan prunes to those directories (``PartitionFilters`` in the plan).
    Results match ivf_ann called with the same quantizer parameters
    (pytest-pinned with the deterministic iters=0 quantizer)."""
    spark = queries.sparkSession
    lists = spark.read.parquet(f"{path}/lists")
    _check_arrow_ids(rerank, (queries, query_id), (lists, "bid"))
    cents = (
        spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    )
    centroids = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in cents]
    )
    probes = _assign_clusters(
        queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("v")),
        "qid", "v", centroids, n_probe, assign,
    ).persist()
    probed = sorted(
        r["cluster"] for r in probes.select("cluster").distinct().collect()
    )
    lists = lists.where(F.col("cluster").isin([int(c) for c in probed]))
    out = _ivf_score(probes, lists, queries, k, query_id, vec_col, impl=rerank)
    from gstools_core_spark.operators.cache import track

    track(probes)  # released via cache.clear_tracked() between jobs
    return out


def hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    """Deterministic random hyperplanes (n_bits, dim) — shared by the Spark
    sketch and the SQL oracle (embedded as literals there)."""
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_bits, dim))


def hyperplane_sketch(
    df: DataFrame, vec_col: str, dim: int, n_bits: int = 16, seed: int = 19031977
) -> DataFrame:
    """Append an n_bits sign sketch w.r.t. deterministic random hyperplanes.

    Expression path: per-bit sequential ``F.aggregate`` folds — this is
    the ORACLE-parity implementation (DuckDB ``list_reduce`` replays the
    identical left-to-right double additions, so the sketch — and hence
    the bucket join — matches bitwise).  Higher-order lambdas are
    INTERPRETED, so this path costs ~n_bits × dim interpreted ops per row;
    use ``hyperplane_sketch_arrow`` on the bench/scale path."""
    planes = hyperplanes(dim, n_bits, seed)
    sk = None
    for b in range(n_bits):
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(v)) for v in planes[b]]),
                lambda x, p: x.cast("double") * p,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sk = term if sk is None else sk.bitwiseOR(term)
    return df.withColumn("sketch", sk)


def hyperplane_sketch_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_bits: int = 16,
    seed: int = 19031977,
) -> DataFrame:
    """(id, sketch) via ONE numpy matmul per Arrow batch — the scale path
    for LSH sketching (the expr path's interpreted per-bit folds measured
    ~8 s per million vector-bits; this is one BLAS gemm).  Sign of each
    dot is computed with a different float summation order than the expr
    path (pairwise BLAS vs sequential fold), so a |dot| within ~1 ulp of
    zero could flip a bit between the two implementations — harmless for
    ANN quality, which is why the differential oracle keeps the expr
    path (see queries.py lsh_ann)."""
    import pyarrow as pa

    planes = hyperplanes(dim, n_bits, seed).T.copy()  # (dim, n_bits)
    weights = (np.int64(1) << np.arange(n_bits, dtype=np.int64))

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            ids, X = _arrow_vec_matrix(tbl, id_col, vec_col)
            bits = (X.astype(np.float64) @ planes) >= 0.0  # (n, n_bits)
            sk = bits.astype(np.int64) @ weights
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(sk, pa.int64())],
                names=[id_col, "sketch"],
            )

    return df.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        gen, f"{id_col} long, sketch long"
    )


def lsh_ann(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    dim: int,
    query_id: str = "qid",
    base_id: str = "bid",
    vec_col: str = "embedding",
    n_bits: int = 16,
    n_tables: int = 4,
    seed: int = 19031977,
    impl: str = "expr",
) -> DataFrame:
    """Approximate cosine top-k: candidates share a sketch bucket in ≥1 of
    ``n_tables`` hyperplane tables; exact cosine on candidates only.
    ``seed`` must match the caller's oracle-side plane generation
    (queries.LSH_SEED passes it explicitly — no duplicated magic
    constant).  ``impl='expr'`` (default) computes sketches with
    sequential-fold column expressions — bitwise DuckDB-replayable, the
    oracle gate's path; ``impl='arrow'`` is the scale path (one numpy
    matmul per Arrow batch, ~two orders of magnitude less sketch cost —
    see hyperplane_sketch_arrow for the 1-ulp sign caveat)."""
    if impl not in ("expr", "arrow"):
        raise ValueError(impl)
    q_sk, b_sk = queries, base
    pairs = None
    for t in range(n_tables):
        if impl == "arrow":
            qs = hyperplane_sketch_arrow(
                q_sk, query_id, vec_col, dim, n_bits, seed=seed + t
            ).withColumnRenamed(query_id, "qid")
            bs = hyperplane_sketch_arrow(
                b_sk, base_id, vec_col, dim, n_bits, seed=seed + t
            ).withColumnRenamed(base_id, "bid")
        else:
            qs = hyperplane_sketch(q_sk, vec_col, dim, n_bits, seed=seed + t).select(
                F.col(query_id).alias("qid"), F.col("sketch")
            )
            bs = hyperplane_sketch(b_sk, vec_col, dim, n_bits, seed=seed + t).select(
                F.col(base_id).alias("bid"), F.col("sketch")
            )
        p = qs.join(bs, "sketch").select("qid", "bid")
        pairs = p if pairs is None else pairs.unionByName(p)
    cands = pairs.distinct().where(F.col("qid") != F.col("bid"))

    qv = queries.select(F.col(query_id).alias("qid"), F.col(vec_col).alias("q_v"))
    bv = base.select(F.col(base_id).alias("bid"), F.col(vec_col).alias("b_v"))
    dot = F.aggregate(
        F.zip_with(F.col("q_v"), F.col("b_v"), lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        cands.join(qv, "qid")
        .join(bv, "bid")
        .withColumn("cos_sim", dot / (_norm_col(F.col("q_v")) * _norm_col(F.col("b_v"))))
        .drop("q_v", "b_v")
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("bid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "bid", "cos_sim", "rank")
    )

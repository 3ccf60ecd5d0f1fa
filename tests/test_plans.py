"""Physical-plan assertions: the optimizations SURVEY.md §4 promises are
actually in the executed plans (broadcasts, pushdown, pruning, no cartesian
products, whole-stage codegen)."""

import numpy as np
from pyspark.sql import functions as F

from gstools_core_spark import plans as PL
from gstools_core_spark.functions import points as P
from gstools_core_spark.operators import variogram as V
from gstools_core_spark.operators.pair_join import pair_join
from gstools_core_spark.operators.spatial import knn_join


def _pts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.col("doc_id").alias("id"),
        P.x_col("doc_id").alias("x"),
        P.y_col("doc_id").alias("y"),
        (F.col("n_chars") / 100.0).alias("val"),
    )


def test_pair_join_is_equi_join_not_cartesian(spark, sf_dir):
    pairs = pair_join(_pts(spark, sf_dir), max_dist=2.0)
    PL.assert_no_cartesian(pairs)
    p = PL.plan_string(pairs)
    # ring join must be a hash/sort-merge equi join on the cell keys
    assert "Join" in p
    assert "jc0" in p and "jc1" in p


def test_variogram_bins_join_is_broadcast(spark, sf_dir):
    out = V.variogram_unstructured(_pts(spark, sf_dir), [0.0, 1.0, 2.0])
    PL.assert_broadcast_join(out)
    PL.assert_no_cartesian(out)


def test_knn_plan_no_cartesian(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    q = pts.where(F.col("id") % 10 == 0)
    out = knn_join(q, pts, k=3, radius=2.0, query_id="id", base_id="id")
    PL.assert_no_cartesian(out)


def test_filter_pushdown_and_column_pruning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.where(F.col("l_quantity") < 5.0).select("l_orderkey", "l_quantity")
    PL.assert_pushed_filters(q)
    cols = PL.scan_read_schema(q)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_whole_stage_codegen_in_aggregation(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = ev.groupBy("event_type").agg(F.sum("value"))
    # AQE's formatted plan hides codegen markers pre-execution; the codegen
    # explain mode reports generated subtrees directly
    p = PL.plan_string(agg, mode="codegen")
    assert "WholeStageCodegen" in p


def test_directional_plan_stays_codegen(spark, sf_dir):
    """Perf regression guard (round-2 fix: 29s → 5.7s at sf0.1): the
    directional cone tests must compile into the pair stream — no
    broadcast nested-loop join against a directions table on the pair
    side (the single BNLJ allowed is the tiny dirs×bins OUTPUT frame) and
    no interpreted higher-order array functions anywhere."""
    plan = (
        V.variogram_directional(
            _pts(spark, sf_dir), [0.0, 1.0, 2.0], [(1.0, 0.0), (0.0, 1.0)]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "ArrayFilter" not in plan
    assert "lambdafunction" not in plan.lower()


def test_simhash_banding_is_equi_join(spark):
    """The combination-banding candidate join must be a hash/sort-merge
    equi-join on (band_idx, band_key) — never a cartesian/BNLJ pairing of
    documents (the whole point of banding at corpus scale)."""
    from gstools_core_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(i, i * 7919 - 40) for i in range(60)], "doc_id long, simhash long"
    )
    out = DD.simhash_near_dups(df, "doc_id", max_hamming=4, n_bands=6, key_blocks=2)
    PL.assert_no_cartesian(out)
    assert "Join" in PL.plan_string(out)


def test_minhash_lsh_is_equi_join(spark):
    """MinHash LSH candidate generation joins on (band, bucket-signature)
    — no cartesian/BNLJ over documents."""
    from gstools_core_spark.operators import dedup as DD

    df = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(40)],
        "doc_id long, text string",
    )
    sigs = DD.minhash_signature(df, "text", num_hashes=16, shingle_k=2)
    cands = DD.minhash_lsh_candidates(sigs, "doc_id", bands=4, rows_per_band=4)
    PL.assert_no_cartesian(cands)


def test_pip_udf_only_on_boundary_rows(spark, sf_dir):
    """A Python UDF inside when() is extracted by Catalyst and evaluated
    for EVERY row; point_in_polygon must instead split rows with filters
    so only boundary-cell points reach the ray-cast (regression: the
    cell-cover routing used to be dead weight).  The plan must contain
    exactly one Python-eval node, and a Filter must sit BELOW it in its
    union branch (children print after parents in plan text)."""
    from gstools_core_spark.operators.spatial import point_in_polygon

    pts = _pts(spark, sf_dir)
    out = point_in_polygon(
        pts, [(-5.0, -5.0), (5.0, -5.0), (5.0, 5.0), (-5.0, 5.0)], cell_size=2.0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_py = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert n_py == 1, plan
    idx = max(plan.find("ArrowEvalPython"), plan.find("BatchEvalPython"))
    assert "Filter" in plan[idx:], "ray-cast must apply only to filtered rows"


def test_ivf_init_no_global_sort(spark):
    """IVF centroid init ("n_clusters smallest base ids") must compile to
    TakeOrderedAndProject — a per-partition bounded top-K heap merged at
    the driver — not a global Sort+Exchange (O(N log N) over 10^9 vectors
    at scale)."""
    df = spark.range(0, 10_000).select(
        F.col("id").alias("bid"), F.array(F.lit(1.0), F.lit(2.0)).alias("v")
    )
    plan = (
        df.orderBy("bid").limit(16)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "+- Sort" not in plan and "rangepartitioning" not in plan.lower()


def _python_served_scans(df) -> list[str]:
    """Plan lines that scan a Python RDD (``createDataFrame(list)``) or hand
    rows to Python workers."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    markers = ("ExistingRDD", "PythonRDD", "EvalPython", "InPandas", "InArrow")
    return [ln for ln in plan.splitlines() if any(m in ln for m in markers)]


def test_small_literal_tables_are_jvm_side(spark, sf_dir):
    """The bins table and krige's collected hot set are built from JVM
    literals: ``createDataFrame(list)`` is a Python RDD that Python workers
    serve on every execution.  The variogram plans hold no Python node at
    all; the salted krige's only Python node is its solver cogroup."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    pts = _pts(spark, sf_dir)
    edges = [0.0, 1.0, 2.0]
    assert _python_served_scans(V.variogram_unstructured(pts, edges)) == []
    assert _python_served_scans(
        V.variogram_directional(pts, edges, [(1.0, 0.0), (0.0, 1.0)])
    ) == []
    salted = krige(
        pts, pts.where(F.col("id") % 3 == 0), GaussianModel(var=1.0, len_scale=1.0),
        radius=2.0, salt_hot=4, hot_threshold=2,
    )
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan  # the hot set is non-empty: salting engaged
    served = _python_served_scans(salted)
    assert served and all("FlatMapCoGroupsInArrow" in ln for ln in served), served


def test_krige_knn_small_cond_is_broadcast_plan(spark, sf_dir, partitioned_plan):
    """knn kriging with a cond set under the broadcast bound solves the
    targets where they sit: one mapInArrow behind a round-robin exchange —
    no cogroup, no hash exchange, no ring-stamp explode.  Forcing the
    partitioned plan brings the cogroup back."""
    from gstools_core_spark.operators.kriging import GaussianModel, krige

    pts = _pts(spark, sf_dir)
    model = GaussianModel(var=1.0, len_scale=1.0)

    def build():
        return krige(pts, pts.where(F.col("id") % 3 == 0), model, radius=2.0, knn=8)

    plan = build()._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "FlatMapCoGroupsInArrow" not in plan
    assert "hashpartitioning" not in plan and "Generate" not in plan
    assert "RoundRobinPartitioning" in plan
    with partitioned_plan():
        plan = build()._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInArrow" in plan and "hashpartitioning" in plan


def test_small_result_tables_are_local_table_scans(spark, sf_dir, tmp_path):
    """Driver-built tables come from ``createDataFrame(pyarrow.Table)``, a
    JVM-side LocalTableScan, never a Python-served ``ExistingRDD``:
    point_in_polygon's cell cover, ivf_index_write's centroid table and
    the local plan of connected_components."""
    from gstools_core_spark.operators.graph import connected_components
    from gstools_core_spark.operators.similarity import _centroid_table
    from gstools_core_spark.operators.spatial import point_in_polygon

    pip = point_in_polygon(
        _pts(spark, sf_dir), [(-5.0, -5.0), (5.0, -5.0), (5.0, 5.0), (-5.0, 5.0)],
        cell_size=2.0,
    )
    cents = _centroid_table(spark, np.arange(12.0).reshape(4, 3))
    assert [r["centroid"] for r in cents.orderBy("cluster").collect()] == [
        [0.0, 1.0, 2.0], [3.0, 4.0, 5.0], [6.0, 7.0, 8.0], [9.0, 10.0, 11.0]
    ]
    edges = spark.range(20).select(
        F.col("id").alias("a_id"), (F.col("id") + 1).alias("b_id")
    )
    comp = connected_components(edges)
    for df in (pip, cents, comp):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

"""Connected components for dedup-cluster resolution.

Near-duplicate candidate pairs (minhash/simhash/ngram) form a similarity
graph; web-scale dedup keeps one document per CONNECTED COMPONENT, not per
directly-linked pair.  The reference has no graph layer — this is the
engine-layer extension the pipeline needs at 10^12 documents.

The edge list is checkpointed once, and that one job also observes its
order-insensitive fingerprint (count + bit_xor of xxhash64(a,b) + decimal
sum of the same hash, via ``DataFrame.observe``).  Its edge count picks
the plan:

* LOCAL when the edges fit under Spark's own broadcast bound
  (``spark.sql.autoBroadcastJoinThreshold`` at 16 bytes per edge, two ids
  at 8 bytes a value) and the ids are integral or strings: the
  checkpointed edges are collected (one job, no upstream recompute),
  contracted on the driver by ``contract_components`` and returned as a
  JVM-side local table.  A small input gains nothing from a partitioned
  plan (*To Partition, or Not to Partition*, SIGMOD'21): here it would
  be a few shuffles per round for a few hundred edges.
* DISTRIBUTED otherwise (and for a threshold ≤ 0): alternating large-star
  / small-star rounds (Kiveris et al., "Connected Components in MapReduce
  and Beyond", SoCC'14) continue from the same checkpoint.  Each round is
  a window-min + projection over the edge list (2 shuffles), no
  driver-side adjacency; converges in O(log² n) rounds on any graph
  (observed: a handful) to a forest of depth-1 stars rooted at each
  component's minimum id — unlike naive min-label propagation whose round
  count is the graph DIAMETER (a 10^6-long url-chain would need 10^6
  shuffles; this needs ~20).  Each round's checkpoint job observes its
  own fingerprint; the fixpoint is two equal fingerprints in a row.

Both plans give component = the smallest id, so their outputs are equal.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType
from pyspark.sql.window import Window

from gstools_core_spark.functions.fingerprint import hash_fingerprint_aggs
from gstools_core_spark.session import broadcast_threshold

# bytes per collected edge in the local-plan bound: two ids, 8 bytes a value
_EDGE_BYTES = 16


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor LARGER than u to min(Γ(u) ∪ {u})."""
    bidir = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        bidir.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint; connect all smaller
    neighbors and the center itself to the minimum."""
    oriented = e.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    )
    w = Window.partitionBy("u")
    m = F.min("v").over(w)  # all v < u here, so min(N ∪ {u}) = min(v)
    with_m = oriented.withColumn("m", m)
    out = with_m.select(F.col("v").alias("a"), F.col("m").alias("b")).union(
        with_m.select(F.col("u").alias("a"), F.col("m").alias("b"))
    )
    return out.where(F.col("a") != F.col("b")).distinct()


def _checkpoint(e: DataFrame) -> tuple[DataFrame, tuple]:
    """``e`` checkpointed (one eager job) and the edge-set fingerprint
    that job observed — the shared (count, xor, decimal-sum) triple from
    functions/fingerprint.py (same recipe as checkpoint lineage; XOR alone
    would be blind to even-multiplicity swaps across rounds).

    localCheckpoint TRUNCATES LINEAGE: with persist() alone the logical
    plan doubles per round (each star references e twice) and Catalyst
    re-optimizes the whole history — measured 3 s/round exploding to 40 s
    by round 4.  Local (executor-memory) checkpointing is the standard
    iterative-algorithm form; a fault-tolerant run would point
    sparkContext.setCheckpointDir at the job's durable store instead."""
    obs = Observation("connected_components")
    e = e.observe(obs, *hash_fingerprint_aggs(F.xxhash64("a", "b"))).localCheckpoint(
        eager=True
    )
    fp = obs.get
    return e, (fp["n"], fp["h"], str(fp["s"]))


def contract_components(a: pa.Array, b: pa.Array) -> pa.Table:
    """(node, component) for every id in the edge list ``a[i]–b[i]``;
    component = the smallest id of its connected component.  Spark-free:
    the local plan of ``connected_components`` and its tests.

    Ids are ranked by pyarrow's sort, which is Spark's order: numeric for
    integers, UTF-8 bytes for strings in both engines.  The ranks are
    contracted by min-hooking + pointer jumping: every edge hooks the
    larger of its two roots under the smaller one, full pointer jumping
    turns the forest back into stars, and edges are relabelled to their
    roots until none join two roots.  A parent always ranks below its
    child, so each root is its component's smallest id.  Observed rounds
    grow like log n: 11 on a 10^5-node path with permuted ids, 2 on a
    10^5-leaf star."""
    nodes = pc.unique(pa.concat_arrays([a, b]))
    nodes = nodes.take(pc.sort_indices(nodes))
    u = pc.index_in(a, value_set=nodes).to_numpy().astype(np.int64)
    v = pc.index_in(b, value_set=nodes).to_numpy().astype(np.int64)
    parent = np.arange(len(nodes))
    while len(u):
        np.minimum.at(parent, np.maximum(u, v), np.minimum(u, v))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        u, v = parent[u], parent[v]
        join = u != v
        u, v = u[join], v[join]
    return pa.table({"node": nodes, "component": nodes.take(parent)})


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; component =
    the smallest node id in its connected component.  Ids may be any
    ORDERABLE type (long doc ids, url strings, …) — the contraction only
    needs min/comparison, so no cast is applied.

    The plan is picked at run time from the observed edge count (see the
    module docstring): at most ``autoBroadcastJoinThreshold / 16`` edges
    with integral or string ids (the same type on both sides) are
    contracted on the driver and come back as a local table; anything
    else runs the distributed star rounds, at most ``max_rounds`` of them.
    Building the result runs Spark jobs: one checkpoint, then the collect
    (local plan) or one checkpoint per round (distributed plan).

    Isolated nodes never appear in an edge list — union the full node set
    downstream with component = own id (see queries.q_dedup_components).
    """
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b")).where(
        F.col("a") != F.col("b")
    )
    e, prev = _checkpoint(e)

    a_t, b_t = (f.dataType for f in e.schema.fields)
    thresh = broadcast_threshold(e.sparkSession)
    if (
        a_t == b_t
        and isinstance(a_t, (IntegralType, StringType))
        and 0 < thresh
        and prev[0] * _EDGE_BYTES <= thresh
    ):
        tbl = e.toArrow()
        comp = contract_components(
            tbl.column("a").combine_chunks(), tbl.column("b").combine_chunks()
        )
        schema = StructType([StructField("node", a_t), StructField("component", a_t)])
        return e.sparkSession.createDataFrame(comp, schema)

    for _ in range(max_rounds):
        e, cur = _checkpoint(_small_star(_large_star(e)))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")

    # fixpoint = depth-1 stars: every non-root node has exactly one edge to
    # its component root; roots appear only on the b side
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    comp = e.groupBy("a").agg(F.min("b").alias("component"))
    out = nodes.join(
        comp, nodes["node"] == comp["a"], "left"
    ).select(
        F.col("node"), F.coalesce(F.col("component"), F.col("node")).alias("component")
    )
    return out

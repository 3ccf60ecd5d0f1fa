"""Connected components on both plans (local contraction, distributed
large-star/small-star) vs a union-find reference."""

import contextlib

import numpy as np
import pyarrow as pa
import pytest

from gstools_core_spark.operators import graph as G
from gstools_core_spark.operators.graph import connected_components, contract_components


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@pytest.fixture
def both_plans(partitioned_plan):
    """The local plan (the session's broadcast threshold) and the
    distributed plan (threshold -1) as context managers, by name."""
    return {"local": contextlib.nullcontext, "distributed": partitioned_plan}


def _edges_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "a_id long, b_id long"
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _components(df, plan):
    """{node: component}, building the result under ``plan`` (the plan is
    picked while building)."""
    with plan():
        out = connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def _check(spark, edges, both_plans):
    want = _union_find(edges)
    for plan in both_plans.values():
        assert _components(_edges_df(spark, edges), plan) == want


def test_components_random_graphs(spark, both_plans):
    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        # sparse non-contiguous ids: realistic doc-id space
        ids = rng.choice(10_000_000, size=120, replace=False)
        edges = [
            (ids[i], ids[j])
            for i, j in rng.integers(0, len(ids), size=(150, 2))
            if i != j
        ]
        _check(spark, edges, both_plans)


def test_components_long_chain(spark, both_plans):
    """A length-100 path: the case where naive min-label propagation needs
    100 rounds; star-contraction must resolve it within the round budget."""
    edges = [(i, i + 1) for i in range(100)]
    for plan in both_plans.values():
        got = _components(_edges_df(spark, edges), plan)
        assert set(got) == set(range(101))
        assert set(got.values()) == {0}


def test_components_string_ids(spark, both_plans):
    """Ids only need to be ORDERABLE — url-keyed dedup graphs are strings.
    (Regression: a long cast broke minhash_dedup(transitive=True) for
    non-numeric id columns.)"""
    edges = [("u/b", "u/a"), ("u/b", "u/c"), ("u/x", "u/y")]
    df = spark.createDataFrame(edges, "a_id string, b_id string")
    for plan in both_plans.values():
        assert _components(df, plan) == {
            "u/a": "u/a",
            "u/b": "u/a",
            "u/c": "u/a",
            "u/x": "u/x",
            "u/y": "u/x",
        }


def test_components_non_ascii_string_ids(spark, both_plans):
    """Spark orders strings by their UTF-8 bytes; the local plan's pyarrow
    sort must agree (Python's code-point order is the same order), or a
    component's minimum would differ between the plans."""
    rng = np.random.default_rng(5)
    alphabet = ["a", "z", "é", "ß", "Ω", "中", "😀", " ", "Z", "0"]
    ids = sorted({"".join(rng.choice(alphabet, size=3)) for _ in range(80)})
    edges = [
        (ids[i], ids[j])
        for i, j in rng.integers(0, len(ids), size=(60, 2))
        if i != j
    ]
    df = spark.createDataFrame(edges, "a_id string, b_id string")
    want = _union_find(edges)
    for plan in both_plans.values():
        assert _components(df, plan) == want


def test_components_two_cliques_and_bridge(spark, both_plans):
    cl1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    cl2 = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    _check(spark, cl1 + cl2, both_plans)  # two components
    _check(spark, cl1 + cl2 + [(4, 10)], both_plans)  # bridged: one component


def test_components_plans_agree_exactly(spark, both_plans):
    """Rows, schema and values of the two plans are identical: duplicate
    and self edges in the input, and an empty edge list."""
    rng = np.random.default_rng(9)
    edges = [tuple(e) for e in rng.integers(0, 60, size=(90, 2))]
    for case in (edges + edges[:20], [(3, 3)], []):
        outs = {}
        for name, plan in both_plans.items():
            with plan():
                outs[name] = connected_components(_edges_df(spark, case))
        local, dist = outs["local"], outs["distributed"]
        assert local.schema == dist.schema
        assert sorted(local.collect()) == sorted(dist.collect())
        assert len(local.collect()) == len(_union_find(e for e in case if e[0] != e[1]))


def _adversarial_graphs():
    rng = np.random.default_rng(3)
    n = 100_000
    perm = rng.permutation(n).astype(np.int64) * 7 + 11  # sparse, shuffled
    yield "path", perm[:-1], perm[1:]
    center = np.int64(n // 2)
    leaves = np.delete(np.arange(n, dtype=np.int64), n // 2)
    yield "star", rng.permutation(leaves), np.full(n - 1, center)
    a = rng.integers(0, 500, size=600)
    b = rng.integers(0, 500, size=600)
    yield "duplicates", np.concatenate([a, b, a]), np.concatenate([b, a, b])
    yield "empty", np.array([], np.int64), np.array([], np.int64)


@pytest.mark.parametrize("graph", list(_adversarial_graphs()), ids=lambda g: g[0])
def test_contract_components_matches_union_find(graph):
    """The local plan's contraction alone (no Spark) on inputs that stress
    the round count (a permuted 10^5 path, a 10^5-leaf star), duplicate
    edges and an empty edge list."""
    _, a, b = graph
    got = contract_components(pa.array(a), pa.array(b))
    assert got.column_names == ["node", "component"]
    nodes = got.column("node").to_numpy()
    assert (np.diff(nodes) > 0).all()  # each id once
    want = _union_find(zip(a.tolist(), b.tolist()))
    assert dict(zip(nodes.tolist(), got.column("component").to_pylist())) == want


def test_components_job_counts(spark, both_plans, monkeypatch):
    """Building the result runs exactly two jobs on the local plan (the
    observed checkpoint and the collect of its rows) and one job per
    checkpoint on the distributed plan: the first one, then one per round
    (each round observes its own fingerprint; no separate aggregate).  AQE
    is off so that one checkpoint is one job."""
    sc = spark.sparkContext
    calls = []
    real = G._checkpoint
    monkeypatch.setattr(G, "_checkpoint", lambda e: calls.append(1) or real(e))
    df = _edges_df(spark, [(i, i + 1) for i in range(40)])
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    jobs = {}
    try:
        for name, plan in both_plans.items():
            calls.clear()
            group = f"components-jobs-{name}"
            sc.setJobGroup(group, group)
            with plan():
                connected_components(df)
            jobs[name] = (len(sc.statusTracker().getJobIdsForGroup(group)), len(calls))
    finally:
        spark.conf.set(key, old)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs["local"] == (2, 1)
    n_jobs, n_checkpoints = jobs["distributed"]
    assert n_checkpoints >= 3  # the first checkpoint and ≥ 2 rounds
    assert n_jobs == n_checkpoints


def test_components_threshold_picks_plan(spark):
    """The local plan needs 16 bytes per edge under the broadcast
    threshold: exactly 16 × n takes it, one byte less does not.  Self
    edges are dropped before counting."""
    edges = [(i, i + 1) for i in range(30)] + [(7, 7)]
    df = _edges_df(spark, edges)
    n = 30
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    plans = {}
    try:
        for thresh in (16 * n, 16 * n - 1):
            spark.conf.set(key, str(thresh))
            out = connected_components(df)
            plans[thresh] = _plan(out)
            assert {r["component"] for r in out.collect()} == {0}
    finally:
        spark.conf.set(key, old)
    assert plans[16 * n].strip().startswith("LocalTableScan")
    assert "LocalTableScan" not in plans[16 * n - 1]


def test_components_double_ids_take_distributed_plan(spark):
    """Only integral and string ids are contracted locally; a double id
    column runs the distributed plan whatever its size."""
    df = spark.createDataFrame([(1.5, 2.5), (2.5, 0.5)], "a_id double, b_id double")
    out = connected_components(df)
    assert "LocalTableScan" not in _plan(out)
    assert sorted(map(tuple, out.collect())) == [(0.5, 0.5), (1.5, 0.5), (2.5, 0.5)]

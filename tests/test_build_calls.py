"""Plan construction cost: py4j call commands per operator build.

Every ``Column`` method, ``F`` function and list element handed to the
JVM is one driver→JVM round trip, and with PySpark's DataFrame debugging
on each Column call paid about five more.  The geostat operators build
each projection as one SQL string and ``get_session`` turns the
call-site capture off; these pins hold the builds there.

Only call commands (``c\\n``) are counted: constructors, reflection and
object-release traffic are not.  Each build runs once untimed first.  The
bound of each case is at least 5× below the count the same build made
when every projection was a tree of Column calls under the debugging
default (the count is in the case's comment).  No wall-clock is asserted.
"""

import contextlib
import math

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from gstools_core_spark.operators import variogram as V
from gstools_core_spark.operators.kriging import GaussianModel, krige
from gstools_core_spark.operators.pair_join import pair_join


@contextlib.contextmanager
def counted_calls(monkeypatch):
    n = [0]
    send = ClientServerConnection.send_command

    def counting(self, command):
        if command.startswith("c\n"):
            n[0] += 1
        return send(self, command)

    with monkeypatch.context() as m:
        m.setattr(ClientServerConnection, "send_command", counting)
        yield n


def _geo(spark):
    """3,000 points on the sphere, a third of them in one 1° box."""
    u = F.expr("pmod(xxhash64(id), 100000) / 100000.0D")
    v = F.expr("pmod(xxhash64(id, 1), 100000) / 100000.0D")
    hot = F.col("id") % 3 == 0
    return spark.range(3000).select(
        "id",
        F.when(hot, u + 40.0).otherwise(u * 120.0 - 60.0).alias("lat"),
        F.when(hot, v + 10.0).otherwise(v * 360.0 - 180.0).alias("lon"),
        (u * 2.0 + v).alias("val"),
    )


def _planar(spark):
    """8,000 points on a 40 × 40 lattice: 64 radius-5 cells of 125 each."""
    return spark.range(8000).select(
        "id",
        ((F.col("id") % 40) + 0.5).alias("x"),
        (F.floor(F.col("id") / 40) % 40 + 0.25).alias("y"),
        (F.col("id") % 7).cast("double").alias("val"),
    )


EDGES = [0.0, 0.01, 0.02, 0.03, 0.04, 0.05]  # haversine bins, radians
EDGES_DEG = [0.0, 0.5, 1.0, 1.5, 2.0, 2.5]


def frames(spark) -> dict:
    """The builds' inputs: points and a 10% conditioning sample of each."""
    out = {"geo": _geo(spark), "planar": _planar(spark)}
    for k in list(out):
        out[f"{k}_cond"] = out[k].where("pmod(id, 10) = 0")
    return out


# name → (build(frames), bound); the comment is the count with Column
# trees and call-site capture on
CASES = {
    # 749
    "pair_join planar": (lambda f: pair_join(f["planar"], max_dist=2.5), 149),
    # 1,037
    "pair_join haversine": (
        lambda f: pair_join(
            f["geo"], max_dist=0.05, coords=("lat", "lon"), haversine=True, max_abs_lat=61.0
        ),
        207,
    ),
    # 1,371
    "variogram_unstructured haversine": (
        lambda f: V.variogram_unstructured(
            f["geo"], EDGES, coords=("lat", "lon"), distance="h", max_abs_lat=61.0
        ),
        274,
    ),
    # 1,422
    "variogram_directional planar, 2 dirs": (
        lambda f: V.variogram_directional(
            f["planar"], EDGES_DEG, [(1.0, 0.0), (0.0, 1.0)], math.pi / 8
        ),
        284,
    ),
    # 311, its cond collect included.  The build makes 61 calls, every one
    # on a fixed path with no data-dependent count: the target and cond
    # selects (7 each: one list element per column, toSeq, selectExpr),
    # the parallelism and broadcast-threshold reads (2 + 3), limit (1),
    # PySpark's toArrow (10), repartition (1), PySpark's mapInArrow with
    # its UDF (22) and the output select (8).  The bound is the 5× ceiling
    # (311 / 5); a PySpark upgrade that adds a call to toArrow or
    # mapInArrow shows up here first.
    "krige knn broadcast": (
        lambda f: krige(
            f["geo"], f["geo_cond"], GaussianModel(1.0, 0.05, 0.01), radius=0.05,
            coords=("lat", "lon"), knn=16, haversine=True, max_abs_lat=61.0,
            salt_hot=8, hot_threshold="auto", group_cells=1,
        ),
        62,
    ),
    # 604
    "krige shared group_cells=2": (
        lambda f: krige(
            f["planar"], f["planar_cond"], GaussianModel(1.0, 5.0, 0.01), radius=5.0,
            max_cond=256, group_cells=2,
        ),
        120,
    ),
    # 2,670, its hot-set collect included (64 hot cells)
    "krige shared group_cells=1, salted": (
        lambda f: krige(
            f["planar"], f["planar_cond"], GaussianModel(1.0, 5.0, 0.01), radius=5.0,
            group_cells=1, salt_hot=8, hot_threshold=100,
        ),
        230,
    ),
}


def test_session_turns_call_site_capture_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


@pytest.mark.parametrize("case", list(CASES))
def test_build_py4j_calls(spark, monkeypatch, case):
    build, bound = CASES[case]
    f = frames(spark)
    build(f)
    with counted_calls(monkeypatch) as n:
        build(f)
    assert n[0] <= bound, f"{case}: {n[0]} py4j calls > {bound}"

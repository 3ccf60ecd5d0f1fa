"""The benchmark workloads.

Each workload makes its inputs from the seed and stores them as parquet
(``prepare``), runs one job iteration through the library's public
functions (``iterate``), and checks that iteration's outputs against
invariants fixed at set-up (``check``).  ``iterate`` takes a tracer: with
tracing off its hooks do nothing; with tracing on each stage runs to
completion in its own span and counters are recorded at the boundaries.

Outputs go to the noop sink (or real parquet writes on
``pages_pipeline_write``) with ``DataFrame.observe`` aggregates attached,
so the invariants are computed inside the timed job and compared after it.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from pathlib import Path

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gstools_core_spark import kernels as K
from gstools_core_spark.functions import cells as C
from gstools_core_spark.functions import text as T
from gstools_core_spark.functions.fingerprint import hash_fingerprint_aggs
from gstools_core_spark.operators import dedup as DD
from gstools_core_spark.operators import variogram as V
from gstools_core_spark.operators.checkpoint import emit_cell_metrics
from gstools_core_spark.operators.graph import connected_components
from gstools_core_spark.operators.kriging import GaussianModel, krige
from gstools_core_spark.operators.pair_join import geo_cell_exprs, haversine_grid, pair_join
from gstools_core_spark.operators.spatial import rasterize_tiles
from gstools_core_spark.sources.pages import geocode, synthesize_pages
from gstools_core_spark.sources.writer import write_partitioned_by_cell

INPUT_FILES = 8  # stored inputs are split into this many files on every machine

# Spark plan nodes that hand rows to Python workers
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInArrow",
    "FlatMapCoGroupsInPandas", "FlatMapGroupsInArrow", "FlatMapGroupsInPandas",
    "MapInArrow", "MapInPandas", "PythonMapInArrow", "AggregateInPandas",
    "WindowInPandas",
)


class ProbeCheckFailed(Exception):
    """A traced-run probe's output did not match its reference."""


def _observe(df: DataFrame, exprs: list) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, *exprs), obs


def noop_sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def python_nodes(df: DataFrame) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(plan.count(n) for n in PYTHON_NODES)


def fingerprint(row) -> tuple:
    return (int(row["n"]), int(row["h"] or 0), str(row["s"]))


def id_fingerprint_aggs(col: str) -> list:
    return hash_fingerprint_aggs(F.xxhash64(F.col(col)))


def krige_check_aggs(id_col: str = "id") -> list:
    """Observed krige invariants: id-set fingerprint, max n_cond, count of
    non-finite means, min variance, and a value digest."""
    mean = F.col("krige_mean")
    return [
        *id_fingerprint_aggs(id_col),
        F.max("n_cond").alias("max_ncond"),
        F.sum((F.isnan(mean) | (F.abs(mean) == float("inf"))).cast("long")).alias("nonfinite"),
        F.min("krige_var").alias("min_var"),
        F.sum(
            F.xxhash64(F.col(id_col), F.round(mean, 6), F.round("krige_var", 6)).cast(
                "decimal(28,0)"
            )
        ).alias("digest"),
    ]


def krige_problems(o: dict, want_ids: tuple, max_n: int) -> list[str]:
    out = []
    if fingerprint(o) != want_ids:
        out.append(f"krige ids {fingerprint(o)} != targets {want_ids}")
    if o["max_ncond"] is None or o["max_ncond"] > max_n:
        out.append(f"n_cond max {o['max_ncond']} > {max_n}")
    if o["nonfinite"]:
        out.append(f"{o['nonfinite']} non-finite krige means")
    if o["min_var"] is None or o["min_var"] < -1e-9:
        out.append(f"krige_var min {o['min_var']} < -1e-9")
    return out


def dir_stats(path: Path) -> tuple[int, int]:
    """(bytes, files) of the data files under a written output directory."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def store(df: DataFrame, path: Path) -> None:
    """Write generated inputs as INPUT_FILES parquet files (round-robin
    repartition, which Spark makes deterministic for a fixed input
    partitioning)."""
    df.repartition(INPUT_FILES).write.mode("overwrite").parquet(str(path))


def seeded_pages(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """Geocoded synthetic pages; the seed picks the page-id range."""
    off = (seed % 100_000) * n
    pages = synthesize_pages(spark, off + n, partitions=INPUT_FILES)
    return geocode(pages.where(F.col("page_id") >= off)).drop("html")


def time_it(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Workload:
    name = ""
    input_rows = 0
    reference_s = 0.0

    def __init__(self, spark: SparkSession, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work
        work.mkdir(parents=True, exist_ok=True)


# ---------------------------------------------------------------------------
# geo_variogram_krige


def bin_aggs(n_bins: int, n_dirs: int = 0) -> list:
    """Observed per-(direction, bin) counts and gamma of a variogram frame."""
    exprs = []
    for d in range(max(n_dirs, 1)):
        for b in range(n_bins):
            hit = F.col("bin_id") == b
            if n_dirs:
                hit = hit & (F.col("dir_id") == d)
            exprs += [
                F.max(F.when(hit, F.col("counts"))).alias(f"c_{d}_{b}"),
                F.max(F.when(hit, F.col("gamma"))).alias(f"g_{d}_{b}"),
            ]
    return exprs


def observed_bins(row, n_bins: int, d: int = 0) -> list[tuple[int, float]]:
    return [(row[f"c_{d}_{b}"], row[f"g_{d}_{b}"]) for b in range(n_bins)]


def bin_case(edges: list[float]) -> str:
    return "CASE " + " ".join(
        f"WHEN d < {edges[i + 1]!r} THEN {i}" for i in range(len(edges) - 2)
    ) + f" ELSE {len(edges) - 2} END"


class GeoVariogramKrige(Workload):
    name = "geo_variogram_krige"
    # 10,500 pages put the 'auto' hot threshold (256 targets) in the gap between
    # the two largest cells (~310 expected) and the third (~215), about three
    # standard deviations from each, so every seed hot-splits the same two cells
    N = 10_500
    RADIUS = 0.05  # central angle, radians (about 2.86 degrees)
    EDGES = [0.0, 0.01, 0.02, 0.03, 0.04, 0.05]  # haversine bins, radians
    EDGES_DEG = [0.0, 0.5, 1.0, 1.5, 2.0, 2.5]  # directional bins on (lon, lat) degrees
    DIRS = [(1.0, 0.0), (0.0, 1.0)]
    TOL = math.pi / 8.0
    KNN = 16
    MAX_ABS_LAT = 61.0  # geocoder bound: en center 39 deg + spread 22 deg

    def prepare(self) -> None:
        spark = self.spark
        self.path = self.work / "geo_pages"
        pts = seeded_pages(spark, self.seed, self.N).select(
            F.xxhash64("url").alias("id"),
            "lat",
            "lon",
            T.quality_score(F.col("text")).alias("val"),
        )
        store(pts, self.path)
        stored = spark.read.parquet(str(self.path))
        self.want_ids = fingerprint(stored.agg(*id_fingerprint_aggs("id")).first())
        self.input_rows = self.want_ids[0]
        t0 = time.perf_counter()
        self.ref = self._reference(directional=False)
        self.reference_s = time.perf_counter() - t0

    def _reference(self, directional: bool) -> dict:
        """Independent bin counts and gamma from DuckDB over the stored
        parquet: cell-blocked self-joins written here, not taken from the
        library.  The haversine bins use 3 x 7.2 degree cells, which hold
        every pair within 0.05 rad below |lat| 63 degrees; the directional
        bins (traced run only) block on 2.5 degree planar cells."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        con.execute(
            f"""CREATE VIEW p AS SELECT id, lat, lon, val,
                   floor(lat / 3.0)::BIGINT la, floor((lon + 180) / 7.2)::BIGINT lo,
                   floor(lon / {self.EDGES_DEG[-1]!r})::BIGINT cx,
                   floor(lat / {self.EDGES_DEG[-1]!r})::BIGINT cy
                FROM read_parquet('{self.path}/*.parquet');
            CREATE VIEW o AS SELECT * FROM (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                        (0,1),(1,-1),(1,0),(1,1)) t(ox, oy)"""
        )
        nb = len(self.EDGES) - 1

        def agg(pairs_sql: str, where: str = "true") -> list[tuple[int, float]]:
            rows = {
                b: (c, s)
                for b, c, s in con.execute(
                    f"SELECT bin, count(*), sum(dv * dv) FROM ({pairs_sql}) WHERE {where} GROUP BY bin"
                ).fetchall()
            }
            out = []
            for b in range(nb):
                c, s = rows.get(b, (0, 0.0))
                out.append((int(c), float(s) / (2.0 * max(c, 1))))
            return out

        try:
            if not directional:
                sdlat = "sin(radians(a.lat - b.lat) / 2.0)"
                sdlon = "sin(radians(a.lon - b.lon) / 2.0)"
                arg = (f"least({sdlat} * {sdlat} + cos(radians(a.lat)) * cos(radians(b.lat))"
                       f" * {sdlon} * {sdlon}, 1.0)")
                return {"haversine": agg(
                    f"""WITH j AS (SELECT 2.0 * atan2(sqrt({arg}), sqrt(1.0 - {arg})) d,
                                          a.val - b.val dv
                                   FROM p a, o JOIN p b ON b.la = a.la + o.ox
                                                       AND b.lo = (a.lo + o.oy + 50) % 50
                                   WHERE a.id < b.id)
                        SELECT dv, {bin_case(self.EDGES)} bin FROM j
                        WHERE d < {self.EDGES[-1]!r} AND d >= {self.EDGES[0]!r}"""
                )}
            con.execute(
                f"""CREATE TABLE ppairs AS
                WITH j AS (SELECT a.lon - b.lon dx, a.lat - b.lat dy, a.val - b.val dv
                           FROM p a, o JOIN p b ON b.cx = a.cx + o.ox AND b.cy = a.cy + o.oy
                           WHERE a.id < b.id),
                dd AS (SELECT dx, dy, dv, sqrt(dx * dx + dy * dy) d FROM j)
                SELECT dx, dy, dv, d, {bin_case(self.EDGES_DEG)} bin FROM dd
                WHERE d < {self.EDGES_DEG[-1]!r} AND d >= {self.EDGES_DEG[0]!r}"""
            )
            ref = {}
            for i, (d0, d1) in enumerate(self.DIRS):
                sp = f"abs(dx * {d0!r} + dy * {d1!r})"
                ref[i] = agg(
                    "SELECT * FROM ppairs",
                    f"NOT (d > 0 AND {sp} / d < 1 AND acos({sp} / d) >= {self.TOL!r})",
                )
            return ref
        finally:
            con.close()

    def iterate(self, tr) -> dict:
        spark = self.spark
        nb = len(self.EDGES) - 1
        pts = tr.materialize("sources.scan", spark.read.parquet(str(self.path)), "sources.rows")
        if tr.traced:
            with tr.span("pair_join"):
                pairs, po = _observe(
                    pair_join(pts, max_dist=self.EDGES[-1], coords=("lat", "lon"),
                              haversine=True, max_abs_lat=self.MAX_ABS_LAT),
                    [F.count(F.lit(1)).alias("n")],
                )
                noop_sink(pairs)
            tr.count("pair_join.pairs", po.get["n"])
        with tr.span("variogram"):
            with tr.span("variogram.build"):
                uni = V.variogram_unstructured(
                    pts, self.EDGES, coords=("lat", "lon"), distance="h",
                    max_abs_lat=self.MAX_ABS_LAT,
                )
            uni, uo = _observe(uni, bin_aggs(nb))
            with tr.span("variogram.exec"):
                noop_sink(uni)
        if tr.traced:
            tr.count("variogram.python_nodes", python_nodes(uni))

        cond = pts.where(F.pmod(F.col("id"), F.lit(10)) == 0)
        model = GaussianModel(var=1.0, len_scale=self.RADIUS, nugget=0.01)
        with tr.span("krige"):
            with tr.span("krige.build"):
                jobs0 = _job_count(spark) if tr.traced else 0
                kriged = krige(
                    pts, cond, model, radius=self.RADIUS, method="ordinary",
                    coords=("lat", "lon"), knn=self.KNN, haversine=True,
                    max_abs_lat=self.MAX_ABS_LAT, salt_hot=8, hot_threshold="auto",
                    group_cells=1,
                )
                if tr.traced:
                    tr.count("krige.build_jobs", _job_count(spark) - jobs0)
            kriged, ko = _observe(kriged, krige_check_aggs())
            with tr.span("krige.exec"):
                if tr.traced:
                    kriged = kriged.localCheckpoint(eager=True)
                else:
                    noop_sink(kriged)
        self._probe_inputs = (pts, cond, kriged)
        return {"krige": ko.get, "haversine": observed_bins(uo.get, nb)}

    def probe(self, tr) -> None:
        """Traced-run layer probes, run after the traced iteration and
        outside its wall time: the directional variogram over the same
        points as planar (lon, lat), checked like the timed outputs, then
        the hot-cell figures, the Arrow boundary and the numpy kernels.
        Raises ProbeCheckFailed when the directional bins miss the reference,
        when a variogram plan hands rows to Python workers, or when no cell
        exceeds the fair share (the hot-cell split would not run)."""
        spark = self.spark
        pts, cond, kriged = self._probe_inputs
        nb = len(self.EDGES_DEG) - 1
        planar = pts.select("id", F.col("lon").alias("x"), F.col("lat").alias("y"), "val")
        with tr.span("pair_join.planar"):
            noop_sink(pair_join(planar, max_dist=self.EDGES_DEG[-1]))
        with tr.span("variogram_directional"):
            with tr.span("variogram_directional.build"):
                dirv = V.variogram_directional(planar, self.EDGES_DEG, self.DIRS, self.TOL)
            dirv, do = _observe(dirv, bin_aggs(nb, len(self.DIRS)))
            with tr.span("variogram_directional.exec"):
                noop_sink(dirv)
        tr.count("variogram.python_nodes", python_nodes(dirv))
        if tr.counters["variogram.python_nodes"]:
            raise ProbeCheckFailed(
                f"{tr.counters['variogram.python_nodes']:.0f} Python plan nodes in the variogram plans"
            )
        ref = self._reference(directional=True)
        for i in range(len(self.DIRS)):
            for b, ((c, g), (wc, wg)) in enumerate(zip(observed_bins(do.get, nb, i), ref[i])):
                if c != wc or abs(g - wg) > 1e-9 * max(abs(wg), 1e-300):
                    raise ProbeCheckFailed(f"directional dir {i} bin {b}: {(c, g)} != reference {(wc, wg)}")
        tr.count("krige.out_rows", kriged.count())
        hist = [
            (int(r["n_cond"]), int(r["m"]))
            for r in kriged.groupBy("n_cond").agg(F.count(F.lit(1)).alias("m")).collect()
        ]
        # bordered ordinary system per target: LU 2/3 k^3 + one solve 2 k^2
        tr.count(
            "krige.solve_flops",
            sum(m * (2.0 / 3.0 * (q + 1) ** 3 + 2.0 * (q + 1) ** 2) for q, m in hist if q),
        )
        cell_lat, n_lon, lon_w = haversine_grid(self.RADIUS, self.MAX_ABS_LAT)
        keys = ["jc0", "jc1"]
        cells = geo_cell_exprs("lat", "lon", cell_lat, n_lon, lon_w)
        t = pts.select("id", "lat", "lon", *[e.alias(k) for e, k in zip(cells, keys)])
        counts = t.groupBy(*keys).count()
        shp = int(spark.conf.get("spark.sql.shuffle.partitions"))
        total = t.count()
        fair = max(256, int(total / max(shp, spark.sparkContext.defaultParallelism)))
        largest = counts.agg(F.max("count")).first()[0]
        tr.count("krige.fair_share", fair)
        tr.count("krige.max_cell_targets", largest)
        if largest <= fair:
            raise ProbeCheckFailed(f"largest cell {largest} targets <= fair share {fair}: no hot-cell split")
        c = C.explode_ring(
            cond.select("lat", "lon", "val", *[e.alias(k) for e, k in zip(cells, keys)]),
            "jc0", "jc1", "rc0", "rc1",
        ).select("lat", "lon", "val", F.col("rc0").alias("jc0"),
                 F.pmod(F.col("rc1"), F.lit(n_lon)).alias("jc1"))
        arrow_identity(tr, t, c, keys)
        # isolated kernels at the knn path's shapes: one (q+1)^2 bordered
        # system and one q x q great-circle block per target
        rng = np.random.default_rng(self.seed)
        solve_s = hav_s = 0.0
        for q, m in hist:
            if not q:
                continue
            lat = rng.uniform(-60, 60, (m, q))
            lon = rng.uniform(-180, 180, (m, q))
            A2 = np.stack([lat, lon])
            cb = np.cos(np.radians(lat))
            t0 = time.perf_counter()
            D = K.haversine_dist_coslat(
                A2[:, :, :, None], A2[:, :, None, :], cb[:, :, None], cb[:, None, :]
            )
            hav_s += time.perf_counter() - t0
            A = np.ones((m, q + 1, q + 1))
            A[:, :q, :q] = np.exp(-((D / self.RADIUS) ** 2)) + 0.01 * np.eye(q)
            A[:, q, q] = 0.0
            B = rng.uniform(0, 1, (m, q + 1, 1))
            solve_s += time_it(lambda: np.linalg.solve(A, B))
        tr.count("kernels.solve_s", solve_s)
        tr.count("kernels.haversine_s", hav_s)

    def check(self, out: dict) -> tuple[list[str], str]:
        problems = krige_problems(out["krige"], self.want_ids, self.KNN)
        for key in ("haversine",):
            for b, ((c, g), (wc, wg)) in enumerate(zip(out[key], self.ref[key])):
                if c != wc:
                    problems.append(f"{key} bin {b}: count {c} != reference {wc}")
                elif abs(g - wg) > 1e-9 * max(abs(wg), 1e-300):
                    problems.append(f"{key} bin {b}: gamma {g!r} != reference {wg!r}")
        bins = [(c, f"{g:.9e}") for c, g in out["haversine"]]
        return problems, f"{hashlib.sha1(repr(bins).encode()).hexdigest()[:16]}/{out['krige']['digest']}"


# ---------------------------------------------------------------------------
# pages_pipeline_write


class PagesPipelineWrite(Workload):
    name = "pages_pipeline_write"
    N = 2_000
    DUP_EVERY = 7
    QUALITY_MIN = 0.35
    RADIUS = 5.0
    MAX_COND = 256
    DEDUP = dict(threshold=0.8, num_hashes=32, bands=8, shingle_k=3, hash_fn="xx")

    def prepare(self) -> None:
        spark = self.spark
        pages = seeded_pages(spark, self.seed, self.N)
        mirror_base = (self.seed % 100_000 + 1) * self.N * 10
        # every DUP_EVERY-th page re-crawled under a mirror url, same text
        mirrors = (
            pages.where(F.pmod(F.col("page_id"), F.lit(self.DUP_EVERY)) == 0)
            .withColumn("page_id", F.col("page_id") + F.lit(mirror_base))
            .withColumn("url", F.concat(F.lit("https://mirror.example/p/"), F.col("page_id")))
        )
        self.path = self.work / "corpus"
        store(pages.unionByName(mirrors), self.path)
        import pyarrow.parquet as pq

        ids = pq.read_table(self.path, columns=["page_id"]).column("page_id").to_numpy()
        self.n_corpus = len(ids)
        self.n_mirrors = int((ids >= mirror_base).sum())
        corpus = spark.read.parquet(str(self.path))
        kept = corpus.where(
            (F.col("page_id") < mirror_base)
            & (T.quality_score(F.col("text")) >= self.QUALITY_MIN)
        )
        self.want_kept = fingerprint(kept.agg(*id_fingerprint_aggs("page_id")).first())
        self.input_rows = self.n_corpus
        self.out = self.work / "out"
        self.out.mkdir(exist_ok=True)

    def _dedup(self, tr, corpus: DataFrame) -> DataFrame:
        if not tr.traced:
            return DD.minhash_dedup(corpus, "text", "page_id", transitive=True, **self.DEDUP)
        p = self.DEDUP
        sigs = tr.materialize(
            "dedup.signature",
            DD.minhash_signature(corpus, "text", p["num_hashes"], p["shingle_k"], p["hash_fn"]),
        )
        cands = tr.materialize(
            "dedup.candidates",
            DD.minhash_lsh_candidates(
                sigs, "page_id", p["bands"], p["num_hashes"] // p["bands"], p["hash_fn"]
            ),
            "dedup.candidates",
        )
        verified = tr.materialize(
            "dedup.verify",
            DD.jaccard_verify(cands, sigs, "page_id", p["threshold"]),
            "dedup.verified",
        )
        with tr.span("graph.components"):
            comp = connected_components(verified, "a_id", "b_id")
        comp = tr.materialize("graph.components.exec", comp, "graph.nodes")
        dups = comp.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("page_id")
        )
        tr.count("dedup.dropped", dups.count())
        return corpus.join(dups, "page_id", "left_anti")

    def iterate(self, tr) -> dict:
        spark = self.spark
        out = self.out
        corpus = tr.materialize(
            "sources.scan", spark.read.parquet(str(self.path)), "sources.rows"
        )
        with tr.span("dedup"):
            deduped = self._dedup(tr, corpus)
        deduped, dedup_o = _observe(deduped, [F.count(F.lit(1)).alias("n")])
        kept = deduped.withColumn("quality", T.quality_score(F.col("text"))).where(
            F.col("quality") >= self.QUALITY_MIN
        )
        kept, kept_o = _observe(kept, id_fingerprint_aggs("page_id"))
        with tr.span("writer.pages"):
            write_partitioned_by_cell(kept, str(out / "pages"))
        written = spark.read.parquet(str(out / "pages"))
        with tr.span("checkpoint.metrics"):
            emit_cell_metrics(written, "cell_prefix", str(out / "cell_metrics"), value_col="quality")
        targets = written.select(
            F.col("page_id").alias("id"),
            F.col("lon").alias("x"),
            F.col("lat").alias("y"),
            F.col("quality").alias("val"),
        )
        cond = targets.where(F.pmod(F.col("id"), F.lit(10)) == 0)
        model = GaussianModel(var=1.0, len_scale=self.RADIUS, nugget=0.01)
        with tr.span("krige"):
            with tr.span("krige.build"):
                jobs0 = _job_count(spark) if tr.traced else 0
                kriged = krige(
                    targets, cond, model, radius=self.RADIUS, method="ordinary",
                    max_cond=self.MAX_COND, group_cells=2,
                )
                if tr.traced:
                    tr.count("krige.build_jobs", _job_count(spark) - jobs0)
            kriged, kr_o = _observe(kriged, krige_check_aggs())
            kriged = tr.materialize("krige.exec", kriged, "krige.out_rows")
        with tr.span("rasterize"):
            tiles = rasterize_tiles(kriged, cell_size=2.0, value_col="krige_mean", tile_cells=8)
            tiles, tile_o = _observe(
                tiles,
                [F.count(F.lit(1)).alias("tiles"), F.sum("n_points").alias("points")],
            )
            tiles = tr.materialize("rasterize.exec", tiles, "rasterize.tiles")
        with tr.span("writer.tiles"):
            tiles.write.mode("overwrite").parquet(str(out / "tiles"))
        if tr.traced:
            for sub in ("pages", "tiles", "cell_metrics"):
                size, files = dir_stats(out / sub)
                tr.count("writer.bytes", size)
                tr.count("writer.files", files)
        self._probe_inputs = (targets, cond, kriged)
        return {
            "deduped": dedup_o.get["n"],
            "kept": fingerprint(kept_o.get),
            "krige": dict(kr_o.get),
            "tiles": dict(tile_o.get),
        }

    def probe(self, tr) -> None:
        """Traced-run layer probes, outside the traced iteration's wall
        time: solve sizes, the Arrow boundary and the stable_solve kernel."""
        targets, cond, kriged = self._probe_inputs
        cx = F.floor(F.col("x") / F.lit(self.RADIUS)).cast("long")
        cy = F.floor(F.col("y") / F.lit(self.RADIUS)).cast("long")
        shapes = [
            (int(r["n_cond"]), int(r["nt"]))
            for r in kriged.groupBy(cx.alias("cx"), cy.alias("cy"), "n_cond")
            .agg(F.count(F.lit(1)).alias("nt"))
            .collect()
        ]
        # one bordered (n+1)^2 system per cell, solved at the 512-column
        # width kernels.stable_solve pads every right-hand side block to
        tr.count(
            "krige.solve_flops",
            sum(2.0 / 3.0 * (n + 1) ** 3 + 2.0 * (n + 1) ** 2 * 512 * math.ceil(nt / 512)
                for n, nt in shapes if n),
        )
        # group_cells=2: super-cell key = floor(fine cell / 2)
        keys = ["sx", "sy"]
        t = targets.select("id", "x", "y", F.floor(cx / 2).alias("sx"), F.floor(cy / 2).alias("sy"))
        c = C.explode_ring(
            cond.select("x", "y", "val", cx.alias("cx"), cy.alias("cy")), "cx", "cy", "rx", "ry"
        ).select("x", "y", "val", F.floor(F.col("rx") / 2).alias("sx"),
                 F.floor(F.col("ry") / 2).alias("sy"))
        arrow_identity(tr, t, c, keys)
        rng = np.random.default_rng(self.seed)
        solve_s = 0.0
        for n, nt in shapes:
            if not n:
                continue
            P = rng.uniform(0, self.RADIUS * 3, (n, 2))
            D = np.hypot(P[:, :1] - P[None, :, 0], P[:, 1:] - P[None, :, 1])
            A = np.ones((n + 1, n + 1))
            A[:n, :n] = np.exp(-((D / self.RADIUS) ** 2)) + 0.01 * np.eye(n)
            A[n, n] = 0.0
            B = rng.uniform(0, 1, (n + 1, nt))
            solve_s += time_it(lambda: K.stable_solve(A, B))
        tr.count("kernels.solve_s", solve_s)

    def check(self, out: dict) -> tuple[list[str], str]:
        import pyarrow.parquet as pq

        problems = []
        dropped = self.n_corpus - out["deduped"]
        if dropped != self.n_mirrors:
            problems.append(f"dedup dropped {dropped} != injected mirrors {self.n_mirrors}")
        if out["kept"] != self.want_kept:
            problems.append(f"kept ids {out['kept']} != expected {self.want_kept}")
        # read back from the files themselves, not through Spark
        pages = list((self.out / "pages").glob("cell_prefix=*/*.parquet"))
        n_written = sum(pq.read_metadata(f).num_rows for f in pages)
        if n_written != out["kept"][0]:
            problems.append(f"written rows {n_written} != kept rows {out['kept'][0]}")
        n_cells = len({f.parent.name for f in pages})
        n_metrics = sum(
            1
            for f in (self.out / "cell_metrics").glob("part-*")
            for line in f.read_text().splitlines()
            if line.strip()
        )
        if n_metrics != n_cells:
            problems.append(f"metrics rows {n_metrics} != distinct cells {n_cells}")
        problems += krige_problems(out["krige"], self.want_kept, self.MAX_COND)
        if out["tiles"]["points"] != out["kept"][0]:
            problems.append(f"tile points {out['tiles']['points']} != kept rows {out['kept'][0]}")
        digest = f"{out['krige']['digest']}/{out['tiles']['tiles']}/{n_cells}"
        return problems, digest


def arrow_identity(tr, t: DataFrame, c: DataFrame, keys: list[str]) -> None:
    """Time the Arrow boundary alone: an identity ``applyInArrow`` cogroup
    over the same cell keys the kriging cogroup uses."""
    out = (
        t.groupBy(*keys)
        .cogroup(c.groupBy(*keys))
        .applyInArrow(lambda left, right: left, t.schema)
    )
    with tr.span("arrow_boundary"):
        noop_sink(out)


def _job_count(spark: SparkSession) -> int:
    tracker = spark.sparkContext.statusTracker()
    group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    return len(tracker.getJobIdsForGroup(group))


WORKLOADS = {w.name: w for w in (GeoVariogramKrige, PagesPipelineWrite)}

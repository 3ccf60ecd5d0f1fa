"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload geo_variogram_krige --seed 1 --seconds 10 --trace 0 \
        --cores nproc --shuffle-partitions 64 --driver-memory-gb 2

The run pins its settings, starts one ``local[nproc]`` Spark session
(several times, to time set-up), makes the workload's inputs from the seed
and stores them as parquet, runs a fixed number of warm-up iterations, then
a fixed number of timed iterations (set by ``--seconds``, never by how fast
the code runs).  Every iteration's output is checked outside the timed
window.  The last stdout line is one JSON object: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a separate traced pass with
``--trace 1``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# The end-to-end medians always come from the same iteration indices (the
# JIT is still speeding iterations up, so a speed-dependent count would
# credit the faster side with extra warm-up): WARM_ITERS warm-up
# iterations, then round(--seconds / ITER_BUDGET_S) timed ones, at least
# TIMED_MIN_ITERS.
WARM_ITERS = 2
TIMED_MIN_ITERS = 3
ITER_BUDGET_S = 3.0
TRACE_ITERS = 2
SETUPS = 3  # session set-ups timed per run; setup_s is their median


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help=f"timed iterations = round(seconds / {ITER_BUDGET_S}), at least {TIMED_MIN_ITERS}")
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # the run settings live only in BENCHMARK.json's command
    p.add_argument("--cores", choices=("nproc",), required=True,
                   help="local[N] with N = the CPUs this process may use")
    p.add_argument("--shuffle-partitions", type=int, required=True)
    p.add_argument("--driver-memory-gb", type=int, required=True)
    return p.parse_args(argv)


def pin_environment(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the package
    importable by the Python workers Spark forks."""
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(args, cores: int, work: Path):
    """get_session (which pins BLAS threads before the JVM starts) plus a
    Python-worker warm-up job that imports the package in every worker.
    Returns (spark, start_s, warm_s)."""
    from gstools_core_spark.session import get_session

    gb = args.driver_memory_gb
    java_opts = [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
        f"-Xms{gb}g",  # a heap that never resizes: no heap-growth phase inside a run
    ]
    t0 = time.perf_counter()
    spark = get_session(
        "perfbench",
        cores=cores,
        shuffle_partitions=args.shuffle_partitions,
        memory_gb=gb,
        extra_conf={
            "spark.driver.extraJavaOptions": " ".join(java_opts),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    t1 = time.perf_counter()

    def warm(batches):
        import gstools_core_spark.kernels  # noqa: F401 — the import is the warm-up

        yield from batches

    spark.range(0, cores * 4, 1, cores).mapInArrow(warm, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    return spark, t1 - t0, time.perf_counter() - t1


class Runner:
    def __init__(self, spark, wl):
        from perfbench import procstat
        from perfbench.tracing import NullTracer

        self.spark = spark
        self.wl = wl
        self.procstat = procstat
        self.null = NullTracer()
        self.attempted = 0
        self.failed = 0
        self.digests: set[str] = set()
        self.n = 0

    def iteration(self, tracer=None) -> dict | None:
        """One job iteration: build the DataFrames, run them into the sink,
        then (untimed) check the outputs.  None if it raised or failed."""
        from gstools_core_spark.operators.cache import clear_tracked

        self.attempted += 1
        self.n += 1
        sc = self.spark.sparkContext
        group = f"it{self.n}"
        sc.setJobGroup(group, group)
        cpu0 = self.procstat.tree_cpu_by_kind()
        t0 = time.perf_counter()
        try:
            out = self.wl.iterate(tracer or self.null)
            wall = time.perf_counter() - t0
            cpu1 = self.procstat.tree_cpu_by_kind()
            problems, digest = self.wl.check(out)
        except Exception:  # a failed iteration is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            problems, digest, wall, cpu1 = ["raised"], None, None, None
        finally:
            clear_tracked()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        if problems:
            self.failed += 1
            print(f"[{self.wl.name}] iteration {self.n} FAILED: {problems}", file=sys.stderr)
            return None
        self.digests.add(digest)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        return {"wall": wall, "cpu": sum(cpu.values()), "cpu_kind": cpu, "jobs": jobs}

    def iterations(self, n: int) -> list[dict]:
        """Attempt ``n`` iterations; return the ones that passed."""
        return [r for r in (self.iteration() for _ in range(n)) if r]


def main(argv=None) -> int:
    args = parse_args(argv)
    t_begin = time.perf_counter()
    if not (ROOT / "gstools_core_spark").is_dir():
        print(f"perfbench: no gstools_core_spark package next to {ROOT / 'perfbench'}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    pin_environment(work)

    from perfbench import procstat
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, ProbeCheckFailed

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spark = None
    try:
        starts, warms = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, s, w = start_session(args, cores, work)
            starts.append(s)
            warms.append(w)
        setup_s = statistics.median(a + b for a, b in zip(starts, warms))

        wl = WORKLOADS[args.workload](spark, args.seed, work / "data")
        t_prep = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t_prep
        run = Runner(spark, wl)
        with procstat.RssSampler() as rss:
            warm = run.iterations(WARM_ITERS)
            timed = run.iterations(max(TIMED_MIN_ITERS, round(args.seconds / ITER_BUDGET_S)))
        if not timed:
            print(f"perfbench: no successful timed iteration of {args.workload}", file=sys.stderr)
            return 1
        wall_s = statistics.median(d["wall"] for d in timed)
        metrics = {
            "wall_s": wall_s,
            "rows_per_s": wl.input_rows / wall_s,
            "cpu_s": statistics.median(d["cpu"] for d in timed),
            "setup_s": setup_s,
            "ok_share": 1.0 - run.failed / run.attempted,
        }
        info = {
            "iters": len(timed), "warmup_iters": len(warm), "prepare_s": round(prepare_s, 3),
            "reference_s": round(wl.reference_s, 3),
            "setups": [round(a + b, 3) for a, b in zip(starts, warms)],
            "elapsed_s": round(time.perf_counter() - t_begin, 1),
            "walls": [round(d["wall"], 3) for d in warm + timed],
            "rss_mb": {k: round(v) for k, v in rss.peak_by_kind.items()},
        }
        print(f"[{args.workload} seed={args.seed}] {json.dumps(info)}", file=sys.stderr)

        if args.trace:
            layer = {
                "spark.jobs": statistics.median(d["jobs"] for d in timed),
                "warmup.first_iter_s": (warm or timed)[0]["wall"],
                "warmup.iters": len(warm),
                "session.start_s": statistics.median(starts),
                "session.cold_start_s": starts[0],
                "session.worker_warm_s": statistics.median(warms),
                "cpu.jvm_s": statistics.median(d["cpu_kind"]["jvm"] for d in timed),
                "cpu.pyworkers_s": statistics.median(d["cpu_kind"]["pyworkers"] for d in timed),
                "cpu.driver_s": statistics.median(d["cpu_kind"]["driver"] for d in timed),
                "rss.peak_mb": rss.peak_mb,
                **{f"rss.{k}_mb": v for k, v in rss.peak_by_kind.items()},
            }
            traced = []
            for k in range(TRACE_ITERS):
                tr = Tracer(f"{args.workload}-{args.seed}-trace{k}")
                r = run.iteration(tr)
                if not r:
                    continue
                try:
                    wl.probe(tr)
                except ProbeCheckFailed as e:  # counts like a failed output check
                    run.failed += 1
                    print(f"[{args.workload}] probe FAILED: {e}", file=sys.stderr)
                    continue
                traced.append((r, tr))
            if not traced:
                print("perfbench: every traced iteration failed", file=sys.stderr)
                return 1
            per_iter = [trace_metrics(r, tr, wall_s) for r, tr in traced]
            for name in per_iter[0]:
                layer[name] = statistics.median(m.get(name, 0.0) for m in per_iter)
            for _, tr in traced:
                tr.dump(work.parent / f"trace-{tr.run_id}.json")
            metrics = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
            metrics = {name: metrics[name] for name in units}

        for d in sorted(run.digests):
            print(f"digest {args.workload} seed={args.seed}: {d}")
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            spark.stop()
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: the gateway JVM
    exits when its stdin closes (and takes the Python worker daemon with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def trace_metrics(r: dict, tr, wall_s: float) -> dict:
    """Per-layer numbers of one traced iteration."""
    tot = tr.totals()
    own = tr.self_times()
    c = dict(tr.counters)
    cand = c.get("dedup.candidates", 0.0)
    out = {
        "sources.scan_s": tot.get("sources.scan", 0.0),
        "sources.rows": c.get("sources.rows", 0.0),
        "pair_join.s": tot.get("pair_join", 0.0),
        "pair_join.pairs": c.get("pair_join.pairs", 0.0),
        "variogram.build_s": tot.get("variogram.build", 0.0) + tot.get("variogram_directional.build", 0.0),
        # the pair join runs inside each variogram job; its isolated time is subtracted
        "variogram.self_s": max(0.0, tot.get("variogram.exec", 0.0) - tot.get("pair_join", 0.0)),
        "variogram.pyworkers_cpu_s": tr.cpu("variogram.exec", "pyworkers"),
        "variogram_directional.self_s": max(
            0.0, tot.get("variogram_directional.exec", 0.0) - tot.get("pair_join.planar", 0.0)
        ),
        "krige.build_s": tot.get("krige.build", 0.0),
        "krige.exec_s": tot.get("krige.exec", 0.0),
        "arrow_boundary.s": tot.get("arrow_boundary", 0.0),
        "dedup.signature_s": tot.get("dedup.signature", 0.0),
        "dedup.candidates_s": tot.get("dedup.candidates", 0.0),
        "dedup.verify_s": tot.get("dedup.verify", 0.0),
        "dedup.verify_ratio": c.get("dedup.verified", 0.0) / cand if cand else 0.0,
        "graph.components_s": tot.get("graph.components", 0.0) + tot.get("graph.components.exec", 0.0),
        "rasterize.s": tot.get("rasterize", 0.0),
        "writer.write_s": tot.get("writer.pages", 0.0) + tot.get("writer.tiles", 0.0),
        "checkpoint.metrics_s": tot.get("checkpoint.metrics", 0.0),
        "trace.overhead_s": r["wall"] - wall_s,
        "trace.wall_s": r["wall"],
        "dedup.self_s": own.get("dedup", 0.0),
    }
    for k, v in c.items():
        out.setdefault(k, v)
    return out


if __name__ == "__main__":
    sys.exit(main())

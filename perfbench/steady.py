"""Steadiness check: run every workload in two sets of fresh-process runs
and compare each end-to-end metric against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10            # 2 sets x 10 seeds x each workload
    python3 perfbench/steady.py --runs 5 --sets 1 --workloads pages_pipeline_write

Every set runs seeds 1 .. runs with the workloads interleaved, for
BENCHMARK.json's run_seconds.  Per workload and metric it prints each set's
median and quartiles, the spread (third minus first quartile, over the
median) and, for two sets, how much worse the second median is than the
first.  Every spread, and the size of the set-to-set change in either
direction, must stay within the metric's bound; "steady" means every spread
is below a third of its bound.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def one_run(spec: dict, workload: str, seed: int) -> dict | None:
    cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    took = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        print(f"  {workload} seed {seed}: exit {p.returncode} after {took:.0f}s", flush=True)
        return None
    res = json.loads(lines[-1])
    vals = {k: v["value"] for k, v in res["metrics"].items()}
    info = [ln for ln in p.stderr.splitlines() if ln.startswith(f"[{workload} seed=")]
    print(f"  {workload} seed {seed}: {took:.0f}s correct={res['correct']} "
          + " ".join(f"{k}={v:.4g}" for k, v in vals.items())
          + (f"\n    {info[-1]}" if info else ""), flush=True)
    return {"took_s": took, "correct": res["correct"], "metrics": vals}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10, help="seeds per set")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--workloads", nargs="*", default=names)
    args = p.parse_args(argv)

    results = {w: [[] for _ in range(args.sets)] for w in args.workloads}
    t0 = time.perf_counter()
    for k in range(args.sets):
        print(f"set {k + 1}/{args.sets}", flush=True)
        for i in range(args.runs):
            for w in args.workloads:
                r = one_run(spec, w, i + 1)
                if r:
                    results[w][k].append(r)
    print(f"total {time.perf_counter() - t0:.0f}s for "
          f"{sum(len(s) for w in results.values() for s in w)} runs")

    ok = steady = True
    report = {}
    for w in args.workloads:
        print(f"\n{w}")
        print(f"  {'metric':12s} {'bound':>6s} " + " ".join(
            f"{'set' + str(k + 1) + ' median [q1, q3] spread':>44s}" for k in range(args.sets))
            + "  change")
        report[w] = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [summary([r["metrics"][name] for r in s]) for s in results[w] if s]
            if len(sets) < args.sets:
                ok = False
                continue
            cells = " ".join(
                f"{s['median']:>12.4g} [{s['q1']:.4g}, {s['q3']:.4g}] {s['spread']:6.3f}"
                for s in sets
            )
            change = None
            if len(sets) > 1:
                a, b = sets[0]["median"], sets[-1]["median"]
                worse = (b - a) if m["better"] == "lower" else (a - b)
                change = worse / a if a else 0.0
            spread_ok = all(s["spread"] <= bound for s in sets)
            change_ok = change is None or abs(change) <= bound
            ok &= spread_ok and change_ok
            steady &= all(s["spread"] < bound / 3 for s in sets)
            flag = "" if spread_ok and change_ok else "  OUT OF BOUND"
            print(f"  {name:12s} {bound:6.3f} {cells}"
                  + (f"  {change:+.3f}" if change is not None else "") + flag)
            report[w][name] = {"bound": bound, "sets": sets, "change": change}
        correct = all(r["correct"] for s in results[w] for r in s)
        ok &= correct
        print(f"  all outputs correct: {correct}")
    print(f"\nwithin bounds: {ok}; steady (every spread < bound/3): {steady}")
    out = ROOT / ".perfbench_work" / f"steady-{int(time.time())}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps({"args": vars(args), "report": report, "runs": results}, indent=1))
    print(f"wrote {out.relative_to(ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

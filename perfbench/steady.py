#!/usr/bin/env python3
"""Steadiness evidence for the benchmark.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/evidence/set1.json
    python3 perfbench/steady.py --compare perfbench/evidence/set1.json \
        perfbench/evidence/set2.json
    python3 perfbench/steady.py --seeds 21 --traced perfbench/evidence

The first form runs every workload of BENCHMARK.json once per seed
(workloads interleaved, seed by seed) and records, per end-to-end
metric, the median, the quartiles (statistics.quantiles, n=4) and the
spread (q3 - q1) / median next to the metric's bound. The second form
checks that the second set's medians are no worse than the first's by
more than each bound. The third runs every workload once traced, with
the first seed given, and keeps each run's trace file without its spans
as trace-<workload>.json, next to the run's JSON result.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "bound": bound, "n": len(values)}


def run_once(bench, workload, seed, trace):
    """Runs the benchmark once: (exit code, stdout lines, wall seconds)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return p.returncode, p.stdout.strip().splitlines(), time.time() - t0


def run_set(bench, seeds, workloads):
    runs = {w: [] for w in workloads}
    for seed in seeds:
        for w in workloads:
            code, lines, wall = run_once(bench, w, seed, 0)
            res = json.loads(lines[-1]) if code == 0 and lines else None
            runs[w].append({"seed": seed, "exit": code, "wall_s": round(wall, 1),
                            "figures": lines[-2] if len(lines) > 1 else None,
                            "result": res})
            vals = {k: round(v["value"], 4) for k, v in (res or {"metrics": {}})["metrics"].items()}
            print(f"{w} seed={seed} exit={code} wall={wall:.1f}s {vals}", flush=True)
    return runs


def report(bench, runs):
    out = {}
    for w, rs in runs.items():
        ok = [r["result"] for r in rs if r["result"] and r["result"]["correct"]]
        out[w] = {"runs": len(rs), "correct_runs": len(ok),
                  "wall_s_median": statistics.median(r["wall_s"] for r in rs),
                  "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if len(vals) >= 2:
                out[w]["metrics"][m["name"]] = summarize(vals, m["bound"])
    return out


def compare(bench, a, b):
    lower = {m["name"]: m["better"] == "lower" for m in bench["end_to_end"]}
    bad = 0
    for w in a["summary"]:
        for name, s1 in a["summary"][w]["metrics"].items():
            s2 = b["summary"][w]["metrics"][name]
            worse = (s2["median"] / s1["median"] - 1) if lower[name] \
                else (1 - s2["median"] / s1["median"])
            ok = worse <= s1["bound"]
            bad += not ok
            print(f"{w:9s} {name:12s} median1={s1['median']:.5g} median2={s2['median']:.5g} "
                  f"worse_by={worse:+.3f} bound={s1['bound']} {'ok' if ok else 'FAIL'}")
    return 1 if bad else 0


def traced(bench, workloads, seed, out_dir):
    bad = 0
    for w in workloads:
        code, lines, wall = run_once(bench, w, seed, 1)
        print(f"{w} seed={seed} trace=1 exit={code} wall={wall:.1f}s", flush=True)
        bad += code != 0
        if code != 0:
            continue
        with open(os.path.join(ROOT, ".bench_build", "trace", f"{w}-seed{seed}.json")) as fh:
            doc = json.load(fh)
        del doc["spans"]
        doc["wall_s"] = round(wall, 1)
        doc["result"] = json.loads(lines[-1])
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{w}.json"), "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    ap.add_argument("--traced", metavar="DIR")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        return compare(bench, a, b)
    workloads = [w["name"] for w in bench["workloads"]]
    if args.traced:
        return traced(bench, workloads, seeds_of(args.seeds)[0], args.traced)
    t0 = time.time()
    runs = run_set(bench, seeds_of(args.seeds), workloads)
    summary = report(bench, runs)
    for w, s in summary.items():
        for name, m in s["metrics"].items():
            flag = "ok" if name == "setup_s" or m["spread"] <= m["bound"] else "OVER"
            print(f"{w:9s} {name:12s} median={m['median']:.5g} q1={m['q1']:.5g} "
                  f"q3={m['q3']:.5g} spread={m['spread']:.4f} bound={m['bound']} {flag}")
    doc = {"run_seconds": bench["run_seconds"], "seeds": args.seeds,
           "total_wall_s": round(time.time() - t0, 1),
           "host": {"nproc": os.cpu_count()}, "summary": summary, "runs": runs}
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

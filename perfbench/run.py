#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload validate|snapshot|stream \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark (an sbt build in perfbench/ that depends on the engine build);
later runs reuse the build while the sources are unchanged. Inputs come
from perfbench/gen.py, cached per seed. The engine runs in one JVM;
its outputs are then checked against DuckDB (perfbench/check.py).

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1). The line before it
prints every figure with its sample count, including those that apply to
one workload only. A traced run also writes its spans and per-layer
figures to .bench_build/trace/. Exits 1 when an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Input sizes. The stream's arrival rate is about half the drain
# capacity measured on a 4-vCPU host (see perfbench/NOTES.md).
SPECS = {
    "validate": {"rows": 250_000, "orgs": 14, "files": 16},
    "snapshot": {"rows": 20_000, "orgs": 6, "files": 4},
    "stream": {"rows_per_file": 15_000, "orgs": 14},
}
STREAM_RATE = 1.2  # files per second
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    """Content hash of every input of the build."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, d) for d in ("build.sbt", "project", "src/main")]
    tops += [os.path.join(HERE, d) for d in ("build.sbt", "project", "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine and benchmark; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "build.fingerprint")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) \
            and open(fp_file).read() == fp:
        return open(cp_file).read()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    if os.path.exists(fp_file):
        os.remove(fp_file)
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, check=True, timeout=840)
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return open(cp_file).read()


def inputs(workload, seed, seconds):
    """Generated inputs for one run, cached under a key of the seed, the
    size and the generator's own source."""
    spec = dict(SPECS[workload])
    if workload == "stream":
        spec["files"] = int(seconds * STREAM_RATE) + 9
    with open(gen.__file__, "rb") as fh:
        src = hashlib.sha256(fh.read()).hexdigest()[:12]
    key = hashlib.sha256(json.dumps([workload, seed, spec, src]).encode()).hexdigest()[:16]
    cache = os.path.join(BUILD, "data")
    out = os.path.join(cache, f"{workload}-seed{seed}-{key}")
    gen.generate(out, workload, seed, spec)
    # keep the cache small: the four most recent inputs per workload
    mine = sorted((d for d in os.listdir(cache) if d.startswith(workload + "-")
                   and not d.endswith(".tmp")),
                  key=lambda d: os.path.getmtime(os.path.join(cache, d)))
    for d in mine[:-4]:
        if os.path.join(cache, d) != out:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    os.utime(out)
    return out


def run_jvm(classpath, args, data, work, out, deadline):
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work, "--out", out,
            "--rate", str(STREAM_RATE), "--launch-ms", repr(time.time() * 1e3)]
    env = dict(os.environ, LANG="C.utf8")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("engine run timed out")
        return -1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources next to perfbench/: run from a checkout of the repo")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    try:
        classpath = build()
    except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 1
    deadline = time.time() + RUN_TIMEOUT_S
    data = inputs(args.workload, args.seed, args.seconds)
    work = os.path.join(BUILD, "work", args.workload)
    out = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    code = run_jvm(classpath, args, data, work, out, deadline)
    if code != 0 or not os.path.exists(out):
        log(f"engine run failed (exit {code})")
        return 1
    with open(out) as fh:
        res = json.load(fh)

    if args.workload == "stream":
        checks = check.check_stream(work, res)
    else:
        checks = getattr(check, f"check_{args.workload}")(data, res)
    for name, ok, detail in checks:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + sum(1 for _, ok, _ in checks if not ok)
    correct = failed == 0

    if args.trace:
        # a layer that does no work on this workload reports 0
        metrics = {m["name"]: {"value": float(res["per_layer"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in bench["per_layer"]}
    else:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in res["metrics"]]
        if missing:
            log(f"metrics missing from the engine run: {missing}")
            return 1
        metrics = {m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    figures = dict(res["metrics"], **res["extra"])
    figures["error_rate"] = failed / attempted
    if args.workload == "stream":
        figures["lineage_src_files_mismatch"] = check.lineage_src_mismatch(res)
    print("figures " + " ".join(
        f"{k}={v:.6g}(n={res['samples'].get(k, 1)})" for k, v in figures.items()))
    if args.trace:
        trace_dir = os.path.join(BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            counts = {}
            for s in res["spans"]:
                counts[s["name"]] = counts.get(s["name"], 0) + 1
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds,
                       "tracing_overhead_ratio": res["per_layer"]["trace.overhead_ratio"],
                       "per_layer": res["per_layer"], "figures": figures,
                       "span_counts": counts, "spans": res["spans"]}, fh)
        log(f"trace written to {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

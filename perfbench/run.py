#!/usr/bin/env python3
"""Benchmark of the graft engine: two workloads through its public API.

    python3 perfbench/run.py --workload dedup|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the harness together
with the engine's sources (sbt, offline); later runs reuse the build until
a source file changes. Each run generates its inputs from the seed, starts
one JVM on local[nproc] with one client thread, repeats set-up three
times, measures passes for S seconds, checks every output outside the
timed region, and prints one JSON line last: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. A failed check exits 1.
Work files go to perfbench/out/<workload>/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(HERE, "out", "build")
JVM_OPTS = [
    "-Xmx1536m", "-XX:+UseG1GC",
    # C1 only: the engine generates new classes every pass, and C2's
    # compile backlog then makes each pass's time depend on when the
    # compiler gets to them (see README.md, "JIT")
    "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
    # every compiler thread lives from start to exit, so Jvm.appCpuMs can
    # leave their CPU time out
    "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg: str, code: int = 2) -> None:
    log(msg)
    sys.exit(code)


# ------------------------------------------------------------------ build ---

def source_stamp() -> str:
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{SRC}/**/*.scala", recursive=True) +
                   glob.glob(f"{HERE}/src/**/*.scala", recursive=True) +
                   [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build() -> str:
    """Compile (offline) when the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = f"{BUILD}/classpath.txt", f"{BUILD}/stamp.txt"
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building harness + engine sources (sbt, offline)")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines()
             if "perfbench" in ln and ":" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- metrics ---

def end_to_end(res: dict, gen_s: float) -> tuple:
    """The end-to-end metrics, and the wall-clock figures logged beside
    them. Times of work are application CPU time (all of the JVM's threads
    but the JIT compilers; see Jvm.appCpuMs): on a shared host, wall time
    follows the host's load more than the program's work."""
    # a failed operation has no sample: it counts beyond every limit,
    # scored as the whole measuring window
    miss = [res["measured_ms"]] * res["failed"]
    miss_cpu = [res["measured_cpu_ms"]] * res["failed"]
    units = res["units"]
    write_cpu = sum(res["cpu_ms"]) + sum(miss_cpu)
    m = {
        "setup_s": gen_s + res["session_s"] +
        statistics.median(res["setup_reps_s"]) + res["warmup_s"],
        "cpu_ms_per_doc": write_cpu / units if units else write_cpu,
        "read_mix_cpu_ms": statistics.median(res["read_mix_cpu_ms"] +
                                             miss_cpu),
        "live_heap_mb": res["live_heap_mb"],
    }
    ops = (res["trigger_ms"] if res["workload"] == "ingest"
           else res["lat_ms"]) + miss
    wall = {"latency_p50_ms": statistics.median(ops),
            "ops_per_s": units / (sum(res["lat_ms"]) / 1000.0)
            if units else 0.0,
            "read_p50_ms": statistics.median(res["read_ms"] + miss)}
    detail = {"wall": wall, "write_cpu_ms": res["cpu_ms"],
              "read_mix_cpu_ms": res["read_mix_cpu_ms"],
              "passes": res["passes"],
              "setup_reps_s": res["setup_reps_s"],
              "warmup_s": res["warmup_s"], "gen_s": gen_s,
              "session_s": res["session_s"],
              "peak_rss_mb": res["peak_rss_mb"]}
    return m, detail


# ------------------------------------------------------------------- main ---

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(SRC) or not os.path.exists(spec_path):
        fail(f"engine sources not found at {SRC}: run from a full checkout")
    spec = json.load(open(spec_path))

    cp = build()
    work = os.path.join(HERE, "out", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data, jout = f"{work}/data", f"{work}/jvm"
    os.makedirs(f"{jout}/tmp", exist_ok=True)

    t = time.time()
    inputs = gen.GENERATORS[args.workload](f"{data}/{args.workload}",
                                           args.seed)
    gen_s = time.time() - t
    log(f"inputs: {json.dumps(inputs)}")

    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={jout}/tmp", f"-Dderby.system.home={jout}",
        "-cp", cp, "perfbench.Main", "--workload", args.workload,
        "--data", data, "--out", jout, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--seed", str(args.seed)]
    budget = max(10.0, 170.0 - (time.time() - t_start))
    with open(f"{work}/jvm.log", "w") as jvm_log:
        proc = subprocess.Popen(cmd, cwd=jout, stdout=subprocess.DEVNULL,
                                stderr=jvm_log)
        try:
            rc = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded {budget:.0f} s; log: {work}/jvm.log", 1)
    if rc != 0:
        sys.stderr.write(open(f"{work}/jvm.log").read()[-3000:])
        fail(f"JVM exited with {rc}", 1)
    res = json.load(open(f"{jout}/result.json"))
    log(f"JVM done at {time.time() - t_start:.1f} s")

    problems, recall, facts = checks.CHECKS[args.workload](data, jout)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    log(f"checks done at {time.time() - t_start:.1f} s")
    m, detail = end_to_end(res, gen_s)
    m["recall"] = recall
    detail.update(facts)
    log(f"detail: {json.dumps(detail)}")

    if args.trace:
        pl = res["per_layer"]
        table = res["layer_table"]
        log("per-layer table (per traced pass):")
        for name in sorted(table, key=lambda k: -table[k].get("self_ms", 0)):
            row = table[name]
            log("  " + f"{name:34s} " + " ".join(
                f"{k}={v:.1f}" for k, v in row.items()))
        log(f"tracing overhead: {pl['trace.overhead_pct']:.1f}% of pass wall; "
            f"uncovered by layer spans: {pl['trace.uncovered_ms']:.1f} ms "
            f"of {pl['trace.pass_ms']:.1f} ms per pass")
        with open(f"{work}/layers.json", "w") as f:
            json.dump({"seed": args.seed, "nproc": res["cores"],
                       "workload": args.workload, "per_layer": pl,
                       "layer_table": table, "pass_ms": res["pass_ms"]},
                      f, indent=1)
        metrics = {x["name"]: {"value": float(pl[x["name"]]),
                               "unit": x["unit"]} for x in spec["per_layer"]}
    else:
        metrics = {x["name"]: {"value": float(m[x["name"]]),
                               "unit": x["unit"]} for x in spec["end_to_end"]}
    print(json.dumps({"correct": not problems,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

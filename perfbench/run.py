#!/usr/bin/env python3
"""Benchmark entry point: build, generate inputs, run one workload, verify.

    python3 perfbench/run.py --workload ingest|query \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine plus the workload drivers (sbt, offline) into `.bench_build/`;
later runs reuse the classpath while the sources are unchanged. Inputs
are generated from --seed (gen.py). The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"}; --trace 0 reports
the end-to-end metrics, --trace 1 the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout clean
import gen  # noqa: E402

WORKLOADS = ("ingest", "query")
# generated input sizes per workload (gen.generate arguments)
SIZES = {
    "ingest": dict(scale=1.0, tpch_start="2020-01-02"),
    "query": dict(scale=1.0),
}
BUILD_DIR = os.path.join(ROOT, ".bench_build")
RUN_LIMIT_S = 175
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "").split()
    opts += ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and not any("sbt.repository.config" in o for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile once per source state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("run from a checkout of the engine: build.sbt and src/main/scala/graft are missing")
    bd = BUILD_DIR
    # one marker, naming the sources of the classes in sbt's target dir:
    # a marker per source state would return stale classes after a revert
    marker, key = os.path.join(bd, "classpath.txt"), source_hash()
    if os.path.exists(marker):
        built, _, cp = open(marker).read().partition("\n")
        if built == key:
            return cp.strip()
    os.makedirs(bd, exist_ok=True)
    log = os.path.join(bd, "build.log")
    t0 = time.time()
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=850)
        fh.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (rc={p.returncode}); see {log}")
    with open(marker, "w") as fh:
        fh.write(key + "\n" + lines[-1].strip())
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def describe(xs):
    """Distribution of timing samples, with the percentile rule."""
    if not xs:
        return "n=0"
    s = sorted(xs)
    p90 = (f"{s[min(len(s) - 1, -(-9 * len(s) // 10) - 1)]:.4f}" if len(s) >= 100
           else "n/a (needs >= 100 samples)")
    raw = f" [{', '.join(f'{x:.3f}' for x in xs)}]" if len(xs) <= 12 else ""
    return f"n={len(s)} p50={statistics.median(s):.4f} p90={p90} max={s[-1]:.4f}{raw}"


def oracle_check(data, out_dir):
    """Hash-compare the query results with the DuckDB oracle."""
    tool = os.path.join(ROOT, "tools", "check_correctness.py")
    p = subprocess.run([sys.executable, tool, data, out_dir], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=120)
    lines = p.stdout.splitlines()
    passed = [ln[len("PASS "):] for ln in lines if ln.startswith("PASS ")]
    bad = [ln for ln in lines if ln.startswith(("FAIL ", "ERROR "))]
    return p.returncode == 0 and not bad and len(passed) > 0, passed, bad


def run_one(args, cp, t_start):
    work = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(os.path.join(BUILD_DIR, "runs"), ignore_errors=True)
    data, out_dir = os.path.join(work, "data"), os.path.join(work, "out")
    for d in (data, out_dir, os.path.join(work, "tmp")):
        os.makedirs(d)
    t0 = time.time()
    if args.inputs:
        data = os.path.abspath(args.inputs)
    else:
        gen.generate(data, args.seed, **SIZES[args.workload])
    t_gen = time.time() - t0
    result_file = os.path.join(work, "result.json")
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work}/derby.log",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", work, "--out", result_file, "--out-dir", out_dir,
              "--cores", str(args.cores), "--parallelism", str(args.parallelism),
              "--jdbc-partitions", str(args.jdbc_partitions)])
    log = os.path.join(work, "jvm.log")
    budget = max(30, RUN_LIMIT_S - (time.time() - t_start))
    t0 = time.time()
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=budget)
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(result_file):
        tail = open(log).read()[-3000:]
        die(f"workload JVM ended with {rc}; log tail:\n{tail}", 1)
    res = json.load(open(result_file))
    t_jvm = time.time() - t0
    t0 = time.time()
    if args.workload == "query":
        ok, passed, bad = oracle_check(data, out_dir)
        res["checks"].append({"name": "DuckDB oracle hash match", "ok": ok,
                              "detail": f"{len(passed)} PASS: " + ", ".join(passed)
                              + "".join("; " + b for b in bad)})
        res["failed"] += len(bad)
    print(f"[perfbench] inputs {t_gen:.1f} s, workload JVM {t_jvm:.1f} s, "
          f"oracle {time.time() - t0:.1f} s", file=sys.stderr)
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)
    return res


def per_layer_names():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return [(m["name"], m["unit"]) for m in spec["per_layer"]]


def end_to_end_names():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return [(m["name"], m["unit"]) for m in spec["end_to_end"]]


def report(args, res):
    w = args.workload
    print(f"== {w} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={args.cores} parallelism={args.parallelism} jdbc_partitions={args.jdbc_partitions}")
    for k, m in res["metrics"].items():
        print(f"  {k:<24} {fmt(m['value']):>12} {m['unit']:<8} n={m['n']}")
    for k, m in res["named"].items():
        print(f"  {k:<32} {fmt(m['value']):>12} {m['unit']:<10} n={m['n']}")
    for k, xs in res["samples"].items():
        print(f"  samples {k}: {describe(xs)}")
    for c in res["checks"]:
        print(f"  check {'PASS' if c['ok'] else 'FAIL'}: {c['name']} ({c['detail']})")
    if res.get("error"):
        print(f"  error: {res['error']}")
    for k, v in sorted(res["layer"].items()):
        print(f"  layer {w}.{k} = {fmt(v)}")
    correct = (not res.get("error")) and res["failed"] == 0 and all(
        c["ok"] for c in res["checks"])
    print(f"  verdict: {'CORRECT' if correct else 'INCORRECT'} "
          f"(attempted={res['attempted']} failed={res['failed']})")
    names = per_layer_names() if args.trace else end_to_end_names()
    src = res["layer"] if args.trace else {k: m["value"] for k, m in res["metrics"].items()}
    metrics = {n: {"value": src.get(n, 0.0), "unit": u} for n, u in names}
    missing = [n for n, _ in names if n not in src and not args.trace]
    if missing:
        correct = False
        print(f"  missing metrics: {missing}")
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))
    return correct


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    nproc = os.cpu_count() or 1
    ap.add_argument("--cores", type=int, default=nproc)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument("--jdbc-partitions", type=int, default=None)
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    ap.add_argument("--inputs", help="read the tables from this directory instead of "
                    "generating them (to compare generated inputs with other data)")
    args = ap.parse_args()
    args.parallelism = args.parallelism or args.cores
    args.jdbc_partitions = args.jdbc_partitions or args.cores
    # the load bound: one process on local[<= nproc]; fan-outs <= cores
    if not 1 <= args.cores <= nproc:
        die(f"--cores {args.cores} is above this host's {nproc} cores")
    for k in ("parallelism", "jdbc_partitions"):
        if not 1 <= getattr(args, k) <= args.cores:
            die(f"--{k.replace('_', '-')} {getattr(args, k)} must be in 1..{args.cores}")
    cp = classpath()
    report(args, run_one(args, cp, time.time()))


if __name__ == "__main__":
    main()

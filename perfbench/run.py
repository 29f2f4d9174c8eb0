#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest|tpch|index --seed N \
        --seconds S --trace 0|1

Builds the program from source together with the harness (once per
source state; outputs under .bench_build/ and the sbt target dirs), runs
the workload in one JVM, checks the program's outputs, prints every
metric as `name = value unit`, and prints one JSON object as the last
line. Exits non-zero, without a result, when the checkout holds no
program, and non-zero, after the result, when an output check fails.

Environment: SPARK_GRAFT_SF_DIR names the sf0.1 table directory (default:
the program's bench data, ~/testdata/sf0.1; see TESTDATA.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BUDGET_S = 175  # a run must end within 180 s once the build exists

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list
# as the program's build.sbt).
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
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    with open(os.path.join(BUILD, "build.log"), "w") as f:
        f.write(out.stdout)
    lines = [l for l in out.stdout.splitlines() if l.startswith(os.sep)]
    if out.returncode != 0 or not lines:
        sys.exit(f"perfbench: build failed, see {BUILD}/build.log")
    log(f"built in {time.time() - t0:.1f} s")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, data, work, deadline):
    """Run the harness in its own process group; kill the group on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work])
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit("perfbench: workload timed out")
    if p.returncode != 0:
        sys.exit(f"perfbench: harness exited {p.returncode}, see {work}/jvm.log")


def tpch_oracle(data, results):
    """Compare each query's result with its DuckDB oracle through the
    program's own oracle tool. Returns failures."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "compare.py"), data, results],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    for l in out.stdout.splitlines():
        if l.startswith("WARN"):
            log(f"tpch oracle: {l}")
    if out.returncode == 0:
        return []
    return [f"tpch: {l}" for l in out.stdout.splitlines()
            if l.startswith("FAIL")] or [f"tpch: oracle tool exited {out.returncode}"]


def read_trend(trace_dir):
    """Files read and latency of the reads in each stretch between two
    `optimize` ops, first quarter against last quarter: on `ingest` both
    rise as appends pile up and fall after each optimize."""
    with open(os.path.join(trace_dir, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f]
    stretches, cur = [], []
    for o in ops:
        if o["name"].endswith("optimize"):
            stretches.append(cur)
            cur = []
        elif not o["write"] and "files_read" in o["work"]:
            cur.append(o)
    stretches.append(cur)
    lines = []
    for i, rs in enumerate(stretches):
        q = max(1, len(rs) // 4)
        if len(rs) < 2:
            continue
        first, last = rs[:q], rs[-q:]
        mean = lambda xs, f: sum(map(f, xs)) / len(xs)
        lines.append(
            f"read_trend stretch {i}: {len(rs)} reads, files_read "
            f"{mean(first, lambda o: o['work']['files_read']):.1f} -> "
            f"{mean(last, lambda o: o['work']['files_read']):.1f}, seconds "
            f"{mean(first, lambda o: o['seconds']):.3f} -> {mean(last, lambda o: o['seconds']):.3f}")
    return lines


def metric_lines(title, ms):
    return [f"{title} {n} = {m['value']} {m['unit']}" for n, m in ms.items()]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "tpch", "index"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("run from the root of a checkout of the program")
        return 2
    data = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        log(f"no sf0.1 tables under {data}; set SPARK_GRAFT_SF_DIR")
        return 2

    cp = build()
    t0 = time.time()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_jvm(cp, args, data, work, t0 + BUDGET_S - 10)
    with open(os.path.join(work, "result.json")) as f:
        r = json.load(f)
    checks = list(r["checks"])
    if args.workload == "tpch":
        checks += tpch_oracle(data, os.path.join(work, "tpch-results"))
    for c in checks:
        log(f"CHECK FAILED {c}")

    lines = metric_lines("end_to_end", r["e2e"]) + [
        f"info {k} = {v}" for k, v in sorted(r["info"].items())]
    metrics = r["e2e"]
    hist = os.path.join(BUILD, "history.jsonl")
    if args.trace:
        metrics = r["layers"]
        lines += metric_lines("per_layer", metrics)
        untraced = None
        if os.path.exists(hist):
            with open(hist) as f:
                past = [json.loads(l) for l in f]
            same = [h for h in past if h["workload"] == args.workload and h["trace"] == 0]
            exact = [h for h in same if h["seed"] == args.seed]
            untraced = (exact or same or [None])[-1]
        if untraced:
            for n, m in r["e2e"].items():
                base = untraced["e2e"][n]["value"]
                if base:
                    lines.append(f"trace_overhead {n} = "
                                 f"{100 * (m['value'] / base - 1):+.1f} % "
                                 f"(traced {m['value']:.4g} vs untraced {base:.4g}, seed {untraced['seed']})")
        else:
            lines.append("trace_overhead unavailable: run the same workload with --trace 0 first")
        lines += read_trend(os.path.join(work, "trace"))
    with open(hist, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "e2e": r["e2e"]}) + "\n")
    keep = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    shutil.copytree(work, keep, ignore=shutil.ignore_patterns(
        "tmp", "spark-local", "*-inputs", "*-table", "index-*", "tpch-results"))

    for l in lines:
        print(l)
    print(json.dumps({"correct": not checks, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    return 0 if not checks else 1


if __name__ == "__main__":
    sys.exit(main())

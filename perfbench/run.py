#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (``perfbench/build.sbt``, sbt offline) and generates the input
tables; later runs reuse both. Each run runs the workload in
``bench.FORKS`` JVMs in turn (forks), each with a fresh Spark session
and its own scratch directory (see ``bench.py`` and the Scala harness).
Then this script checks every fork's outputs and prints one JSON line:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones; ``--trace 1`` runs the same workload with
Spark listeners registered and reports the per-layer ones. Details
(per-query times, failures with exception class and message, spans) go to
``.bench_build/results/``.

Build outputs, data and scratch space all live under ``.bench_build/``
(plus sbt's ``target`` directories).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
import datagen  # noqa: E402

BUILD = ".bench_build"
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd="perfbench", env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=800)
    log_lines = proc.stdout.splitlines()
    with open(log_path, "a") as log:
        log.write(proc.stdout)
    cps = [ln for ln in log_lines if ln.startswith("/") and os.pathsep in ln]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}), see {log_path}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1]


def tables(sf):
    path = os.path.join(BUILD, "data", f"tables-sf{sf}")
    done = os.path.join(path, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        datagen.write_tables(path, sf)
        open(done, "w").close()
    return os.path.abspath(path)


def java_cmd(cp, tmp):
    """The JVM command line: Spark on JDK 17 needs the module opens that
    spark-submit would otherwise add."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    return [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp]


def run_harness(cp, workload, work, trace, extra, deadline):
    out = os.path.join(work, "harness.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(cp, tmp) + [
        "perfbench.Harness", "--workload", workload, "--work", work,
        "--trace", str(trace), "--out", out] + extra
    with open(os.path.join(work, "harness.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out, see {work}/harness.log")
    if code != 0 or not os.path.exists(out):
        fail(f"harness exited with {code}, see {work}/harness.log")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=bench.workloads())
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isfile("src/main/scala/graft/SparkEntry.scala")):
        fail("run from the root of the engine's repository (build.sbt and src/main not found)")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.abspath(os.path.join(BUILD, "run", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "bpi_landing":
        bpi_dir = os.path.join(work, "bpi")
        plan = datagen.write_bpi(bpi_dir, args.seed, bench.bpi_phases(args.seconds),
                                 bench.BPI_RATE_PER_S)
        expected = [{"name": n, "phase": ph, "row": row} for ph, n, _, _, row in plan]
        extra = ["--bpi", bpi_dir]
    else:
        queries = os.path.join(work, "queries.txt")
        with open(queries, "w") as f:
            f.write("\n".join(bench.query_order(args.seed)) + "\n")
        extra = ["--queries", queries, "--data", tables(bench.TABLES_SF)]
    out = []
    for i in range(1, bench.FORKS + 1):
        fork_work = os.path.join(work, f"fork{i}")
        os.makedirs(fork_work)
        out.append(run_harness(cp, args.workload, fork_work, args.trace, extra, deadline))

    if args.workload == "bpi_landing":
        attempted, failures, stored = 0, [], []
        for i, o in enumerate(out, 1):
            a, f, s = bench.check_bpi(expected, bench.read_warehouse(o["warehouse"]))
            attempted += a
            failures += [dict(x, fork=i) for x in f]
            stored.append(s)
        e2e = bench.bpi_metrics(out, expected, stored)
        per_fork = [bench.bpi_layers(o, expected, s) for o, s in zip(out, stored)]
    else:
        attempted, failures = bench.check_queries([p for o in out for p in o["passes"]],
                                                  bench.load_expected())
        e2e = bench.query_metrics(out)
        per_fork = [bench.query_layers(o) for o in out]

    layers = bench.over_forks(per_fork, e2e) if args.trace else {}
    if args.trace:
        layers["traced.warm_s"] = e2e["warm_s"]
        layers["traced.latency_p50_ms"] = e2e["latency_p50_ms"]
        metrics = {k: {"value": layers[k], "unit": bench.layer_unit(k)} for k in bench.PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": bench.UNITS[k]} for k in bench.END_TO_END}

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    detail = os.path.join(BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail, "w") as f:
        json.dump({"failures": failures, "end_to_end": e2e, "layers": layers, "harness": out}, f)
    for x in failures[:20]:
        print("FAILED " + json.dumps(x))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one command, run from the root of a checkout.

    python3 perfbench/run.py --workload convert_files --seed 1 \\
        --seconds 15 --trace 0

Builds the engine and the harness from source (once per source state,
under .bench_build/), generates the workload's inputs from the seed,
runs the harness JVM (one process, local[nproc], one closed-loop
client), checks every output, and prints the metrics. The last stdout
line is one JSON object: correct, attempted, failed, metrics. --trace 0
prints the end-to-end metrics; --trace 1 runs the traced variant and
prints the per-layer metrics. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("convert_files", "convert_bulk", "query_mix")
TABLE_SCALE = 0.2        # 12,000 lineitem rows
SETUP_REPS = {"convert_files": 3, "convert_bulk": 3, "query_mix": 1}
JVM_TIMEOUT = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_key(checkout):
    """Hash of every file the build reads, to reuse an earlier build."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(checkout, r)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(b, f) for b, ds, fs in os.walk(p)
            for f in fs if "target" not in b.split(os.sep))
        for f in paths:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(checkout, work):
    """sbt build of engine + harness; returns the runtime classpath."""
    key = source_key(checkout)
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["key"] == key:
            return cached["classpath"]
    log("building engine and harness (sbt)")
    t0 = time.time()
    env = dict(os.environ)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false -Xmx2g").strip()
    with open(os.path.join(work, "build.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspathAsJars"],
            cwd=os.path.join(checkout, "perfbench"), env=env,
            stdout=subprocess.PIPE, stderr=logf, text=True, timeout=840)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {work}/build.log)")
    with open(cp_file, "w") as f:
        json.dump({"key": key, "classpath": lines[-1]}, f)
    log(f"built in {time.time() - t0:.0f}s")
    return lines[-1]


def run_jvm(cp, args, run_dir):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graftbench.Main"] + args)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    env.pop("SPARK_GRAFT_NO_EXTENSIONS", None)
    with open(f"{run_dir}/jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"harness JVM timed out (log: {run_dir}/jvm.log)")
    if rc != 0:
        with open(f"{run_dir}/jvm.log") as f:
            lines = f.read().splitlines()
        log("\n".join([l for l in lines if "Exception" in l][:10] + lines[-5:]))
        raise SystemExit(f"harness JVM exited {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    checkout = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(checkout, need)):
            raise SystemExit(f"no engine sources here ({need} missing); "
                             "run from the root of a graft checkout")
    work = os.path.join(checkout, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp = build(checkout, work)

    import checks
    import tablegen
    import wodgen

    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.time()
        manifest = wodgen.generate(a.workload, a.seed,
                                   os.path.join(run_dir, "wod"))
        if a.workload == "query_mix":
            tablegen.generate(os.path.join(run_dir, "tables"), a.seed,
                              TABLE_SCALE)
        log(f"inputs generated in {time.time() - t0:.1f}s: "
            f"{len(manifest['files'])} files, {manifest['valid']} valid casts, "
            f"{manifest['errors']} error casts, {manifest['ascii_bytes']} "
            f"ASCII bytes, {manifest['gz_bytes']} gz bytes")
        spans = os.path.join(work, "traces", f"{a.workload}-{a.seed}.jsonl")
        run_jvm(cp, ["--workload", a.workload, "--dir", run_dir,
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--seed", str(a.seed),
                     "--setup-reps", str(SETUP_REPS[a.workload]),
                     "--spans", spans], run_dir)
        with open(os.path.join(run_dir, "jvm_result.json")) as f:
            r = json.load(f)
        shutil.copy(os.path.join(run_dir, "jvm_result.json"),
                    os.path.join(work, "last_result.json"))

        problems = list(r["problems"])
        failed = r["failed"]
        if a.workload == "query_mix":
            bad = checks.check_oracle(os.path.join(run_dir, "tables"),
                                      r["oracle_dir"], r["oracle_sql"])
            problems += [f"{q}: {p}" for q, p in sorted(bad.items())]
            # every timed action of a query with a wrong result failed
            failed = min(r["attempted"], failed + sum(
                r["action_counts"].get(q, 0) for q in bad))
        else:
            found, lost = checks.check_conversion(
                r["output"], manifest, a.workload == "convert_bulk")
            problems += found
            if any(f["truncated"] for f in manifest["files"]):
                log(f"truncated member: {lost} complete casts before the cut "
                    "were dropped without an error row")
            if problems and not failed:
                failed = 1
        correct = not problems
        for p in problems:
            log(f"CHECK FAILED: {p}")

        e2e = r["e2e"]
        summary = dict(e2e, failed_frac=failed / r["attempted"])
        log(f"{a.workload} seed {a.seed}: {r['attempted']} timed actions in "
            f"{r['passes']} passes, set-ups {r['setups']}; " +
            ", ".join(f"{k}={v:.6g}" for k, v in summary.items()))
        with open(os.path.join(checkout, "BENCHMARK.json")) as f:
            spec = json.load(f)
        if a.trace:
            values = r["layers"]
            print(json.dumps({"per_action": r["per_action"]}))
        else:
            values = e2e
            print(json.dumps({"failed_frac": summary["failed_frac"]}))
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer" if a.trace else "end_to_end"]}
        bad = [k for k, v in metrics.items()
               if not isinstance(v["value"], (int, float))
               or not math.isfinite(v["value"])]
        if bad:
            raise SystemExit(f"metrics without a finite value: {bad}")
        print(json.dumps({"correct": correct, "attempted": r["attempted"],
                          "failed": failed, "metrics": metrics}))
    finally:
        if os.path.exists(f"{run_dir}/jvm.log"):
            shutil.copy(f"{run_dir}/jvm.log", f"{work}/last_jvm.log")
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

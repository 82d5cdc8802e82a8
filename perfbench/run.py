#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source with the Scala compiler
among the Spark jars, writes the sf0.1 input tables once
(perfbench/gen_data.py), runs the workload in one engine JVM
(perfbench.Main), checks every output, and prints as its last stdout line
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is the full report: every metric the
workload measures, with units and sample counts, the seed and the box.
Build output, data and per-run files stay under perfbench/ (git-ignored).
The exit code is non-zero when any operation failed or any output was
wrong.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave no __pycache__ beside the imported modules
sys.path.insert(0, HERE)
import gen_data  # noqa: E402

WORKLOADS = ("pipeline", "serving")
HEAP = "3g"
JVM_TIMEOUT_S = 165

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """The Spark jar directory the engine compiles against: the engine
    build's own `unmanagedBase`, so the two builds never disagree on jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("the engine's build.sbt names no Spark jar directory", 3)
    return sorted(glob.glob(os.path.join(m.group(1), "*.jar")))


def sources(root):
    return sorted(os.path.join(d, f)
                  for base in (os.path.join(root, "src", "main", "scala"),
                               os.path.join(HERE, "src", "main", "scala"))
                  for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))


def build(root):
    """Compile the engine and the harness (when a source changed) and return
    the runtime classpath.

    The Scala compiler is the one that ships among the Spark jars, run
    directly: no build tool, no dependency resolution, and nothing written
    outside perfbench/target."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    classes = os.path.join(HERE, "target", "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([classes] + jars)
    if os.path.isdir(classes):
        return classpath
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    if len(compiler) != 3:
        fail("no Scala compiler among the Spark jars", 3)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
            "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars)]
           + srcs)
    t0 = time.time()
    r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-8000:], file=sys.stderr)
        fail(f"compile failed ({r.returncode})", 3)
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.0f} s",
          file=sys.stderr)
    return classpath


def git_head(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, classpath, data, work):
    out = os.path.join(work, "report.json")
    log = os.path.join(work, "engine.log")
    cmd = (["java"] + ADD_OPENS +
           # a fixed heap: with a growable one, how far G1 grows it (and so
           # how often it pauses) differed from run to run and moved
           # throughput and peak RSS by 20-30 %
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--work", work, "--out", out])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=lf, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        # the engine's process group includes the load generator: make sure
        # nothing outlives the run, whatever way the engine ended
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        print(tail, file=sys.stderr)
        fail(f"engine run failed ({code})", 1)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail("run from the repository root: the engine sources are not here")

    import oracle  # needs the repository's tools/check.py, so only here

    classpath = build(root)
    data = os.path.join(HERE, "work", "data-sf0.1")
    gen_data.write(data)
    work = os.path.join(HERE, "work", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    rep = run_jvm(args, classpath, data, work)
    checked = len(rep["oracle"])
    mismatches = oracle.check(data, rep["oracle"], os.path.join(data, "oracle"))
    failures = rep["failures"] + [f"{m}: differs from its DuckDB oracle" for m in mismatches]
    attempted = rep["attempted"]
    failed = rep["failed"] + len(mismatches)
    metrics = rep["metrics"]
    metrics["fail_ratio"] = {"value": failed / attempted, "unit": "ratio", "n": attempted}

    full = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "box": dict(rep["box"], git_head=git_head(root)),
            "metrics": metrics, "layers": rep.get("layers", {}),
            "sizes": rep.get("sizes", {}), "builds": rep.get("builds", {}),
            "ops": rep.get("ops", []), "passes": rep.get("passes", []),
            "oracle_checked": checked, "failures": failures[:40],
            "wall_s": round(time.time() - t0, 3)}
    print(json.dumps(full, sort_keys=True))
    with open(os.path.join(work, "full_report.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    # the result carries exactly the metrics BENCHMARK.json names: every
    # end-to-end metric is measured on every workload; a per-layer metric
    # of a layer the workload does not exercise reads 0
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        values = dict({k: m["value"] for k, m in metrics.items()}, **full["layers"])
        out = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec["per_layer"]}
    else:
        out = {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
               for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()

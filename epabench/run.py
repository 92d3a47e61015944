#!/usr/bin/env python3
"""EPA pipeline benchmark: one run of one workload.

    python3 epabench/run.py --workload epa_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
benchmark program from the checkout's sources (sbt, offline), generates the
workload's inputs from --seed, runs the benchmark JVM, checks the outputs
and prints every metric by name and unit. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}, with the
end-to-end metrics of BENCHMARK.json for --trace 0 and its per-layer
metrics for --trace 1. See epabench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "epabench-classpath.txt")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
JVM_HEAP = "3g"
DEADLINE_S = 175
WORKLOADS = ["epa_batch", "lake_refresh"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"epabench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "**", "*"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark program; reuse the build while sources are unchanged."""
    digest = sources_hash()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    # offline, from the local caches, like the repository's own test command
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        env["SBT_OPTS"] = "-Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "package",
                            "export Runtime/fullClasspath"], env=env,
                           cwd=BENCH, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if "epabench" in l and ".jar" in l
               and not l.startswith("[")), None)
    if r.returncode != 0 or cp is None:
        fail(f"build failed, see {log}")
    record_archive(cp)
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def record_archive(cp):
    """Class-data sharing: set lake_refresh up once on seed-0 inputs and
    record the classes it loads (ingest, Pyramid, Q01-Q10 and graftlake),
    so that every measured run of either workload maps them instead of
    loading them again. One archive keeps the build short; epa_batch
    loads its few other classes (partitioned writes, Derby) from the jars."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    import gen
    work = os.path.join(TARGET, "train")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate("lake_refresh", os.path.join(work, "input"), 0)
    proc = subprocess.Popen(
        jvm_command(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}", work)
        + ["--workload", "lake_refresh", "--seconds", "0", "--trace", "0",
           "--setup-only", "1", "--result", os.path.join(work, "result.json")],
        cwd=work, env=jvm_env(work), stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    code = wait(proc, 300)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(ARCHIVE):
        fail("recording the class archive failed")


def jvm_command(cp, cds, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", cds, f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "epabench.Main", "--input", os.path.join(work, "input"),
                  "--work", os.path.join(work, "jvm")]


def jvm_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def wait(proc, budget_s):
    """The JVM's exit code, or None if it overran `budget_s`; never
    leaves it behind, also when this script is killed."""
    try:
        return proc.wait(timeout=max(10, budget_s))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(cp, args, work, budget_s):
    result = os.path.join(work, "result.json")
    cmd = jvm_command(cp, f"-XX:SharedArchiveFile={ARCHIVE}", work) + [
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--result", result]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=jvm_env(work), stdout=log,
                                stderr=subprocess.STDOUT)
        code = wait(proc, budget_s)
    if code is None:
        fail(f"benchmark JVM overran its time budget, see {work}/jvm.log")
    if code != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {code}, see {work}/jvm.log")
    with open(result) as f:
        return json.load(f)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build takes Spark's jars from it")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    bench = load_benchmark()

    sys.path.insert(0, BENCH)
    import gen
    cp = build()
    t_built = time.time()
    runs = os.path.join(TARGET, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{args.trace}")
    os.makedirs(work)
    t0 = time.time()
    manifest = gen.generate(args.workload, os.path.join(work, "input"), args.seed)
    gen_s = time.time() - t0

    budget = DEADLINE_S - (time.time() - t_built) - 10
    res = run_jvm(cp, args, work, budget)

    problems = list(res.get("problems", []))
    digest = res.get("digest", "")
    if args.workload == "epa_batch":
        import check
        layer_problems, layer_digest = check.check_batch(
            os.path.join(work, "input"), os.path.join(work, "jvm", "batch", "out"))
        problems += layer_problems
        digest = f"{digest}/{layer_digest}"
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    correct = not problems and failed == 0
    if not correct:
        failed = attempted

    # human-readable report: every metric by name and unit
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"trace {args.trace}")
    print(f"input generation: {gen_s:.3f} s (not a program metric); "
          f"build {t_built - t_start:.1f} s")
    for k in ("setup_session_s", "op_ms", "passes", "iterations", "check_s"):
        if k in res:
            print(f"  {k}: {res[k]}")
    for k in ["batch_s", "append_p50_ms", "merge_p50_ms", "query_p50_ms",
              "trace.untraced_op_p50_ms"]:
        if k in res:
            print(f"  {k}: {res[k]:.4f}")
    print(f"  failed_op_share: {failed / attempted if attempted else 1.0:.4f} "
          f"({failed} of {attempted} operations)")
    print(f"  check: {'PASS' if correct else 'FAIL'}")
    print(f"  output digest: {digest} (equal for runs with the same seed and "
          f"the same number of operations)")
    for p in problems:
        print(f"    {p}")

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in bench[section]:
        if m["name"] not in res:
            fail(f"benchmark JVM did not report {m['name']}")
        metrics[m["name"]] = {"value": res[m["name"]], "unit": m["unit"]}
        print(f"  {m['name']}: {res[m['name']]} {m['unit']} ({m['better']} is better)")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

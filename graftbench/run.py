#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

  python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the harness and graft from source on
first use (sbt, offline; output under .bench_build/ and the sbt target
directories), generates the workload's inputs from the seed, runs the
harness JVM (graftbench.BenchMain) for S seconds of closed-loop rounds,
checks every round's outputs against results computed apart, and prints
one JSON object as the last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans are written to
.bench_build/runs/<workload>/spans.json. Diagnostics go to stderr.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("etl_many_small_days", "etl_few_large_days", "corpus_prep")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# A cap only: the heap grows with what the program holds, so peak RSS shows
# it. The young generation is fixed: sized adaptively from pause times, it
# made peak RSS follow the machine's load.
HEAP = "1536m"
YOUNG = "256m"
# Spark on JDK 17 outside spark-submit (same list as the root build's run options)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the whole
    group and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def sources_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(timeout):
    """Compile graft and the harness; cache the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= sources_mtime():
        with open(CLASSPATH) as f:
            return f.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    out = os.path.join(BUILD, "build.log")
    log("building graft and the harness (sbt, log in %s)" % out)
    with open(out, "w") as f:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       timeout, cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    with open(out) as f:
        lines = [l.strip() for l in f if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not lines:
        raise RuntimeError("build failed (exit %d), see %s" % (rc, out))
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    return lines[-1], True


def run_harness(cp, workload, exp, seconds, trace, out, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(BUILD, "tmp")
    for d in (tmp, os.path.join(BUILD, "spark-local"), os.path.join(BUILD, "derby")):
        os.makedirs(d, exist_ok=True)
    # one core stays free for the driver thread, JIT compilation and GC
    cores = max(1, min(4, len(os.sched_getaffinity(0))) - 1)
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + HEAP, "-Xmn" + YOUNG, "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + os.path.join(BUILD, "derby"),
        "-cp", cp, "graftbench.BenchMain",
        "--workload", "etl" if exp["kind"] == "etl" else "corpus",
        "--out", out, "--seconds", str(seconds), "--trace", "1" if trace else "0",
        "--cores", str(cores),
        "--local-dir", os.path.join(BUILD, "spark-local")]
    for k, v in exp["args"].items():
        cmd += ["--" + k, v]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "spark-local"))
    with open(os.path.join(out, "jvm.log"), "w") as f:
        rc = run_group(cmd, timeout, cwd=ROOT, env=env, stdout=f, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        raise RuntimeError("harness exited %d, see %s" % (rc, os.path.join(out, "jvm.log")))


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Main.scala"))):
        log("graft's sources are not here: run from a checkout of the repository")
        sys.exit(2)

    import check
    import gen
    import negative_control

    cp, built = build(timeout=780)
    # the first run in a checkout also builds; every other run stays well under 180 s
    deadline = t_start + (870 if built else 170)

    out = os.path.join(BUILD, "runs", a.workload)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    exp = gen.generate(a.workload, a.seed, work)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(exp, f)

    run_harness(cp, a.workload, exp, a.seconds, a.trace == 1, out,
                timeout=deadline - time.time() - 10)

    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "rounds.jsonl")) as f:
        rounds = [json.loads(l) for l in f if l.strip()]

    cos = None
    if exp["kind"] == "corpus":
        import numpy as np
        cos = np.load(exp["cos_file"])
    problems = []
    for rd in rounds:
        for p in check.check(exp, rd["dump"], cos):
            problems.append("round %d: %s" % (rd["round"], p))
        # the program's own accounting against its output lines
        failed_days = rd["dump"].get("failed_days", [])
        if exp["kind"] == "etl" and rd["failed"] != len(failed_days):
            problems.append("round %d: Main accounted %d failed days, printed %d" % (
                rd["round"], rd["failed"], len(failed_days)))
    for name, detected in negative_control.run_controls(exp, rounds[0]["dump"], cos):
        if not detected:
            problems.append("negative control not detected: %s" % name)
    for p in problems[:20]:
        log("CHECK:", p)

    measured = [rd for rd in rounds if rd["measured"]]
    if not measured:
        raise RuntimeError("no measured round")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.trace == 0:
        wall = statistics.median(rd["wall_s"] for rd in measured)
        values = {
            "setup_s": res["setup_s"],
            "wall_s": wall,
            "rows_per_s": exp["input_rows"] / wall,
            "batch_p50_s": statistics.median(b for rd in measured for b in rd["batch_s"]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        listed = bench["end_to_end"]
    else:
        values = dict(res["layers"])
        sel = exp.get("selected_bytes", 0)
        values["sources.read_amplification"] = values["sources.bytes_read"] / sel if sel else 0.0
        values["similarity.recall_at_k"] = statistics.median(
            check.recall(exp, rd["dump"]) for rd in measured) if exp["kind"] == "corpus" else 0.0
        values["trace.wall_s"] = values["wall_s"]
        listed = bench["per_layer"]
        log("spans:", os.path.join(out, "spans.json"))

    log("rounds: %d checked, %d measured; setup %.3f s" % (
        len(rounds), len(measured), res["setup_s"]))
    print(json.dumps({
        "correct": not problems,
        "attempted": sum(rd["attempted"] for rd in rounds),
        "failed": sum(rd["failed"] for rd in rounds),
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in listed},
    }))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # no result line on a failed run
        log("benchmark failed: %s" % e)
        sys.exit(1)

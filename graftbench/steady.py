#!/usr/bin/env python3
"""Steadiness check for the graft benchmark.

  python3 graftbench/steady.py [--runs 10] [--sets 2] [--seed0 101] [--workloads a,b]

For each workload: --sets sets of --runs untraced runs over the same
seeds seed0 .. seed0+runs-1, so that runs pair by seed across sets. For
each set, the median and quartiles of every end-to-end metric and its
spread (q3 - q1) / median against the metric's bound from
BENCHMARK.json. Across sets, the shift of each median in the metric's
worse direction against its bound, and the median of the per-seed
relative differences (the run-to-run noise with the input held fixed).
Then two traced runs with seed0, checking that the per-layer work
counters repeat exactly (jobs, stages, tasks, bytes read, shuffle bytes,
rows written). Run from the repository root. Exits 1 if a run fails, an
output check fails, the failed share differs between runs, a spread or a
shift exceeds its bound, or a counter does not repeat.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTERS = ("sources.jobs", "operators.jobs", "dedup.jobs", "similarity.jobs", "sinks.jobs",
            "pipeline.jobs", "exec.jobs", "exec.stages", "exec.tasks", "sources.bytes_read",
            "operators.shuffle_bytes", "dedup.shuffle_bytes", "similarity.shuffle_bytes",
            "sinks.rows_written")


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join("graftbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    seeds = [a.seed0 + i for i in range(a.runs)]
    ok = True
    report = {}
    for wl in a.workloads.split(","):
        sets = []
        for n in range(a.sets):
            results = [run(wl, s, seconds, 0) for s in seeds]
            if any(r is None or not r["correct"] for r in results):
                print("%s set %d: a run failed or an output check failed" % (wl, n + 1))
                ok = False
            sets.append(results)
        done = [r for rs in sets for r in rs if r]
        if not done:
            continue
        shares = {r["failed"] / r["attempted"] for r in done}
        print("%s: %d sets of %d runs, failed share %s" % (wl, a.sets, a.runs, sorted(shares)))
        ok &= len(shares) == 1
        report[wl] = {}
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            rows = []
            for n, rs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in rs if r]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                ok &= spread <= bound
                rows.append({"median": med, "q1": q1, "q3": q3, "spread": spread, "values":
                             [r["metrics"][name]["value"] if r else None for r in rs]})
                print("  %-12s set %d  median %10.4f  q1 %10.4f  q3 %10.4f  spread %.3f  bound %.2f  %s" % (
                    name, n + 1, med, q1, q3, spread, bound,
                    "ok" if spread <= bound / 3 else "within bound" if spread <= bound else "TOO WIDE"))
            entry = {"bound": bound, "sets": rows}
            if len(rows) > 1:
                sign = 1 if m["better"] == "lower" else -1
                shift = max(sign * (r["median"] - rows[0]["median"]) / rows[0]["median"]
                            for r in rows[1:])
                paired = [abs(y - x) / x for x, y in zip(rows[0]["values"], rows[1]["values"])
                          if x is not None and y is not None]
                ok &= shift <= bound
                entry.update(shift=shift, paired_median=statistics.median(paired))
                print("  %-12s shift of the median toward worse %+.3f (bound %.2f)  "
                      "per-seed difference, median %.3f  %s" % (
                          name, shift, bound, statistics.median(paired),
                          "ok" if shift <= bound else "TOO FAR"))
            report[wl][name] = entry
        traced = [run(wl, a.seed0, seconds, 1) for _ in range(2)]
        if any(t is None or not t["correct"] for t in traced):
            print("  traced run failed")
            ok = False
            continue
        differ = [c for c in COUNTERS
                  if traced[0]["metrics"][c]["value"] != traced[1]["metrics"][c]["value"]]
        print("  counters repeat: %s" % ("all" if not differ else "NOT " + ", ".join(
            "%s (%s vs %s)" % (c, traced[0]["metrics"][c]["value"], traced[1]["metrics"][c]["value"])
            for c in differ)))
        ok &= not differ
        traced_wall = statistics.mean(t["metrics"]["trace.wall_s"]["value"] for t in traced)
        untraced = statistics.median(v for r in report[wl]["wall_s"]["sets"]
                                     for v in r["values"][:1] if v is not None)
        print("  tracing overhead: traced wall_s %.3f - untraced %.3f (seed %d) = %+.3f s" % (
            traced_wall, untraced, a.seed0, traced_wall - untraced))
        report[wl]["traced"] = [t["metrics"] for t in traced]
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

"""Negative control for the output checks: each perturbed output must be
reported incorrect.

  ETL:    a warehouse with one row removed; a distractor file's rows added
  corpus: a pair set with one pair dropped; a top-k list with one cosine
          perturbed

run.py applies the controls of its workload's kind to every run's first
checked round. Standalone, this script re-checks the outputs the last runs left
under .bench_build/runs/ (run run.py on an ETL workload and on
corpus_prep first):

  python3 graftbench/negative_control.py
"""
import copy
import json
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402


def perturbations(exp, dump):
    if exp["kind"] == "etl":
        day = sorted(exp["days"])[0]
        name = sorted(exp["days"][day])[0]
        user, amount = exp["days"][day][name]["one_row"]
        d1 = copy.deepcopy(dump)
        for row in d1["per_file"]:
            if row[0] == day and row[1] == name:
                row[2] -= 1
                row[3] -= user
                row[4] = str(Decimal(str(row[4])) - Decimal(amount))
        d2 = copy.deepcopy(dump)
        dname = sorted(exp["distractors"])[0]
        dv = exp["distractors"][dname]
        d2["per_file"].append([day, dname, dv["rows"], dv["int_sum"], dv["dec_sum"], 0, 0])
        return [("warehouse with one row removed", d1),
                ("distractor file's rows added", d2)]
    d3 = copy.deepcopy(dump)
    d3["pairs"] = d3["pairs"][1:]
    d4 = copy.deepcopy(dump)
    d4["topk"][0][3] += 1e-4
    return [("pair set with one pair dropped", d3),
            ("top-k list with one cosine perturbed", d4)]


def run_controls(exp, dump, cos=None):
    """[(name, detected)] for each perturbation of this kind."""
    return [(name, bool(check.check(exp, d, cos))) for name, d in perturbations(exp, dump)]


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    runs = os.path.join(root, ".bench_build", "runs")
    seen, ok = set(), True
    for wl in sorted(os.listdir(runs)) if os.path.isdir(runs) else []:
        d = os.path.join(runs, wl)
        try:
            with open(os.path.join(d, "expected.json")) as f:
                exp = json.load(f)
            with open(os.path.join(d, "rounds.jsonl")) as f:
                dump = json.loads(f.readline())["dump"]
        except (OSError, ValueError):
            continue
        if check.check(exp, dump):
            print("%s: the unperturbed output already fails its checks" % wl)
            ok = False
            continue
        for name, detected in run_controls(exp, dump):
            print("%-22s %-40s %s" % (wl, name, "reported incorrect" if detected else "MISSED"))
            ok &= detected
        seen.add(exp["kind"])
    if seen != {"etl", "corpus"}:
        print("need the outputs of one ETL run and one corpus_prep run under %s" % runs)
        ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

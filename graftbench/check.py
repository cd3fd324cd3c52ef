"""Output checks: compare one round's outputs, as read back by the
harness (the warehouse through plain JDBC, the corpus results as
collected), with the results the generator computed apart.

Each check returns a list of problems; an empty list means correct.
"""
from decimal import Decimal

import numpy as np

COS_TOL = 1e-5
RECALL_FLOOR = 0.7


def check_etl(exp, dump):
    p = []
    if "warehouse_error" in dump:
        return ["warehouse unreadable: %s" % dump["warehouse_error"]]
    days = exp["days"]
    n_range = len(days) + len(exp["gap_days"])
    if dump.get("rc") != 0:
        p.append("Main returned %r" % dump.get("rc"))
    if dump.get("days") != n_range or dump.get("processed") != len(days):
        p.append("Main accounted %r of %r days, expected %d of %d" % (
            dump.get("processed"), dump.get("days"), len(days), n_range))
    if sorted(dump.get("skipped", [])) != sorted(exp["gap_days"]):
        p.append("skipped days %r, expected the gap days %r" % (dump.get("skipped"), exp["gap_days"]))
    if sorted(dump.get("loaded", [])) != sorted(days):
        p.append("loaded days differ from the days with files")
    if dump.get("failed_days"):
        p.append("failed days: %r" % dump.get("failure_lines"))
    if dump.get("columns") != exp["columns"]:
        p.append("table columns %r, expected %r" % (dump.get("columns"), exp["columns"]))

    got = {}
    for day, f, rows, isum, dsum, ts_bad, nulls in dump.get("per_file", []):
        if (day, f) in got:
            p.append("(day, file) %s %s listed twice" % (day, f))
        got[(day, f)] = (rows, isum, Decimal(str(dsum)), ts_bad, nulls)
    want = {(d, f): v for d, fs in days.items() for f, v in fs.items()}
    for key in sorted(set(got) - set(want)):
        p.append("unexpected rows from %s on %s" % (key[1], key[0]))
    for key in sorted(set(want) - set(got)):
        p.append("no rows from %s on %s" % (key[1], key[0]))
    for key in sorted(set(want) & set(got)):
        rows, isum, dsum, ts_bad, nulls = got[key]
        w = want[key]
        if rows != w["rows"]:
            p.append("%s %s: %d rows, expected %d" % (key[0], key[1], rows, w["rows"]))
        if isum != w["int_sum"]:
            p.append("%s %s: user_id sum %d, expected %d" % (key[0], key[1], isum, w["int_sum"]))
        if dsum != Decimal(w["dec_sum"]):
            p.append("%s %s: amount sum %s, expected %s" % (key[0], key[1], dsum, w["dec_sum"]))
        if ts_bad:
            p.append("%s %s: %d rows where ts_us_datetime != ts_us" % (key[0], key[1], ts_bad))
        if nulls:
            p.append("%s %s: %d null cells in checked columns" % (key[0], key[1], nulls))
    for day in exp["gap_days"]:
        if any(k[0] == day for k in got):
            p.append("gap day %s loaded rows" % day)

    audit = {}
    for day, total, nfiles, names in dump.get("audit", []):
        if day in audit:
            p.append("more than one audit row for %s" % day)
        audit[day] = (total, nfiles, names)
    if set(audit) != set(days):
        p.append("audit rows for %r, expected %r" % (sorted(audit), sorted(days)))
    for day, fs in days.items():
        if day in audit:
            total, nfiles, names = audit[day]
            if total != sum(v["rows"] for v in fs.values()) or nfiles != len(fs):
                p.append("audit row for %s: %d rows from %d files, expected %d from %d" % (
                    day, total, nfiles, sum(v["rows"] for v in fs.values()), len(fs)))
            if names != ", ".join(sorted(fs)):
                p.append("audit row for %s names files %r" % (day, names))
    return p


def recall(exp, dump):
    by_q = {}
    for q, rn, v, c in dump.get("topk", []):
        by_q.setdefault(q, set()).add(v)
    k = exp["k"]
    return sum(len(by_q.get(q, set()) & set(exp["exact_topk"][q])) / k
               for q in range(exp["queries"])) / exp["queries"]


def check_corpus(exp, dump, cos=None):
    if "error" in dump:
        return ["pass failed: %s" % dump["error"]]
    p = []
    want = {(a, b): j for a, b, j in exp["pairs"]}
    got = {}
    for a, b, j in dump.get("pairs", []):
        got[(a, b)] = j
    if len(got) != len(dump.get("pairs", [])):
        p.append("duplicate pairs returned")
    missing, extra = set(want) - set(got), set(got) - set(want)
    if missing:
        p.append("%d near-duplicate pairs missing, e.g. %r" % (len(missing), sorted(missing)[:3]))
    if extra:
        p.append("%d pairs returned below the threshold, e.g. %r" % (len(extra), sorted(extra)[:3]))
    bad_j = [k for k in set(want) & set(got) if abs(want[k] - got[k]) > 1e-9]
    if bad_j:
        p.append("%d pairs with a wrong Jaccard, e.g. %r" % (len(bad_j), bad_j[:3]))

    comps = {}
    for i, c in dump.get("components", []):
        comps[i] = c
    if comps != dict((int(i), c) for i, c in exp["components"]):
        p.append("components differ from the planted clusters")

    if cos is None:
        cos = np.load(exp["cos_file"])
    k = exp["k"]
    by_q = {}
    for q, rn, v, c in dump.get("topk", []):
        by_q.setdefault(q, []).append((rn, v, c))
    if sorted(by_q) != list(range(exp["queries"])):
        p.append("top-k answered %d of %d queries" % (len(by_q), exp["queries"]))
    bad = []
    for q, rows in by_q.items():
        rows.sort()
        if [r[0] for r in rows] != list(range(1, k + 1)) or len({r[1] for r in rows}) != k:
            bad.append("query %d: ranks %r" % (q, [r[0] for r in rows]))
            continue
        for (rn, v, c) in rows:
            if not 0 <= v < cos.shape[1] or abs(c - cos[q, v]) > COS_TOL:
                bad.append("query %d rank %d: cosine %r for vector %d" % (q, rn, c, v))
        if any(rows[i][2] < rows[i + 1][2] for i in range(k - 1)):
            bad.append("query %d: not in rank order" % q)
    if bad:
        p.append("%d top-k problems, e.g. %s" % (len(bad), bad[:3]))
    r = recall(exp, dump)
    if r < RECALL_FLOOR:
        p.append("recall@%d %.3f below %.1f" % (k, r, RECALL_FLOOR))
    return p


def check(exp, dump, cos=None):
    return check_etl(exp, dump) if exp["kind"] == "etl" else check_corpus(exp, dump, cos)

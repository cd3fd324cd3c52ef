"""Seeded input generators for the graft benchmark.

Each generator writes its inputs under a work directory and returns the
expected results, computed here from what it wrote, without graft or
Spark: per-day row counts and exact sums for the ETL workloads, exact
word-3-gram Jaccard pairs, planted clusters and exact top-k for corpus
prep.
"""
import calendar
import datetime as dt
import gzip
import os
import random
import re
import shutil
from decimal import Decimal

import numpy as np

# --------------------------------------------------------------------------
# filename -> date: the reference's patterns in priority order, re-implemented apart

_PATTERNS = [re.compile(p) for p in (
    r"(\d{4}-\d{2}-\d{2})T(\d{6})", r"(\d{4}-\d{2}-\d{2})T(\d{2}:\d{2}:\d{2})",
    r"(\d{4}-\d{2}-\d{2})", r"(\d{2}-\d{2}-\d{4})_(\d{6})", r"(\d{2}-\d{2}-\d{4})",
    r"(\d{8})", r"(\d{4}_\d{2}_\d{2})", r"(\d{4}\.\d{2}\.\d{2})",
    r"(\d{4}-\d{2})", r"timestamp_(\d{10})")]


def _valid(y, m, d):
    return y >= 1 and 1 <= m <= 12 and 1 <= d <= calendar.monthrange(y, m)[1]


def _iso(y, m, d):
    return "%04d-%02d-%02d" % (y, m, d) if _valid(y, m, d) else None


def extract_date(name):
    """The date a filename resolves to (yyyy-MM-dd, or yyyy-MM for the
    year-month form), or None: first matching pattern in priority order
    whose candidate is a valid date. (The date-range form is shadowed by
    the ISO date pattern.)"""
    p = _PATTERNS
    for i in (0, 1, 2):
        m = p[i].search(name)
        if m:
            y, mo, d = m.group(1).split("-")
            r = _iso(int(y), int(mo), int(d))
            if r:
                return r
    for i in (3, 4):
        m = p[i].search(name)
        if m:
            mo, d, y = m.group(1).split("-")
            r = _iso(int(y), int(mo), int(d))
            if r:
                return r
    m = p[5].search(name)
    if m:
        s = m.group(1)
        r = _iso(int(s[0:4]), int(s[4:6]), int(s[6:8]))
        if r:
            return r
    for i, sep in ((6, "_"), (7, ".")):
        m = p[i].search(name)
        if m:
            y, mo, d = m.group(1).split(sep)
            r = _iso(int(y), int(mo), int(d))
            if r:
                return r
    m = p[8].search(name)
    if m:
        y, mo = m.group(1).split("-")
        if 1 <= int(mo) <= 12:
            return m.group(1)
    m = p[9].search(name)
    if m:
        return dt.datetime.fromtimestamp(int(m.group(1)), dt.timezone.utc).strftime("%Y-%m-%d")
    return None


# --------------------------------------------------------------------------
# ETL drops

def _name(rng, form, day, used):
    """A filename of the given form that resolves to `day`."""
    y, m, d = day.year, day.month, day.day
    while True:
        tag = "%03d" % rng.randrange(1000)
        hh = "%02d%02d%02d" % (rng.randrange(24), rng.randrange(60), rng.randrange(60))
        if form == "iso":
            n = "events_%04d-%02d-%02d_%s.csv" % (y, m, d, tag)
        elif form == "iso_compact_time":
            n = "dump_%04d-%02d-%02dT%s.csv" % (y, m, d, hh)
        elif form == "us_time":
            n = "sales_%02d-%02d-%04d_%s.csv" % (m, d, y, hh)
        elif form == "us":
            n = "export_%02d-%02d-%04d_%s.csv" % (m, d, y, tag)
        elif form == "compact":
            n = "pos_%04d%02d%02d_batch%s.csv" % (y, m, d, tag)
        elif form == "underscore":
            n = "crm_%04d_%02d_%02d_%s.csv" % (y, m, d, tag)
        elif form == "dot":
            n = "web.%04d.%02d.%02d.%s.csv" % (y, m, d, tag)
        elif form == "unix":
            base = int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp())
            n = "feed_timestamp_%d.csv" % (base + rng.randrange(86400))
        else:
            raise ValueError(form)
        if rng.random() < 0.5:
            n += ".gz"
        if n not in used and extract_date(n) == day.isoformat():
            used.add(n)
            return n


FORMS = ("iso", "iso_compact_time", "us_time", "us", "compact", "underscore", "dot", "unix")
CATEGORIES = ("books", "games", "garden", "music", "sports", "tools", "toys", "travel")


def _header(n_extra):
    cols = ["{event_id}", "user_id", "amount", "ts_us", "category", "payload", "note"]
    for i in range(n_extra):
        cols.append(("i_%02d", "d_%02d", "s_%02d")[i % 3] % i)
    return cols


def _rows(rng, day, n, first_id, n_extra):
    """n distinct data lines for one file, and their (user_id, cents) values."""
    day0 = int(dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    nr = np.random.default_rng(rng.getrandbits(64))
    users = nr.integers(1, 1_000_000, n)
    cents = nr.integers(-50_000, 500_000, n)
    cents[cents % 100 == 0] += 1  # every amount has a fractional part
    ts = day0 + nr.integers(0, 86_400_000_000, n)
    cats = nr.integers(0, len(CATEGORIES), n)
    extra = [nr.integers(0, 100_000, n) for _ in range(n_extra)]
    lines = []
    for i in range(n):
        c = int(cents[i])
        amount = "%s%d.%02d" % ("-" if c < 0 else "", abs(c) // 100, abs(c) % 100)
        k = int(users[i]) % 97
        payload = '"{""k"": %d, ""tags"": [""a%d"", ""b""], ""s"": ""x,y""}"' % (k, k % 7)
        parts = [str(first_id + i), str(int(users[i])), amount, str(int(ts[i])),
                 CATEGORIES[int(cats[i])], payload, ""]
        for j in range(n_extra):
            v = int(extra[j][i])
            kind = j % 3
            parts.append(str(v) if kind == 0 else ("%d.%03d" % (v, (v * 7) % 1000 or 1))
                         if kind == 1 else "v%d" % (v % 500))
        lines.append(",".join(parts))
    return lines, [(int(users[i]), int(cents[i])) for i in range(n)]


def _write(path, header, lines):
    data = (",".join(header) + "\n" + "\n".join(lines) + "\n").encode()
    if path.endswith(".gz"):
        with gzip.open(path, "wb", compresslevel=1) as f:
            f.write(data)
    else:
        with open(path, "wb") as f:
            f.write(data)


ETL_SHAPES = {
    # days in range, gap days, files per day, rows per file, extra columns,
    # within-file duplicate share, distractors per selected file
    "etl_many_small_days": dict(days=6, gaps=2, files=3, rows=40, extra=1,
                                dup=0.1, distractors=4),
    "etl_few_large_days": dict(days=3, gaps=0, files=4, rows=4000, extra=17,
                               dup=0.05, distractors=2),
}


def gen_etl(workload, seed, work):
    shape = ETL_SHAPES[workload]
    rng = random.Random("%s/%d" % (workload, seed))
    drop = os.path.join(work, "drop")
    shutil.rmtree(drop, ignore_errors=True)
    subdirs = ["", "crm", "web", "pos"]
    for s in subdirs[1:]:
        os.makedirs(os.path.join(drop, s), exist_ok=True)
    start = dt.date(2024, 3, 1)
    days = [start + dt.timedelta(days=i) for i in range(shape["days"])]
    # gap days fall inside the range, never on its first two days or its last
    gaps = sorted(rng.sample(days[2:-1], shape["gaps"])) if shape["gaps"] else []
    header = _header(shape["extra"])
    used = set()
    expected_days = {}
    selected_bytes = 0
    input_rows = 0
    next_id = 1
    forms = list(FORMS)
    rng.shuffle(forms)
    fi = 0
    for day in days:
        if day in gaps:
            continue
        files = {}
        file_lines = []
        for _ in range(shape["files"]):
            name = _name(rng, forms[fi % len(forms)], day, used)
            fi += 1
            n = shape["rows"]
            lines, vals = _rows(rng, day, n, next_id, shape["extra"])
            next_id += n
            file_lines.append([name, lines, vals])
        # identical rows in two files of a day both stay (distinct source_file)
        a, b = file_lines[0], file_lines[1]
        for i in range(3):
            b[1].append(a[1][i])
            b[2].append(a[2][i])
        for name, lines, vals in file_lines:
            distinct = {}
            for line, v in zip(lines, vals):
                distinct.setdefault(line, v)
            out = list(lines)
            # planted share of rows duplicated within the file
            for _ in range(int(len(lines) * shape["dup"])):
                out.insert(rng.randrange(len(out) + 1), lines[rng.randrange(len(lines))])
            path = os.path.join(drop, rng.choice(subdirs), name)
            _write(path, header, out)
            selected_bytes += os.path.getsize(path)
            input_rows += len(out)
            dv = list(distinct.values())
            files[name] = {"rows": len(dv), "int_sum": sum(u for u, _ in dv),
                           "dec_sum": str(Decimal(sum(c for _, c in dv)) / 100),
                           "one_row": [dv[0][0], str(Decimal(dv[0][1]) / 100)]}
        expected_days[day.isoformat()] = files

    # distractors: other dates, year-month names and undated names
    n_sel = sum(len(f) for f in expected_days.values())
    in_range = {d.isoformat() for d in days}
    distractors = {}
    for i in range(n_sel * shape["distractors"]):
        kind = i % 3
        if kind == 0:
            while True:
                other = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(366))
                if other.isoformat() not in in_range:
                    break
            name = _name(rng, rng.choice(FORMS), other, used)
        elif kind == 1:
            name = "summary_%04d-%02d_%03d.csv" % (2024, rng.randint(1, 12), i)
        else:
            name = "lookup_%s_%03d.csv" % (rng.choice(CATEGORIES), i)
        assert extract_date(name) not in in_range
        n = rng.randint(5, 20)
        lines, vals = _rows(rng, days[0], n, 10_000_000 + i * 100, shape["extra"])
        _write(os.path.join(drop, rng.choice(subdirs), name), header, lines)
        distractors[name] = {"rows": n, "int_sum": sum(u for u, _ in vals),
                             "dec_sum": str(Decimal(sum(c for _, c in vals)) / 100)}

    cleaned = [h.replace("{", "").replace("}", "").strip() for h in header]
    columns = [c for c in cleaned if c != "note"] + [
        "source_file", "ts_us_datetime", "processed_date", "source_date", "files_merged_count"]
    return {
        "kind": "etl",
        "args": {"drop": drop, "start": days[0].isoformat(), "end": days[-1].isoformat(),
                 "int-col": "user_id", "dec-col": "amount", "ts-col": "ts_us"},
        "days": expected_days,
        "gap_days": [g.isoformat() for g in gaps],
        "columns": columns,
        "distractors": distractors,
        "input_rows": input_rows,
        "selected_bytes": selected_bytes,
    }


# --------------------------------------------------------------------------
# corpus prep

CORPUS_SHAPE = dict(vocab=30000, clusters=250, cluster_sizes=(2, 3, 4, 5, 6), singletons=1000,
                    doc_len=(140, 180), dim=64, centers=48, vectors=3000, queries=150,
                    k=10, noise=0.35)


def shingles(text, n=3):
    toks = text.split(" ")
    if len(toks) < n:
        return {text}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    return len(a & b) / len(a | b)


def gen_corpus(seed, work):
    s = CORPUS_SHAPE
    rng = random.Random("corpus/%d" % seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab = set()
    while len(vocab) < s["vocab"]:
        vocab.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 10))))
    vocab = sorted(vocab)
    rng.shuffle(vocab)

    def doc():
        return [rng.choice(vocab) for _ in range(rng.randint(*s["doc_len"]))]

    groups = []
    for c in range(s["clusters"]):
        base = doc()
        members = [base]
        size = s["cluster_sizes"][c % len(s["cluster_sizes"])]
        while len(members) < size:
            v = list(base)
            pos = rng.randrange(len(v))
            v[pos] = rng.choice(vocab)
            sh = shingles(" ".join(v))
            if v != base and all(jaccard(sh, shingles(" ".join(m))) >= 0.9 for m in members) \
                    and v not in members:
                members.append(v)
        groups.append(members)
    groups += [[doc()] for _ in range(s["singletons"])]
    texts = [" ".join(m) for g in groups for m in g]
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    cluster_of = []
    gi = 0
    for g in groups:
        cluster_of += [gi] * len(g)
        gi += 1
    docs = dict(zip(ids, texts))
    cluster = dict(zip(ids, cluster_of))

    # exact Jaccard over every pair that shares a shingle
    sh = {i: shingles(t) for i, t in docs.items()}
    index = {}
    for i, ss in sh.items():
        for g in ss:
            index.setdefault(g, []).append(i)
    candidates = set()
    for lst in index.values():
        if len(lst) > 1:
            lst = sorted(lst)
            for x in range(len(lst)):
                for y in range(x + 1, len(lst)):
                    candidates.add((lst[x], lst[y]))
    pairs = []
    for a, b in sorted(candidates):
        j = jaccard(sh[a], sh[b])
        assert j >= 0.9 or j <= 0.5, (a, b, j)
        if j >= 0.8:
            assert cluster[a] == cluster[b]
            pairs.append([a, b, j])
    members = {}
    for i, c in cluster.items():
        members.setdefault(c, []).append(i)
    components = {}
    for c, ms in members.items():
        if len(ms) > 1:
            for i in ms:
                components[i] = min(ms)

    with open(os.path.join(work, "docs.tsv"), "w") as f:
        for i in sorted(docs):
            f.write("%d\t%s\n" % (i, docs[i]))

    nr = np.random.default_rng(rng.getrandbits(64))
    centers = nr.normal(size=(s["centers"], s["dim"]))
    corpus = (centers[nr.integers(0, s["centers"], s["vectors"])]
              + s["noise"] * nr.normal(size=(s["vectors"], s["dim"]))).astype(np.float32)
    queries = (centers[nr.integers(0, s["centers"], s["queries"])]
               + s["noise"] * nr.normal(size=(s["queries"], s["dim"]))).astype(np.float32)
    corpus.astype("<f4").tofile(os.path.join(work, "corpus.f32"))
    queries.astype("<f4").tofile(os.path.join(work, "queries.f32"))
    c64, q64 = corpus.astype(np.float64), queries.astype(np.float64)
    cos = (q64 @ c64.T) / np.outer(np.linalg.norm(q64, axis=1), np.linalg.norm(c64, axis=1))
    exact = np.argsort(-cos, axis=1, kind="stable")[:, :s["k"]]
    np.save(os.path.join(work, "cos.npy"), cos)
    return {
        "kind": "corpus",
        "args": {"docs": os.path.join(work, "docs.tsv"),
                 "corpus": os.path.join(work, "corpus.f32"),
                 "queries": os.path.join(work, "queries.f32"),
                 "dim": str(s["dim"]), "k": str(s["k"])},
        "pairs": pairs,
        "components": sorted(components.items()),
        "exact_topk": exact.tolist(),
        "cos_file": os.path.join(work, "cos.npy"),
        "k": s["k"],
        "queries": s["queries"],
        "input_rows": len(docs) + s["vectors"] + s["queries"],
        "clusters": sum(1 for g in groups if len(g) > 1),
    }


def generate(workload, seed, work):
    os.makedirs(work, exist_ok=True)
    if workload == "corpus_prep":
        return gen_corpus(seed, work)
    return gen_etl(workload, seed, work)

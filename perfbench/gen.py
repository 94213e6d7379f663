#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --scale <x> --out <dir>

Writes one workload's inputs plus a ``manifest.json`` that carries every
expected answer the harness checks against. None of the expected answers
come from graft:

* wrds_refresh: row and special-missing null counts are counted here while
  the rows are written; the as-of checksum comes from DuckDB ``ASOF JOIN``.
* corpus_dedup: survivor ids come from this generator's own record of the
  near-duplicate families and curation-gate failures it planted.
  Its vector-index phase's exact top-10 comes from numpy brute force,
  appended vectors included.

The same (workload, seed, scale) gives byte-identical files; the manifest
records their sha256 as ``input_hash``.
"""
import argparse
import csv
import datetime as dt
import hashlib
import json
import os
import sys
import zoneinfo

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))

# ---------------------------------------------------------------- helpers


def rng_for(seed, salt):
    return np.random.default_rng([int(seed), salt])


def input_hash(root, skip=("manifest.json",)):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if f in skip:
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def stamp(ts):
    return "Last modified: " + ts.strftime("%m/%d/%Y %H:%M:%S")


def stamp_epoch(ts):
    """The CSV sink encodes a stamp as the mtime: wall clock America/Chicago."""
    return int(ts.replace(tzinfo=zoneinfo.ZoneInfo("America/Chicago")).timestamp())


# ---------------------------------------------------------- wrds_refresh

N_CYCLES = 40  # refresh cycles a run may make
SPECIAL = [".", "._"] + ["." + c for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"]


def fmt_num(v):
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def wrds_tables(rng, scale):
    """The library's tables: columns as (name, kind) with kind in
    long/double/string/date, raw rows, and the dataset options the refresh
    applies. A numeric cell may hold a SAS missing token ('.', '.A'-'.Z',
    '._'), which must read back as NULL."""
    n_permno = max(20, int(100 * scale))
    n_days = 200
    permnos = np.arange(10001, 10001 + n_permno)
    days = [dt.date(2015, 1, 2) + dt.timedelta(days=int(d))
            for d in np.cumsum(rng.integers(1, 3, size=n_days))]

    def missing_or(p, value):
        if rng.random() < p:
            return SPECIAL[int(rng.integers(0, len(SPECIAL)))]
        return value

    def word(k=6):
        letters = "abcdefghijklmnopqrstuvwxyz"
        return "".join(letters[int(i)] for i in rng.integers(0, 26, size=k))

    def name_with_breaks():
        w = word(5).upper() + " " + word(4).upper()
        r = rng.random()
        if r < 0.1:
            return w + "\r\n" + word(3).upper()
        if r < 0.2:
            return w + ", INC"
        if r < 0.25:
            return w + ' "THE" CO'
        return w

    tables = []

    rows = []
    for p in permnos:
        for d in days:
            rows.append([int(p), d.isoformat(),
                         missing_or(0.02, round(float(rng.uniform(1, 200)), 4)),
                         missing_or(0.05, round(float(rng.normal(0, 0.02)), 6)),
                         missing_or(0.03, int(rng.integers(0, 10 ** 6))),
                         int(rng.integers(1000, 10 ** 5))])
    tables.append(dict(
        lib="crsp", name="dsf", fmt="csv",
        cols=[("permno", "long"), ("date", "date"), ("prc", "double"),
              ("ret", "double"), ("vol", "long"), ("shrout", "long")],
        rows=rows,
        extract=dict(drop="shrout", rename="vol=volume", where="prc > 0",
                     colTypes={"permno": "integer"})))

    months = sorted({(d.year, d.month) for d in days})
    rows = []
    for p in permnos:
        for (y, m) in months:
            rows.append([int(p), dt.date(y, m, 28).isoformat(),
                         missing_or(0.03, round(float(rng.uniform(1, 200)), 4)),
                         missing_or(0.08, round(float(rng.normal(0, 0.08)), 6)),
                         missing_or(0.05, int(rng.integers(0, 10 ** 7)))])
    tables.append(dict(
        lib="crsp", name="msf", fmt="csv",
        cols=[("permno", "long"), ("date", "date"), ("prc", "double"),
              ("ret", "double"), ("vol", "long")],
        rows=rows, extract=dict(keep="permno date ret")))

    rows = []
    for p in permnos:
        for k in range(3):
            rows.append([int(p), (dt.date(2000, 1, 1) + dt.timedelta(days=1000 * k)).isoformat(),
                         name_with_breaks(), missing_or(0.1, int(rng.choice([10, 11, 12, 31]))),
                         word(3).upper()])
    tables.append(dict(
        lib="crsp", name="dsenames", fmt="csv",
        cols=[("permno", "long"), ("namedt", "date"), ("comnam", "string"),
              ("shrcd", "long"), ("ticker", "string")],
        rows=rows, extract=dict(where="shrcd in (10, 11)")))

    rows = []
    for p in permnos[: max(5, n_permno // 4)]:
        rows.append([int(p), days[int(rng.integers(0, n_days))].isoformat(),
                     missing_or(0.4, round(float(rng.normal(-0.1, 0.2)), 6)),
                     int(rng.choice([100, 200, 300, 500]))])
    tables.append(dict(
        lib="crsp", name="msedelist", fmt="csv",
        cols=[("permno", "long"), ("dlstdt", "date"), ("dlret", "double"),
              ("dlstcd", "long")],
        rows=rows, extract=dict(rename="dlret=delret")))

    gvkeys = np.arange(1001, 1001 + n_permno)
    rows = []
    for g, p in zip(gvkeys, permnos):
        for k in range(2):
            rows.append([int(g), int(p), rng.choice(["LC", "LU", "LS"]).item(),
                         (dt.date(1990, 1, 1) + dt.timedelta(days=5000 * k)).isoformat(),
                         missing_or(0.5, (dt.date(2004, 1, 1) + dt.timedelta(days=5000 * k)).isoformat())
                         if k == 0 else "."])
    tables.append(dict(
        lib="crsp", name="ccmxpf_lnkhist", fmt="csv",
        cols=[("gvkey", "long"), ("lpermno", "long"), ("linktype", "string"),
              ("linkdt", "date"), ("linkenddt", "date")],
        rows=rows, extract=dict(where="linktype in ('LC', 'LU')")))

    # quarterly fundamentals keyed by permno; report dates unique per permno
    rows = []
    for p in permnos:
        rdqs = sorted(rng.choice(np.arange(-40, n_days + 60), size=8, replace=False))
        for r in rdqs:
            rdq = days[0] + dt.timedelta(days=int(r))
            rows.append([int(p), rdq.isoformat(),
                         missing_or(0.05, round(float(rng.uniform(10, 5000)), 3)),
                         missing_or(0.05, round(float(rng.normal(20, 50)), 3)),
                         missing_or(0.05, round(float(rng.uniform(5, 4000)), 3))])
    tables.append(dict(
        lib="comp", name="fundq", fmt="csv",
        cols=[("permno", "long"), ("rdq", "date"), ("atq", "double"),
              ("niq", "double"), ("ltq", "double")],
        rows=rows, extract=dict(keep="permno rdq atq niq", colTypes={"permno": "integer"})))

    rows = []
    for g in gvkeys:
        for y in range(2010, 2016):
            rows.append([int(g), y, missing_or(0.05, round(float(rng.uniform(10, 9000)), 3)),
                         missing_or(0.05, round(float(rng.uniform(1, 900)), 3)),
                         missing_or(0.05, round(float(rng.normal(50, 100)), 3))])
    tables.append(dict(
        lib="comp", name="funda", fmt="csv",
        cols=[("gvkey", "long"), ("fyear", "long"), ("at", "double"),
              ("sale", "double"), ("ni", "double")],
        rows=rows, extract=dict(where="fyear >= 2012")))

    rows = [[int(g), name_with_breaks(), word(2).upper(), missing_or(0.1, int(rng.integers(1000, 9999)))]
            for g in gvkeys]
    tables.append(dict(
        lib="comp", name="company", fmt="csv",
        cols=[("gvkey", "long"), ("conm", "string"), ("state", "string"), ("sic", "long")],
        rows=rows, extract=dict()))

    rows = []
    for g in gvkeys:
        for (y, m) in months:
            rows.append([int(g), dt.date(y, m, 28).isoformat(),
                         missing_or(0.05, round(float(rng.uniform(1, 300)), 4)),
                         missing_or(0.05, int(rng.integers(1, 10 ** 6)))])
    tables.append(dict(
        lib="comp", name="secm", fmt="csv",
        cols=[("gvkey", "long"), ("datadate", "date"), ("prccm", "double"),
              ("cshoq", "long")],
        rows=rows, extract=dict(keep="gvkey datadate prccm")))

    # the one native .sas7bdat table: numerics are doubles, NaN = missing
    rows = []
    for i, (y, m) in enumerate(months * max(1, int(20 * scale))):
        rows.append([float(i + 1), float(y * 100 + m),
                     None if rng.random() < 0.05 else round(float(rng.normal(0.01, 0.04)), 6),
                     None if rng.random() < 0.05 else round(float(rng.uniform(900, 4000)), 4),
                     word(8).upper()])
    tables.append(dict(
        lib="crsp", name="msi", fmt="sas7bdat",
        cols=[("seq", "double"), ("yyyymm", "double"), ("vwretd", "double"),
              ("spindx", "double"), ("tag", "string")],
        rows=rows, extract=dict(drop="tag", where="yyyymm >= 201503")))
    return tables


def sas_where(expr):
    """Evaluate the few SAS where shapes the table specs use, on typed rows
    (None = missing; SAS orders missing below every number, so a missing
    value never passes a `> const` or an IN list of non-missing values)."""
    e = expr.strip()
    if " in (" in e:
        col, rest = e.split(" in (", 1)
        vals = [v.strip().strip("'") for v in rest.rstrip(")").split(",")]
        col = col.strip()

        def f(row):
            v = row[col]
            if v is None:
                return False
            return str(v) in vals or (isinstance(v, (int, float)) and any(
                v == float(x) for x in vals if x.replace(".", "").isdigit()))
        return f
    for op in (">=", ">"):
        if op in e:
            col, const = (s.strip() for s in e.split(op, 1))
            c = float(const)
            if op == ">=":
                return lambda row: row[col] is not None and row[col] >= c
            return lambda row: row[col] is not None and row[col] > c
    raise ValueError(f"unsupported where in the generator: {expr}")


def typed_value(kind, raw):
    if raw is None:
        return None
    if isinstance(raw, str) and kind != "string" and (raw in SPECIAL or raw == ""):
        return None
    if kind == "long":
        return int(raw)
    if kind == "double":
        return float(raw)
    if kind == "date":
        return dt.date.fromisoformat(raw)
    if kind == "string":
        return raw.replace("\r", "").replace("\n", "")
    raise ValueError(kind)


def extracted(table):
    """(output column names, typed rows) after keep/drop/rename/where."""
    names = [c for c, _ in table["cols"]]
    kinds = dict(table["cols"])
    rows = [{c: typed_value(kinds[c], v) for c, v in zip(names, r)} for r in table["rows"]]
    ex = table["extract"]
    if "where" in ex:
        keep_row = sas_where(ex["where"])
        rows = [r for r in rows if keep_row(r)]
    out = names
    if "keep" in ex:
        ks = ex["keep"].split()
        out = [c for c in names if c in ks]
    if "drop" in ex:
        ds = ex["drop"].split()
        out = [c for c in out if c not in ds]
    ren = dict(p.split("=") for p in ex.get("rename", "").split()) if ex.get("rename") else {}
    return [ren.get(c, c) for c in out], [{ren.get(c, c): r[c] for c in out} for r in rows]


def write_sas_csv(path, table):
    """SAS PROC EXPORT shape: header, comma separated, quoted only when a
    field holds a comma, quote or line break."""
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
        w.writerow([c.upper() for c, _ in table["cols"]])
        for r in table["rows"]:
            w.writerow([fmt_num(v) if not isinstance(v, str) else v for v in r])


def write_sas7bdat(path, table):
    sys.path.insert(0, os.path.join(HERE, "..", "tools"))
    try:
        from make_sas7bdat_fixtures import build
    finally:
        sys.path.pop(0)
    cols = []
    for j, (name, kind) in enumerate(table["cols"]):
        vals = [r[j] for r in table["rows"]]
        if kind == "string":
            cols.append((name, "s", 8, vals))
        else:
            cols.append((name, "d", 8, vals))
    data = build(u64=True, page_kind="data", rows=len(table["rows"]), cols=cols,
                 page_size=65536)
    with open(path, "wb") as fh:
        fh.write(data)


def gen_wrds(out, seed, scale):
    import duckdb

    rng = rng_for(seed, 1)
    tables = wrds_tables(rng, scale)
    base = dt.datetime(2024, 1, 15, 9, 0, 0) + dt.timedelta(
        minutes=int(rng.integers(0, 600)), seconds=int(rng.integers(0, 60)))
    # a quarter of the tables is restamped each refresh cycle: the
    # .sas7bdat table (which also has a CSV sink) and two seeded small
    # tables, never the large daily file, so that every seed's refresh does
    # the same number of sink calls over tables of a similar size
    csv_subset = {"dsenames", "company", "msi"}
    names = [t["name"] for t in tables]
    light = [n for n in names if n not in csv_subset and n != "dsf"]
    stale_names = {"msi"} | {str(x) for x in rng.choice(light, size=2, replace=False)}
    stale = {i for i, n in enumerate(names) if n in stale_names}
    specs = []
    for i, t in enumerate(tables):
        d = os.path.join(out, "wrds", t["lib"])
        os.makedirs(d, exist_ok=True)
        fname = f"{t['name']}.{t['fmt']}"
        path = os.path.join(d, fname)
        (write_sas7bdat if t["fmt"] == "sas7bdat" else write_sas_csv)(path, t)
        s0 = base + dt.timedelta(seconds=37 * i)
        s1 = s0 + dt.timedelta(days=1 + int(rng.integers(0, 30)), seconds=int(rng.integers(1, 3600)))
        out_cols, rows = extracted(t)
        t["out_rows"] = rows
        specs.append(dict(
            lib=t["lib"], name=t["name"], fmt=t["fmt"],
            file=os.path.relpath(path, out), bytes=os.path.getsize(path),
            ddl=", ".join(f"{c} {dict(long='BIGINT', double='DOUBLE', string='STRING', date='DATE')[k]}"
                          for c, k in t["cols"]),
            extract=t["extract"],
            sinks=["parquet", "pg"] + (["csv"] if t["name"] in csv_subset else []),
            stamp0=stamp(s0), epoch0=stamp_epoch(s0),
            # refresh cycle c restamps the stale tables with a newer stamp
            cycle_stamps=[stamp(s1 + dt.timedelta(days=c)) for c in range(N_CYCLES)],
            cycle_epochs=[stamp_epoch(s1 + dt.timedelta(days=c)) for c in range(N_CYCLES)],
            stale=i in stale,
            expect=dict(rows=len(rows), columns=out_cols,
                        nulls={c: sum(1 for r in rows if r[c] is None) for c in out_cols})))

    # as-of checksum over the extracted daily and quarterly tables
    by = {t["name"]: t for t in tables}
    import pyarrow as pa
    con = duckdb.connect()
    d = pa.table({c: [r[c] for r in by["dsf"]["out_rows"]] for c in ("permno", "date", "prc")})
    q = pa.table({c: [r[c] for r in by["fundq"]["out_rows"]] for c in ("permno", "rdq", "atq", "niq")})
    con.register("d", d)
    con.register("q", q)
    rows, matched, atq_nonnull, sum_atq, sum_niq = con.execute(
        "SELECT count(*), count(q.rdq), count(q.atq), sum(q.atq), sum(q.niq) "
        "FROM d ASOF LEFT JOIN q ON d.permno = q.permno AND d.date >= q.rdq").fetchone()
    con.close()
    return dict(
        tables=specs,
        asof=dict(left="dsf", right="fundq", key="permno", left_time="date",
                  right_time="rdq", values=["atq", "niq"],
                  expect=dict(rows=rows, matched=matched, atq_nonnull=atq_nonnull,
                              sum_atq=sum_atq, sum_niq=sum_niq)))


# ---------------------------------------------------------- corpus_dedup

STOP = ("the", "a", "an", "and", "of", "is", "in", "to")


def quality_ok(text):
    """Curation.qualityFlags with its defaults, on whitespace tokens."""
    toks = text.split()
    n = len(toks)
    if not (20 <= n <= 80):
        return False
    mwl = sum(len(t) for t in toks) / n
    stop = sum(1 for t in toks if t in STOP) / n
    distinct = len(set(toks)) / n
    return 4.2 <= mwl <= 4.8 and stop >= 0.02 and distinct >= 0.35


def shingles(text, n=3):
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def make_vocab(rng, size, min_len, max_len, alphabet):
    words = set()
    while len(words) < size:
        k = int(rng.integers(min_len, max_len + 1))
        words.add("".join(alphabet[int(i)] for i in rng.integers(0, len(alphabet), size=k)))
    return sorted(words)


def gen_corpus(out, seed, scale):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = rng_for(seed, 2)
    n_web = max(300, int(800 * scale))
    n_cat = max(300, int(2700 * scale))
    tau = 0.6

    web_vocab = make_vocab(rng, 4000, 3, 7, "bcdfghjklmnpqrstvwxz" + "aeiouy")
    zipf = 1.0 / np.arange(1, len(web_vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    boiler = [" ".join(web_vocab[int(i)] for i in rng.integers(0, 400, size=10)) for _ in range(6)]
    # the catalog: thirteen 4-5 letter words and one stopword per doc, so its
    # ~2200 3-grams each sit in ~35 docs: uniformly dense postings, no
    # shingle above the router's hot threshold (64 docs; capped at 60
    # here), and a meet mass past its 2^20 pair limit
    cat_vocab = sorted(make_vocab(rng, 7, 4, 4, "bcdfghjklmnprstvw" + "aeiou")
                       + make_vocab(rng, 6, 5, 5, "bcdfghjklmnprstvw" + "aeiou"))
    cat_df = {}
    bench_vocab = make_vocab(rng, 300, 4, 5, "QXZJKV")  # disjoint from both

    docs = []  # (id, source, text)
    expect_dedup = {"web": set(), "catalog": set()}
    singletons = []
    fail = {"quality": set(), "duplicate": set(), "contaminated": set()}
    next_id = [1]

    def new_id():
        i = next_id[0]
        next_id[0] += 1
        return i

    def web_text():
        while True:
            n = int(rng.integers(30, 70))
            words = [web_vocab[int(i)] for i in rng.choice(len(web_vocab), size=n, p=zipf)]
            for sw in ("the", "of", "and"):
                words.insert(int(rng.integers(0, len(words))), sw)
            if rng.random() < 0.5:
                words = boiler[int(rng.integers(0, len(boiler)))].split() + words
            t = " ".join(words[:76])
            if quality_ok(t):
                return t

    def cat_text():
        while True:
            n = int(rng.integers(30, 35))
            words = [cat_vocab[int(i)] for i in rng.integers(0, len(cat_vocab), size=n)]
            words.insert(int(rng.integers(0, n)), "the")
            t = " ".join(words)
            if quality_ok(t) and cat_room(t):
                return t

    def cat_room(t, cap=60):
        return all(cat_df.get(g, 0) < cap for g in shingles(t))

    def variant(text, vocab, k_edits):
        """A near-duplicate: k word substitutions plus one appended word, so
        lengths differ and the Jaccard stays far above tau. None when no
        draw qualifies."""
        for _ in range(200):
            toks = text.split()
            for _ in range(k_edits):
                toks[int(rng.integers(3, len(toks) - 3))] = vocab[int(rng.integers(0, len(vocab)))]
            toks = toks + [vocab[int(rng.integers(0, len(vocab)))]] * int(rng.integers(1, 3))
            t = " ".join(toks)
            if quality_ok(t) and jaccard(t, text) >= tau + 0.15:
                return t
        return None

    def plant(source, n_docs, text_fn, vocab, family_share):
        made = 0
        while made < n_docs:
            base = text_fn()
            if rng.random() < family_share:
                members = [base] + [variant(base, vocab, 1) for _ in range(int(rng.integers(1, 4)))]
            else:
                members = [base]
            if None in members:
                continue
            ids = [new_id() for _ in members]
            # survivor: longest text (score = length), ties to the min id
            best = max(zip(members, ids), key=lambda p: (len(p[0]), -p[1]))
            if len({len(m) for m in members}) != len(members):
                # equal lengths would make the keeper a tie-break; re-draw
                continue
            if source == "catalog" and not all(cat_room(m) for m in members[1:]):
                continue
            for m, i in zip(members, ids):
                docs.append((i, source, m))
                if source == "catalog":
                    for g in shingles(m):
                        cat_df[g] = cat_df.get(g, 0) + 1
            expect_dedup[source].add(best[1])
            if len(members) == 1 and source == "web":
                singletons.append(ids[0])
            made += len(members)

    plant("web", n_web, web_text, web_vocab[:2000], 0.08)
    plant("catalog", n_cat, cat_text, cat_vocab, 0.08)

    # curation-gate failures, planted on web singletons so that editing a
    # text never changes which near-duplicate family it belongs to
    picks = rng.choice(singletons, size=3 * max(5, n_web // 100), replace=False)
    k = len(picks) // 3
    by_id = {d[0]: i for i, d in enumerate(docs)}
    bench_passages = [" ".join(bench_vocab[int(i)] for i in rng.integers(0, len(bench_vocab), size=40))
                      for _ in range(max(5, k))]
    for j, doc_id in enumerate(picks):
        i = by_id[int(doc_id)]
        _, src, text = docs[i]
        if j < k:  # too short for the quality gate; the tail, so that no
            # two truncated docs share a boilerplate header
            docs[i] = (int(doc_id), src, " ".join(text.split()[-12:]))
            fail["quality"].add(int(doc_id))
        elif j < 2 * k:  # carries a benchmark passage: contamination gate
            words = text.split()[:30] + ["the"] + bench_passages[j % len(bench_passages)].split()[:30]
            t = " ".join(words)
            docs[i] = (int(doc_id), src, t)
            fail["contaminated"].add(int(doc_id))
        else:  # verbatim copy into the catalog: the exact-dedup gate drops it
            copy_id = new_id()
            docs.append((copy_id, "catalog", text))
            expect_dedup["catalog"].add(copy_id)
            fail["duplicate"].add(copy_id)

    # a planted contaminated doc must still be a quality pass, or the gate
    # it is meant to fail would be masked by an earlier one
    for doc_id in list(fail["contaminated"]):
        if not quality_ok(docs[by_id[doc_id]][2]):
            fail["contaminated"].discard(doc_id)
            fail["quality"].add(doc_id)

    ids = np.array([d[0] for d in docs], dtype=np.int64)
    # the id column is doc_id: dedupCorpusBy fails on a column named "id"
    table = pa.table({"doc_id": ids, "source": [d[1] for d in docs], "text": [d[2] for d in docs]})
    os.makedirs(os.path.join(out, "corpus"), exist_ok=True)
    pq.write_table(table, os.path.join(out, "corpus", "docs.parquet"), compression="snappy")
    bench = pa.table({"id": np.arange(len(bench_passages), dtype=np.int64), "text": bench_passages})
    pq.write_table(bench, os.path.join(out, "corpus", "benchmark.parquet"))

    cat_mass = sum(c * (c - 1) // 2 for c in cat_df.values())
    kept = (expect_dedup["web"] | expect_dedup["catalog"]) - fail["quality"] - fail["duplicate"] \
        - fail["contaminated"]
    return dict(
        docs="corpus/docs.parquet", benchmark="corpus/benchmark.parquet",
        n_docs=len(docs), n=3, tau=tau, sources=["web", "catalog"],
        catalog_meet_mass=cat_mass, catalog_max_df=max(cat_df.values()),
        expect=dict(dedup={s: sorted(v) for s, v in expect_dedup.items()},
                    gate_failures={g: sorted(v) for g, v in fail.items()},
                    survivors=sorted(kept)))


# ------------------------------------------------------------ ann_search


def gen_ann(out, seed, scale):
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = rng_for(seed, 3)
    dim, n_clusters = 64, 16
    n = max(1000, int(2000 * scale))
    n_queries, batch = 2, max(50, int(200 * scale))

    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def sample(m):
        c = rng.integers(0, n_clusters, size=m)
        v = centers[c] + 0.6 * rng.normal(size=(m, dim)) / np.sqrt(dim)
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    # vectors are stored as float32 (graft's vector layout); the exact
    # answers are computed on the stored values
    base = sample(n).astype(np.float32).astype(np.float64)
    queries = sample(n_queries)
    appended = sample(batch)
    for q in range(n_queries):  # one appended vector planted next to each query
        p = queries[q] + 0.02 * rng.normal(size=dim) / np.sqrt(dim)
        appended[q] = p / np.linalg.norm(p)
    appended = appended.astype(np.float32).astype(np.float64)
    planted = [(q, n + q + 1) for q in range(n_queries)]

    os.makedirs(os.path.join(out, "ann"), exist_ok=True)

    def write(path, vecs, first_id):
        ids = np.arange(first_id, first_id + len(vecs), dtype=np.int64)
        arr = pa.array([row.astype(np.float32).tolist() for row in vecs], type=pa.list_(pa.float32()))
        pq.write_table(pa.table({"id": ids, "vec": arr}), path)

    write(os.path.join(out, "ann", "base.parquet"), base, 1)
    write(os.path.join(out, "ann", "append.parquet"), appended, n + 1)

    # exact top-10 by cosine (unit vectors: dot), before and after the append
    allv = np.vstack([base, appended])
    truth = []
    for m in (n, n + batch):
        top = np.argsort(-(queries @ allv[:m].T), axis=1, kind="stable")[:, :10] + 1
        truth.append(top.tolist())
    return dict(
        base="ann/base.parquet", batch="ann/append.parquet", n=n, dim=dim, batch_size=batch,
        queries=[[float(x) for x in q] for q in queries],
        clusters=n_clusters, k=10, nprobe=4, shortlist=100,
        expect=dict(top10=truth, planted=planted))


def gen_corpus_and_index(out, seed, scale):
    body = gen_corpus(out, seed, scale)
    body["ann"] = gen_ann(out, seed, scale)
    return body


GENERATORS = {"wrds_refresh": gen_wrds, "corpus_dedup": gen_corpus_and_index}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    body = GENERATORS[a.workload](a.out, a.seed, a.scale)
    manifest = dict(workload=a.workload, seed=a.seed, scale=a.scale, **body)
    manifest["input_hash"] = input_hash(a.out)
    with open(os.path.join(a.out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)


if __name__ == "__main__":
    main()

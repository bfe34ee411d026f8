#!/usr/bin/env python3
"""Benchmark of the exness tick engine through its public entry points.

    python3 perfbench/run.py --workload forex_query --seed 1 --seconds 12 --trace 0

Workloads (see README.md for the why of each):
  forex_query     the seeded request mix over a warehouse set-up builds with updateData
  operator_suite  a fixed list of `SparkEntry.queries`, each consumed in full

Run from the root of a checkout. The first run compiles the program and the
JVM harness into `.bench_build/` (or `$CARGO_TARGET_DIR`); every input and
output lives there too. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`.
"""
import argparse
import bisect
import datetime
import glob
import hashlib
import json
import math
import os
import random
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tables  # noqa: E402
import ticks  # noqa: E402
import tracer  # noqa: E402

WORKLOADS = ("forex_query", "operator_suite")
CORES = max(1, min(4, len(os.sched_getaffinity(0))))
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# operator_suite: (query, module that owns the operator it exercises)
# one untimed run of a cheap query first takes Spark's first-use costs
# (code generation, class loading) out of the timed pass
SUITE_WARMUP = ("q_asof_join", "operators")
SUITE = (
    ("q_dedup_groups", "text"),
    ("q_asof_join", "operators"),
    ("q_asof_bucketed", "operators"),
    ("q_ann_pq", "vector"),
    ("q_stream_asof", "streaming"),
)

# p80 is the highest percentile with at least ten of forex_query's 60
# timed operations beyond it
END_TO_END = (("setup_s", "s"), ("p50_ms", "ms"), ("p80_ms", "ms"), ("ops_per_s", "1/s"))


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                d = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BenchError("no SPARK_HOME and no unmanagedBase in build.sbt")
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark/Scala jars under {d} (set SPARK_HOME)")
    return d


def sources_hash(files, salt=""):
    h = hashlib.sha1(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, files, out):
    compiler = ":".join(sorted(glob.glob(os.path.join(jars, n)))[0] for n in (
        "scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar"))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", tmp] + files
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build():
    """Compile the program and the harness once per source state."""
    src = os.path.join(ROOT, "src", "main", "scala")
    main_files = sorted(glob.glob(os.path.join(src, "**", "*.scala"), recursive=True))
    if not main_files:
        raise BenchError(f"no program sources under {src}")
    harness_files = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    jars = spark_jars()
    root = build_dir()
    main_out = os.path.join(root, "classes-" + sources_hash(main_files))
    if not os.path.isdir(main_out):
        log("compiling the program ...")
        scalac(jars, os.path.join(jars, "*"), main_files, main_out)
    harness_out = os.path.join(root, "harness-" + sources_hash(harness_files, main_out))
    if not os.path.isdir(harness_out):
        scalac(jars, main_out + ":" + os.path.join(jars, "*"), harness_files, harness_out)
    return ":".join([harness_out, main_out, os.path.join(jars, "*")])


def run_jvm(classpath, workload, plan, work, seconds, trace):
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    plan = [("cores", CORES), ("scratch", tmp)] + plan
    plan_file = os.path.join(work, "plan.tsv")
    with open(plan_file, "w") as f:
        for line in plan:
            f.write("\t".join(str(x) for x in line) + "\n")
    env = dict(os.environ, SPARK_GRAFT_GATE_TMP=tmp)
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-Dspark.callstack.depth=200",
            "-cp", classpath, "perfbench.Harness", workload, plan_file, out,
            str(seconds), str(trace)])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        try:
            r = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness exceeded {JVM_TIMEOUT_S}s")
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness exited {r.returncode}:\n{tail}")
    ops = [json.loads(l) for l in open(os.path.join(out, "ops.jsonl"))]
    summary = json.load(open(os.path.join(out, "summary.json")))
    records = []
    if trace:
        records = [json.loads(l) for l in open(os.path.join(out, "trace.jsonl"))]
    return ops, summary, records, out


def end_to_end(setup_s, timed, summary):
    """The end-to-end metrics over the timed operations, plus the report
    figures every workload shares. Throughput is taken over the summed
    operation walls, so the harness's own work between operations (result
    digests, oracle dumps) does not count."""
    lat = [o["ms"] for o in timed]
    e2e = {"setup_s": setup_s,
           "p50_ms": tracer.percentile(lat, 50),
           "p80_ms": tracer.percentile(lat, 80),
           "ops_per_s": len(lat) / (sum(lat) / 1000)}
    report = {"timed_ops": len(lat), "peak_rss_mb": summary["peak_rss_kb"] / 1024,
              "rows_per_s": sum(o["rows"] for o in timed) / (sum(lat) / 1000),
              "cpu_ms_per_op": summary["timed_cpu_ms"] / len(lat)}
    return e2e, report


# ---- result digests (same line formats as Harness.scala) -----------------

def digest(lines):
    h = hashlib.sha1()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def tick_lines(rows):
    return (f"{t}|{b}|{a}" for t, b, a in rows)


def bar_lines(bars):
    return (f"{m}|{b[0]}|{b[1]}|{b[2]}|{b[3]}|{b[4]}" for m, b in bars)


def day_us(date):
    y, m, d = map(int, date.split("-"))
    lo, _ = ticks.month_bounds_us(y, m)
    return lo + (d - 1) * ticks.US_PER_DAY


def date_of(t_us):
    return (ticks.EPOCH + datetime.timedelta(microseconds=t_us)).date().isoformat()


# ---- forex data ----------------------------------------------------------

class Store:
    """What a warehouse holds after the archives were ingested, per pair.
    Filled once, then read: the sorted rows and bars are computed once."""

    def __init__(self):
        self.ticks = {}   # (pair, variant) -> {ts: (bid, ask)}
        self._sorted, self._bars = {}, {}

    def add(self, pair, raw, std):
        self.ticks.setdefault((pair, "raw_spread"), {}).update(raw.ticks)
        self.ticks.setdefault((pair, "standard"), {}).update(std.ticks)

    def sorted(self, pair, variant):
        if (pair, variant) not in self._sorted:
            d = self.ticks[(pair, variant)]
            ts = sorted(d)
            self._sorted[(pair, variant)] = ts, [(t,) + d[t] for t in ts]
        return self._sorted[(pair, variant)]

    def bars(self, pair):
        if pair not in self._bars:
            self._bars[pair] = ticks.ohlc_1m(self.ticks[(pair, "raw_spread")])
        return self._bars[pair]


def make_archives(seed, months, sizes, directory):
    """Writes every (pair, month) archive pair; returns {(pair, month):
    (raw, std, raw_path, std_path)}."""
    out = {}
    for pair, n in sizes.items():
        for y, m in months:
            raw, std = ticks.month_archives(seed, pair, y, m, n, n)
            sub = os.path.join(directory, pair)
            paths = []
            for a, variant in ((raw, "raw"), (std, "std")):
                paths.append(ticks.write_archive(a, os.path.join(sub, variant)))
            out[(pair, f"{y}{m:02d}")] = (raw, std, paths[0], paths[1])
    return out


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# ---- workloads -----------------------------------------------------------

def query_requests(seed, store, pairs, months):
    """The request list of one pass: a fixed mix of kinds and range shapes
    whose dates and price bands come from the seed. Returns (warm-up list
    with one request per kind and timeframe, timed list)."""
    rng = random.Random(f"{seed}/requests")
    days = []
    for y, m in months:
        lo, hi = ticks.month_bounds_us(y, m)
        days += [date_of(t) for t in range(lo, hi, ticks.US_PER_DAY) if not ticks.is_saturday(t)]

    def day():
        d = rng.choice(days)
        return d, d

    def week():
        i = rng.randrange(len(days) - 7)
        return days[i], date_of(day_us(days[i]) + 6 * ticks.US_PER_DAY)

    def month():
        y, m = rng.choice(months)
        lo, hi = ticks.month_bounds_us(y, m)
        return date_of(lo), date_of(hi)

    def crossing():  # three days across a month boundary
        y, m = rng.choice(months[1:])
        lo, _ = ticks.month_bounds_us(y, m)
        return date_of(lo - 2 * ticks.US_PER_DAY), date_of(lo)

    def everything():
        return "-", "-"

    slot = iter(range(1000))

    def pair():  # alternates, so every seed asks the same pairs in the same slots
        return pairs[next(slot) % len(pairs)]

    def band():
        p, (d, _) = pair(), day()
        ts, rows = store.sorted(p, "raw_spread")
        mid = rows[min(bisect.bisect_left(ts, day_us(d)), len(rows) - 1)][1]
        return ("ticks", p, "raw_spread", d, d, ticks.fmt_px(mid - 15), ticks.fmt_px(mid + 15), 0)

    def timed():
        reqs = [("ohlc", pair(), "1m") + r() for r in (day, week, month, everything)]
        reqs += [("ohlc", pair(), tf) + r() for tf, r in (
            ("5m", day), ("15m", week), ("30m", month), ("1h", everything),
            ("4h", week), ("1d", everything))]
        reqs += [("ticks", pair(), "raw_spread") + r() + ("-", "-", 0) for r in (day, week)]
        reqs += [("ticks", pair(), "standard") + day() + ("-", "-", 0),
                 ("ticks", pair(), "raw_spread") + crossing() + ("-", "-", 0),
                 band(),
                 ("ticks", pair(), "raw_spread") + day() + ("-", "-", 1)]
        reqs += [("tpage", pair(), "standard", 400, 3) + crossing(),
                 ("opage", pair(), "-", 800, 3) + everything(),
                 ("tbatch", pair(), "raw_spread", 400, 2) + crossing(),
                 ("obatch", pair(), "-", 800, 2) + crossing()]
        reqs += [("coverage", pair()), ("missing", pair()), ("dates", pair()), ("instruments",)]
        return reqs

    kinds = {}
    for r in timed():
        kinds.setdefault((r[0], r[2] if r[0] == "ohlc" else None), r)
    warm = [(f"w{i}",) + r for i, r in enumerate(kinds.values())]
    # two draws of the mix: no request repeats, so no result is served from
    # a plan or code cache warmed by the same request earlier in the pass
    return warm, [(f"r{i}",) + r for i, r in enumerate(timed() + timed())]


def expected_answer(store, req, clock):
    """(row count, key digest) or the exact answer string of a request."""
    kind = req[1]
    if kind == "ticks":
        _, _, pair, variant, start, end, lo, hi, zero = req
        ts, rows = store.sorted(pair, variant)
        a = 0 if start == "-" else bisect.bisect_left(ts, day_us(start))
        b = len(ts) if end == "-" else bisect.bisect_left(ts, day_us(end) + ticks.US_PER_DAY)
        sel = rows[a:b]
        if lo != "-":
            lo_k, hi_k = (round(float(x) * 1e5) for x in (lo, hi))
            sel = [r for r in sel if lo_k <= r[1] <= hi_k]
        if int(zero):
            sel = [r for r in sel if r[1] == r[2]]
        return len(sel), digest(tick_lines(sel))
    if kind == "ohlc":
        _, _, pair, tf, start, end = req
        bars = select_bars(store.bars(pair), start, end)
        minutes = {"1m": 1, "5m": 5, "15m": 15, "30m": 30, "1h": 60, "4h": 240, "1d": 1440}[tf]
        if minutes > 1:
            bars = {m: b[:5] for m, b in ticks.resample(bars, minutes).items()}
        items = sorted(bars.items())
        return len(items), digest(bar_lines(items))
    pair = req[2] if len(req) > 2 else None
    if kind == "coverage":
        raw = store.ticks[(pair, "raw_spread")]
        return "|".join(str(x) for x in (len(raw), len(store.ticks[(pair, "standard")]),
                                          len(store.bars(pair)), min(raw), max(raw)))
    if kind == "missing":
        have = {date_of(t)[:7] for t in store.ticks[(pair, "raw_spread")]}
        y, m = map(int, min(have).split("-"))
        cy, cm = map(int, clock.split("-"))
        out = []
        while (y, m) <= (cy, cm):
            if f"{y:04d}-{m:02d}" not in have:
                out.append(f"{y:04d}-{m:02d}")
            y, m = (y + 1, 1) if m == 12 else (y, m + 1)
        return ",".join(out)
    if kind == "instruments":
        return ",".join(sorted({p for p, _ in store.ticks}))
    if kind == "dates":
        raw = store.ticks[(pair, "raw_spread")]
        return f"{date_of(min(raw))}|{date_of(max(raw))}"
    raise BenchError(f"unknown request kind {kind}")


def select_bars(bars, start, end):
    lo = -1 if start == "-" else day_us(start)
    hi = float("inf") if end == "-" else day_us(end) + ticks.US_PER_DAY
    return {m: b for m, b in bars.items() if lo <= m < hi}


def walk_expected(store, req, rows):
    """Key digest of the first `rows` rows of the walk's direct ordered scan."""
    _, kind, pair, variant, _, _, start, end = req
    if kind in ("tpage", "tbatch"):
        n, _ = expected_answer(store, (None, "ticks", pair, variant, start, end, "-", "-", 0),
                               None)
        ts, all_rows = store.sorted(pair, variant)
        a = 0 if start == "-" else bisect.bisect_left(ts, day_us(start))
        return n, digest(tick_lines(all_rows[a:a + rows]))
    items = sorted(select_bars(store.bars(pair), start, end).items())
    return len(items), digest(bar_lines(items[:rows]))


def forex_query(seed, seconds, trace, classpath, work):
    months = [(2024, 1), (2024, 2)]
    sizes = {"EURUSD": 150000, "GBPUSD": 20000}
    data = os.path.join(work, "in")
    archives = make_archives(seed, months, sizes, data)
    store = Store()
    for (pair, _), (raw, std, _, _) in sorted(archives.items()):
        store.add(pair, raw, std)
    pairs = sorted(sizes)
    warm, reqs = query_requests(seed, store, pairs, months)
    plan = [("root", os.path.join(work, "wh"))]
    plan += [("month", p, "all", os.path.join(data, p, "raw"), os.path.join(data, p, "std"))
             for p in pairs]
    plan += [("warm",) + r for r in warm] + [("req",) + r for r in reqs]
    ops, summary, records, _ = run_jvm(classpath, "forex_query", plan, work, seconds, trace)

    failed, attempted = 0, 0
    by_id = {r[0]: r for r in warm + reqs}
    for o in ops:
        if o.get("kind") != "update":
            continue
        attempted += 1
        pair = o["id"].split("/")[0]
        mine = [v for (p, _), v in archives.items() if p == pair]
        ok = (o["ticks"] == sum(len(r.ticks) + len(s.ticks) for r, s, _, _ in mine)
              and o["bad"] == sum(r.bad + s.bad for r, s, _, _ in mine)
              and o["months"] == len(months) and o["bars"] == len(store.bars(pair)))
        failed += not ok
        if not ok:
            log(f"wrong UpdateResult for {o['id']}: {o}")
    full = {}
    for o in ops:
        if o["phase"] not in ("timed", "warm", "walk"):
            continue
        if o.get("walk"):
            attempted += 1  # each page; checked as part of its walk
            continue
        attempted += o["phase"] != "walk"
        req = by_id[o["id"]]
        if o["phase"] == "walk":
            n, key = walk_expected(store, req, o["rows"])
            pages, size = req[5], req[4]
            ok = o["key"] == key and o["rows"] == min(n, pages * size)
        elif o["kind"] == "meta":
            ok = o["answer"] == expected_answer(store, req, o["clock"])
        else:
            n, key = expected_answer(store, req, None)
            ok = (o["rows"], o["key"]) == (n, key)
            ok = ok and full.setdefault(o["id"], o["full"]) == o["full"]
        if not ok:
            failed += 1
            log(f"wrong result for {o['id']} {req}: {o}")
    timed = [o for o in ops if o["phase"] == "timed"]
    setup_ms = sum(o["ms"] for o in ops if o["phase"] in ("setup", "warm") and "ms" in o)
    e2e, report = end_to_end(setup_ms / 1000, timed, summary)

    def p50(pred):
        xs = [o["ms"] for o in timed if pred(o)]
        return tracer.percentile(xs, 50) if xs else None

    updates = [o for o in ops if o.get("kind") == "update"]
    report.update({
        "ingest_ticks_per_s": sum(o["ticks"] for o in updates) / sum(o["ms"] / 1000 for o in updates),
        "stored_bytes_per_tick": dir_bytes(updates[0]["warehouse"]) /
        sum(len(v) for v in store.ticks.values()),
        "ohlc_p50_ms": p50(lambda o: o["kind"] == "ohlc" and o["tf"] == "1m"),
        "resample_p50_ms": p50(lambda o: o["kind"] == "ohlc" and o["tf"] != "1m"),
        "ticks_p50_ms": p50(lambda o: o["kind"] == "ticks"),
        "page_p50_ms": p50(lambda o: o["kind"] in ("tpage", "opage", "tbatch", "obatch")),
        "meta_p50_ms": p50(lambda o: o["kind"] == "meta"),
    })
    extra = {}
    if trace:
        plans = [o for o in ops if o["phase"] == "plan" and o["of"] == "timed"]
        extra = {"storage.plan_ms": tracer.percentile([p["plan_ms"] for p in plans], 50),
                 "_plans": plans}
    return Result(attempted, failed, e2e, report, ops, summary, records, extra)


def operator_suite(seed, seconds, trace, classpath, work):
    data = os.path.join(work, "tables")

    tables.write_tables(seed, data, n_events=3000, n_docs=150, n_vecs=300)
    plan = [("data", data), ("warm",) + SUITE_WARMUP] + [("query",) + q for q in SUITE]
    ops, summary, records, out = run_jvm(classpath, "operator_suite", plan, work, seconds, trace)
    timed = [o for o in ops if o["phase"] == "timed"]
    failed = 0
    first = {}
    for o in timed:
        if first.setdefault(o["id"], o)["full"] != o["full"]:
            failed += 1
            log(f"{o['id']} returned different rows on pass {o['pass']}")
    bad = oracle_mismatches(data, out, [q for q, _ in SUITE])
    failed += len(bad)
    for q, why in bad.items():
        log(f"oracle mismatch {q}: {why}")
    setup_s = sum(o["ms"] for o in ops if o["phase"] == "setup") / 1000
    # the operation is a whole pass over the suite: single query walls are
    # too few per run (five) and too unlike each other for a stable median
    passes = [{"ms": sum(o["ms"] for o in timed if o["pass"] == p),
               "rows": sum(o["rows"] for o in timed if o["pass"] == p)}
              for p in sorted({o["pass"] for o in timed})]
    e2e, report = end_to_end(setup_s, passes, summary)
    report.update({"suite_total_s": passes[0]["ms"] / 1000})
    report.update({f"{q}_ms": first[q]["ms"] for q, _ in SUITE})
    return Result(len(timed), failed, e2e, report, ops, summary, records, {})


def oracle_mismatches(data, out, queries):
    """Runs each query's DuckDB oracle over the same tables and compares
    rows exactly (columns sorted by name, row order as returned) — the
    comparison of tools/check.py, which runs on import and so cannot be
    reused as a module."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))

    def canon(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, datetime.datetime) and v.tzinfo is not None:
            return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v

    def rows(tbl):
        cols = sorted(tbl.column_names)
        d = tbl.select(cols).to_pydict()
        return cols, [tuple(canon(d[c][i]) for c in cols) for i in range(tbl.num_rows)]

    bad, answers = {}, {}
    for q in queries:
        try:
            got = rows(pq.read_table(os.path.join(out, "out", q)))
            if oracle[q] not in answers:
                answers[oracle[q]] = rows(con.execute(oracle[q]).fetch_arrow_table())
            want = answers[oracle[q]]
        except Exception as e:  # a missing dump or an oracle error is a failure
            bad[q] = str(e)[:300]
            continue
        if got != want:
            bad[q] = f"{len(got[1])} rows vs oracle {len(want[1])}"
    return bad


class Result:
    def __init__(self, attempted, failed, e2e, report, ops, summary, records, extra):
        self.attempted, self.failed = attempted, failed
        self.e2e, self.report = e2e, report
        self.ops, self.summary, self.records, self.extra = ops, summary, records, extra


# ---- per-layer metrics ---------------------------------------------------

def per_layer(result):
    files = tracer.module_map(os.path.join(ROOT, "src", "main", "scala"))
    spans = {o["span"]: (o["t0"], o["t1"]) for o in result.ops if "span" in o}
    out, layer_of, timed_jobs = tracer.layer_metrics(result.records, spans, files)
    timed_spans = {o["span"] for o in result.ops if o.get("phase") == "timed" and "span" in o}
    out["ingest.jobs_timed"] = sum(1 for j in timed_jobs if int(j["span"]) in timed_spans
                                   and layer_of[j["job"]] == "ingest")
    extra = dict(result.extra)
    plans = extra.pop("_plans", [])
    jobs_by_span = {}
    for j in timed_jobs:
        jobs_by_span.setdefault(int(j["span"]), set()).add(j["job"])
    sql = [r for r in result.records if r["type"] == "sql"]
    ranged = {o["id"]: o for o in result.ops
              if o.get("phase") == "timed" and o.get("kind") in ("ticks", "ohlc")}
    files_read = scan_rows = table_files = rows_out = 0
    for p in plans:
        o = ranged.get(p["id"])
        if o is None:
            continue
        mine = jobs_by_span.get(o["span"], set())
        for s in sql:
            if mine.intersection(s["jobs"]):
                files_read += s["files_read"]
                scan_rows += s["scan_rows"]
        table_files += p["table_files"]
        rows_out += o["rows"]
    stages = {r["stage"]: r for r in result.records if r["type"] == "stage"}
    stage_jobs = {}  # a stage belongs to the first job that lists it, as in tracer.py
    for j in sorted(timed_jobs, key=lambda j: j["job"]):
        for st in j["stages"]:
            stage_jobs.setdefault(st, j["job"])
    progress = [r for r in result.records if r["type"] == "progress"]
    state_rows = {}
    for r in progress:
        state_rows[r["query"]] = max(state_rows.get(r["query"], 0), r["state_rows"])
    out.update({
        "storage.files_read_ratio": files_read / table_files if table_files else 0,
        "storage.rows_read_per_row_returned": scan_rows / rows_out if rows_out else 0,
        "storage.bytes_written": sum(stages[s]["output_bytes"] for s in stage_jobs
                                     if s in stages),
        "storage.manifest_jobs": sum(1 for j in timed_jobs
                                     if tracer.site_frame(j["site"], files)[1] == "Manifest.scala"),
        "storage.plan_ms": 0,
        "ohlc.bars_written": sum(stages[s]["output_rows"] for s, j in stage_jobs.items()
                                 if s in stages and layer_of[j] == "ohlc"),
        "query.pages": sum(1 for o in result.ops if o.get("phase") == "timed"
                           and o.get("kind") in ("tpage", "opage", "tbatch", "obatch")),
        "streaming.batches": len(progress),
        "streaming.state_commit_ms": sum(r["commit_ms"] for r in progress),
        "streaming.state_rows": sum(state_rows.values()),
        "jvm.gc_ms": result.summary["gc_ms"],
    })
    out.update(extra)
    return out


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        classpath = build()
        work = os.path.join(build_dir(), "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        fn = {"forex_query": forex_query, "operator_suite": operator_suite}[args.workload]
        try:
            res = fn(args.seed, args.seconds, args.trace, classpath, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except BenchError as e:
        log(f"perfbench: {e}")
        return 2
    units = dict(END_TO_END)
    print("end_to_end " + json.dumps({k: {"value": v, "unit": units[k]}
                                      for k, v in res.e2e.items()}))
    report = dict(res.report, failed_ratio=res.failed / res.attempted)
    print("report " + json.dumps({k: {"value": v, "unit": report_unit(k)}
                                  for k, v in report.items()}))
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)}
                   for k, v in sorted(per_layer(res).items())}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res.e2e.items()}
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


REPORT_UNITS = {"rows_per_s": "rows/s", "ingest_ticks_per_s": "ticks/s",
                "stored_bytes_per_tick": "B/tick", "failed_ratio": "ratio",
                "suite_total_s": "s", "timed_ops": "count", "peak_rss_mb": "MB"}


def report_unit(name):
    return REPORT_UNITS.get(name, "ms")  # every other report figure is a latency


def layer_unit(name):
    field = name.split(".", 1)[1]
    if field.endswith("_ms"):
        return "ms"
    if field.endswith("_bytes") or field == "bytes_written":
        return "bytes"
    if field.endswith("ratio") or field.endswith("per_row_returned"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())

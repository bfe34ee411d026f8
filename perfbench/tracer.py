"""Attribution of traced Spark work to this repo's modules.

`Tracer.scala` records raw facts (jobs with their call-site stacks, stages
with task metrics, SQL scan metrics, streaming progress). This module maps
each job to a layer and aggregates the per-layer metrics:

* a job belongs to the innermost frame of its call-site stack whose source
  file lives under `src/main/scala/graft/<module>/` for a module that is a
  layer (`calendar` counts as `ohlc`);
* a job with no such frame (an adaptive query stage, broadcast or subquery
  run on a pool thread) takes the layer of the call site of its SQL
  execution, then of the execution's root, then of the other jobs of its
  execution, then `streaming` if a streaming query ran it, then the module
  that owns the public call it ran under (a result consumed by the
  benchmark itself ends here);
* anything left is `other`.
"""
import os
import re
from collections import Counter, defaultdict

LAYERS = ("api", "ingest", "storage", "ohlc", "query", "operators", "text",
          "vector", "streaming")
ALIASES = {"calendar": "ohlc"}
LAYER_FIELDS = ("jobs", "tasks", "task_ms", "gc_ms", "shuffle_bytes",
                "spill_bytes", "input_bytes", "self_ms")
FRAME = re.compile(r"([\w$.]+)\.[\w$<>]+\(([\w$]+\.scala):\d+\)")


def module_map(src_root):
    """{file name: module} for every Scala file under `src_root`/graft/<module>/.
    Files directly under graft/ belong to no module."""
    base = os.path.join(src_root, "graft")
    files = {}
    for dirpath, _, names in os.walk(base):
        rel = os.path.relpath(dirpath, base)
        if rel == ".":
            continue
        module = rel.split(os.sep)[0]
        for n in names:
            if n.endswith(".scala"):
                files[n] = module
    return files


def frame_layer(frame, files):
    """Layer of one stack frame, or None when it is not layer code."""
    m = FRAME.search(frame)
    if not m:
        return None
    cls, fname = m.groups()
    module = files.get(fname)
    if module is None or not cls.startswith(f"graft.{module}."):
        return None
    layer = ALIASES.get(module, module)
    return layer if layer in LAYERS else None


def site_frame(site, files):
    """(layer, file name) of the innermost layer frame of a call-site stack,
    or (None, None)."""
    for frame in site.split("\n"):
        layer = frame_layer(frame, files)
        if layer:
            return layer, FRAME.search(frame).group(2)
    return None, None


def site_layer(site, files):
    return site_frame(site, files)[0]


def attribute(jobs, files, executions=None):
    """{job id: layer} for job records (dicts with site, sql, stream, owner).
    `executions` maps an SQL execution id to (root id, call site)."""
    executions = executions or {}

    def exec_layer(sql):
        root, site = executions.get(sql, (None, ""))
        layer = site_layer(site, files)
        if layer is None and root is not None and root != sql:
            layer = site_layer(executions.get(root, (None, ""))[1], files)
        return layer

    out = {j["job"]: site_layer(j.get("site") or "", files) for j in jobs}
    for j in jobs:
        if out[j["job"]] is None and j.get("sql") is not None:
            out[j["job"]] = exec_layer(int(j["sql"]))
    by_sql = defaultdict(Counter)
    for j in jobs:
        if out[j["job"]] and j.get("sql") is not None:
            by_sql[j["sql"]][out[j["job"]]] += 1
    for j in jobs:
        if out[j["job"]]:
            continue
        votes = by_sql.get(j.get("sql"))
        if votes:
            out[j["job"]] = votes.most_common(1)[0][0]
        elif j.get("stream"):
            out[j["job"]] = "streaming"
        elif j.get("owner") in LAYERS:
            out[j["job"]] = j["owner"]
        else:
            out[j["job"]] = "other"
    return out


def union_ms(intervals):
    """Total length of the union of [t0, t1] intervals."""
    total, end = 0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def uncovered_ms(span, intervals):
    """Time inside `span` = (t0, t1) covered by none of `intervals`."""
    t0, t1 = span
    clipped = [(max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1]
    return (t1 - t0) - union_ms(clipped)


def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def layer_metrics(records, spans, files):
    """Per-layer totals over the jobs run under `spans` ({span id: (t0, t1)}).

    Returns ({"<layer>.<field>": value}, {job id: layer}, timed job list).
    """
    jobs = {r["job"]: dict(r) for r in records if r["type"] == "job"}
    for r in records:
        if r["type"] == "job_end" and r["job"] in jobs:
            jobs[r["job"]]["t1"] = r["t1"]
    timed = [j for j in jobs.values() if j.get("span") is not None
             and int(j["span"]) in spans and "t1" in j]
    executions = {r["sql"]: (r.get("root"), r["site"]) for r in records
                  if r["type"] == "sql_start"}
    layer_of = attribute(timed, files, executions)
    stage_job = {}
    for j in sorted(timed, key=lambda j: j["job"]):
        for s in j["stages"]:
            stage_job.setdefault(s, j["job"])
    out = {f"{layer}.{f}": 0 for layer in LAYERS + ("other",) for f in LAYER_FIELDS}
    for j in timed:
        out[f"{layer_of[j['job']]}.jobs"] += 1
    for r in records:
        if r["type"] != "stage" or r["stage"] not in stage_job:
            continue
        layer = layer_of[stage_job[r["stage"]]]
        out[f"{layer}.tasks"] += r["tasks"]
        for f in ("task_ms", "gc_ms", "shuffle_bytes", "spill_bytes", "input_bytes"):
            out[f"{layer}.{f}"] += r[f]
    by_layer = defaultdict(list)
    for j in timed:
        by_layer[layer_of[j["job"]]].append((j["t0"], j["t1"]))
    for layer, iv in by_layer.items():
        out[f"{layer}.self_ms"] = union_ms(iv)
    all_iv = [(j["t0"], j["t1"]) for j in timed]
    out["api.driver_ms"] = sum(uncovered_ms(s, all_iv) for s in spans.values())
    return out, layer_of, timed

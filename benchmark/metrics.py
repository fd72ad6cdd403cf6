"""Arithmetic of the benchmark, kept apart from I/O so it can be unit tested.

Input is the raw JSON one workload JVM writes (see src/Main.scala): setup
times, per-iteration wall times and op latencies, output-check counts, the
workload's summary facts and, in a traced run, the trace records.
"""
import math
import statistics
from collections import defaultdict

# Layers are named after the program's modules; `bench` is harness glue.
LAYERS = ("bench", "sources", "plans", "codegen", "exec", "pipeline", "io", "ext")
CDC_OPS = ("insert", "merge", "delete", "scan", "point")
PIPELINE_STAGES = ("bronze", "silver", "gold", "warehouse", "documents")
PHASES = {"analysis": "plans.analysis", "optimization": "plans.optimizer",
          "planning": "plans.planning"}
TOLERANCE_MS = 2.0  # listener clocks have millisecond resolution


# ---- order statistics ----------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest whole percentile that still has at least `beyond` samples
    above it (nearest-rank), as (percentile, value). None when that
    percentile would not reach the median, i.e. fewer than 2 * beyond
    samples."""
    n = len(xs)
    if n < 2 * beyond:
        return None
    p = math.floor(100 * (n - beyond) / n)
    while math.ceil(p * n / 100) > n - beyond:
        p -= 1
    return p, sorted(xs)[math.ceil(p * n / 100) - 1]


def spread(xs):
    """Interquartile range as a share of the median."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


# ---- amplification -------------------------------------------------------

def space_amp(table_bytes, fresh_bytes):
    """Bytes under the table root per byte of one fresh write of its rows."""
    return table_bytes / fresh_bytes


def write_amp(bytes_written, user_bytes):
    """Bytes the table wrote per byte of user rows changed, over all cycles."""
    return sum(bytes_written) / sum(user_bytes)


# ---- spans ---------------------------------------------------------------

def union_ms(intervals):
    """Total length covered by possibly overlapping (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: the part of its interval no child covers.
    Where concurrent spans both own an instant (parallel jobs), the instant
    is split evenly between them, so self times always sum to the root's
    duration. Spans are dicts with id, start, end and parent (None at the
    root); children must lie within their parents."""
    has_child = {s["parent"] for s in spans if s["parent"] is not None}
    kids = defaultdict(set)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].add(s["id"])
    points = sorted({s["start"] for s in spans} | {s["end"] for s in spans})
    out = {s["id"]: 0.0 for s in spans}
    for a, b in zip(points, points[1:]):
        live = {s["id"] for s in spans if s["start"] <= a and s["end"] >= b}
        owners = [i for i in live if i not in has_child or not (kids[i] & live)]
        for i in owners:
            out[i] += (b - a) / len(owners)
    return out


def _innermost(cands, start, end):
    mid = (start + end) / 2
    inside = [c for c in cands
              if c["start"] - TOLERANCE_MS <= mid <= c["end"] + TOLERANCE_MS]
    return min(inside, key=lambda c: c["end"] - c["start"]) if inside else None


def _stage_name(output):
    path = output.rstrip("/")
    if "/staging/" in path:
        return "pipeline.warehouse"
    for stage in PIPELINE_STAGES:
        if path.endswith("/" + stage):
            return "pipeline." + stage
    return None


def build_tree(trace):
    """Joins the benchmark's own spans with Spark's listener records into one
    span forest. Listener spans get their parent by time: an action's parent
    is the innermost benchmark span around it; a planning phase sits under
    its action when inside it; a job sits under the action of its SQL
    execution, else the innermost span around it; codegen sits under its
    action, after planning. Children are clipped to their parents."""
    spans = []
    for s in trace.get("spans", []):
        spans.append({"id": f"b{s['id']}", "name": s["name"], "start": s["start"],
                      "end": s["end"],
                      "parent": f"b{s['parent']}" if s["parent"] >= 0 else None})
    bench = list(spans)

    def add(span, parent):
        span["parent"] = parent["id"]
        span["start"] = min(max(span["start"], parent["start"]), parent["end"])
        span["end"] = max(min(span["end"], parent["end"]), span["start"])
        spans.append(span)

    actions = {}
    for k, a in enumerate(trace.get("actions", [])):
        phases = a["phases"]
        if a.get("exec_start") is None or a.get("exec_end") is None:
            continue
        starts = [phases[p][0] for p in ("optimization", "planning") if p in phases]
        start, end = min(starts + [a["exec_start"]]), a["exec_end"]
        parent = _innermost(bench, start, end)
        if parent is None:
            continue
        layer = _layer(parent["name"])
        name = _stage_name(a["output"]) or f"{layer}.action"
        span = {"id": f"a{k}", "name": name, "start": start, "end": end,
                "nodes": a["nodes"], "exchanges": a["exchanges"],
                "rows_written": a["rows_written"], "classes": a["classes"]}
        add(span, parent)
        actions[a["exec"]] = span
        for phase, pname in PHASES.items():
            if phase not in phases:
                continue
            ps, pe = phases[phase]
            inside = span["start"] - TOLERANCE_MS <= ps and pe <= span["end"] + TOLERANCE_MS
            host = span if inside else _innermost(bench, ps, pe)
            if host is not None:
                add({"id": f"a{k}.{phase}", "name": pname, "start": ps, "end": pe}, host)
        if a["compile_ms"] > 0:
            cs = phases["planning"][1] if "planning" in phases else span["start"]
            add({"id": f"a{k}.codegen", "name": "codegen.compile", "start": cs,
                 "end": cs + a["compile_ms"]}, span)

    for k, j in enumerate(trace.get("jobs", [])):
        host = actions.get(j["exec"])
        mid = (j["start"] + j["end"]) / 2
        if host is None or not (host["start"] - TOLERANCE_MS <= mid <= host["end"] + TOLERANCE_MS):
            host = _innermost(bench + list(actions.values()), j["start"], j["end"])
        if host is not None:
            add({"id": f"j{k}", "name": "exec.job", "start": j["start"], "end": j["end"],
                 "stages": j["stages"]}, host)
    return spans


def _layer(name):
    return "bench" if name == "iteration" else name.split(".")[0]


def iterations_of(spans):
    """Groups spans by the `iteration` root they descend from, in order."""
    by_id = {s["id"]: s for s in spans}
    roots = sorted((s for s in spans if s["name"] == "iteration"), key=lambda s: s["start"])
    groups = {r["id"]: [] for r in roots}
    for s in spans:
        r = s
        while r["parent"] is not None:
            r = by_id[r["parent"]]
        if r["id"] in groups:
            groups[r["id"]].append(s)
    return [groups[r["id"]] for r in roots]


def span_records(raw):
    """The spans of a traced run as flat records: name, start, end, parent and
    the iteration they belong to."""
    traced = [it["i"] for it in raw["iterations"] if it["traced"]]
    return [{"id": s["id"], "name": s["name"], "start": s["start"], "end": s["end"],
             "parent": s["parent"], "iteration": i}
            for i, group in zip(traced, iterations_of(build_tree(raw["trace"])))
            for s in group]


# ---- per-layer numbers of one iteration ----------------------------------

def layer_metrics(spans, cores, entries=0):
    """Per-layer metrics of one traced iteration (see BENCHMARK.json)."""
    selfs = self_times(spans)
    root = next(s for s in spans if s["name"] == "iteration")
    wall = root["end"] - root["start"]
    jobs = [s for s in spans if s["name"] == "exec.job"]
    actions = [s for s in spans if "nodes" in s]
    stages = [st for j in jobs for st in j["stages"]]
    tasks = [t for st in stages for t in st["task_ms"]]
    by_id = {s["id"]: s for s in spans}

    def self_of(pred):
        return sum(selfs[s["id"]] for s in spans if pred(s))

    def under(span):
        ids = {span["id"]}
        changed = True
        while changed:
            more = {s["id"] for s in spans if s["parent"] in ids} - ids
            changed = bool(more)
            ids |= more
        return [by_id[i] for i in ids]

    m = {f"layer.{layer}_ms": self_of(lambda s, l=layer: _layer(s["name"]) == l)
         for layer in LAYERS}
    bronze = [a["rows_written"] for a in actions if a["name"] == "pipeline.bronze"]
    m["sources.entries"] = entries
    m["sources.kept_ratio"] = sum(bronze) / entries if entries and bronze else 0.0
    for pname in PHASES.values():
        m[pname + "_ms"] = self_of(lambda s, n=pname: s["name"] == n)
    m["plans.actions"] = len(actions)
    m["plans.exchanges"] = sum(a["exchanges"] for a in actions)
    m["plans.plan_nodes"] = sum(a["nodes"] for a in actions)
    m["codegen.classes"] = sum(a["classes"] for a in actions)
    task_ms = sum(tasks)
    skews = [max(st["task_ms"]) / max(1.0, median(st["task_ms"]))
             for st in stages if len(st["task_ms"]) > 1]
    m.update({
        "exec.jobs": len(jobs), "exec.stages": len(stages), "exec.tasks": len(tasks),
        "exec.task_ms": task_ms, "exec.gc_ms": sum(st["gc_ms"] for st in stages),
        "exec.shuffle_write_bytes": sum(st["shuffle_write"] for st in stages),
        "exec.shuffle_read_bytes": sum(st["shuffle_read"] for st in stages),
        "exec.spill_bytes": sum(st["spill"] for st in stages),
        "exec.skew": max(skews, default=1.0),
        "exec.busy_ratio": task_ms / (wall * cores) if wall > 0 else 0.0,
        "exec.driver_ms": wall - union_ms([(j["start"], j["end"]) for j in jobs]),
    })
    for stage in PIPELINE_STAGES:
        m[f"pipeline.{stage}_ms"] = sum(s["end"] - s["start"] for s in spans
                                        if s["name"] == f"pipeline.{stage}")
    m["pipeline.driver_gap_ms"] = self_of(lambda s: s["name"] == "pipeline.run")
    for op in CDC_OPS:
        ops = [s for s in spans if s["name"] == f"io.{op}"]
        sub = [x for s in ops for x in under(s)]
        m[f"io.{op}_driver_ms"] = sum(s["end"] - s["start"] for s in ops) - union_ms(
            [(x["start"], x["end"]) for x in sub if x["name"] == "exec.job"])
        m[f"io.{op}_jobs"] = sum(1 for x in sub if x["name"] == "exec.job")
    for op in ("minhash", "clusters", "quality"):
        m[f"ext.{op}_ms"] = sum(s["end"] - s["start"] for s in spans if s["name"] == f"ext.{op}")
    m["trace.self_sum_ms"] = sum(selfs.values())
    return m


# ---- whole-run results ---------------------------------------------------

def warm(raw):
    return [it for it in raw["iterations"] if it["i"] > 0]


WARMUP = 2  # warm iterations discarded as JIT warm-up


def steady(raw):
    """The warm iterations after the first WARMUP, trimmed to an even count
    from the front: `table_cdc` compacts every second cycle, so an even
    count holds as many compacting cycles as plain ones and its median does
    not flip between the two."""
    its = warm(raw)[WARMUP:]
    return its[len(its) % 2:]


def end_to_end(raw):
    """setup_s is the median of the set-ups, cold_s the first iteration of
    the JVM, rows_per_s the input rows of one iteration over the median time
    of the steady iterations."""
    return {
        "setup_s": median(raw["setup_s"]),
        "cold_s": raw["iterations"][0]["wall_ms"] / 1000.0,
        "rows_per_s": raw["rows_per_iteration"] / (
            median([it["wall_ms"] for it in steady(raw)]) / 1000.0),
    }


def workload_extras(raw):
    """The workload-specific numbers: table_cdc op latencies, space and write
    amplification, table state; curation pairs, clusters and recall."""
    s, m = raw["summary"], {}
    if raw["workload"] == "table_cdc":
        for op in CDC_OPS:
            lat = [it["ops"][op] for it in warm(raw)]
            m[f"io.{op}_ms_p50"] = median(lat)
            t = tail(lat)
            m[f"io.{op}_ms_tail"] = t[1] if t else max(lat)
            m[f"io.{op}_ms_tail_pct"] = t[0] if t else 100
        m["io.space_amp"] = space_amp(s["table_bytes"], s["fresh_bytes"])
        m["io.write_amp"] = write_amp(s["bytes_written"], s["user_bytes"])
        m["io.bytes_written"] = median(s["bytes_written"])
        m["io.commits"] = s["commits"]
        m["io.compactions"] = s["compactions"]
        m["io.live_files"] = s["live_files"]
        m["io.pending_delete_sets"] = s["pending_delete_sets"]
        m["io.manifest_bytes"] = s["manifest_bytes"]
        m["io.point_files_ratio"] = s["point_files"] / max(1, s["live_files"])
        by_sets = defaultdict(list)
        for sets, ms in s["scan_ms_by_pending_sets"]:
            by_sets[int(sets)].append(ms)
        m["io.scan_ms_by_pending_sets"] = {k: median(v) for k, v in sorted(by_sets.items())}
    if raw["workload"] == "curation_dedup":
        m["ext.recall"] = median(s["recall"])
        m["ext.pairs"] = median(s["pairs"])
        m["ext.clusters"] = median(s["clusters"])
    return m


def tracing_overhead(iterations):
    """Each traced warm iteration against the mean of its untraced neighbours,
    which cancels the JIT warm-up trend: (traced walls, neighbour means,
    ratios minus 1), over the traced iterations that have both neighbours."""
    its = {it["i"]: it for it in iterations}
    ks = [i for i, it in its.items() if i > 0 and it["traced"]
          and i - 1 in its and i + 1 in its
          and not its[i - 1]["traced"] and not its[i + 1]["traced"]]
    walls = [its[k]["wall_ms"] for k in ks]
    around = [(its[k - 1]["wall_ms"] + its[k + 1]["wall_ms"]) / 2 for k in ks]
    return ks, around, [w / a - 1 for w, a in zip(walls, around)]


def per_layer(raw):
    """Medians over traced warm iterations, cold-iteration figures for the
    compile-heavy layers, and the tracing overhead."""
    groups = iterations_of(build_tree(raw["trace"]))
    entries = raw["rows_per_iteration"] if raw["workload"] == "medallion_daily" else 0
    per_iter = [layer_metrics(g, raw["cores"], entries) for g in groups]
    if not per_iter:
        raise ValueError("traced run recorded no iterations")
    cold, hot = per_iter[0], per_iter[1:] or per_iter[:1]
    out = {k: median([m[k] for m in hot]) for k in cold}
    for k in ("plans.analysis_ms", "plans.optimizer_ms", "plans.planning_ms",
              "layer.codegen_ms", "codegen.classes"):
        out[k + "_cold"] = cold[k]
    out["jvm.peak_rss_mb"] = raw["peak_rss_kb"] / 1024.0
    traced = [it["i"] for it in raw["iterations"] if it["traced"]]
    ks, around, ratios = tracing_overhead(raw["iterations"])
    out["trace.self_sum_ms"] = median([per_iter[traced.index(k)]["trace.self_sum_ms"] for k in ks])
    out["trace.untraced_ms"] = median(around)
    out["trace.overhead_ratio"] = median(ratios)
    return out

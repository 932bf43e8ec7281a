"""Turns the spans and checks one run recorded into named metrics.

End-to-end metrics come from wall times that every run takes; per-layer
metrics need the Spark counters of a traced run. A per-layer metric whose
layer does not run in a workload reads 0 (no time spent, no work done).
"""

import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")

# steps that make raw input searchable, and steps that answer queries
BUILD_STEPS = {"sources.ingest", "knn.exact.split", "knn.hnsw.build", "knn.hnsw.place",
               "knn.ivf.train", "knn.ivf.assign", "knn.exact.ground_truth"}
SEARCH_STEPS = {"knn.hnsw.search", "knn.ivf.search", "knn.exact.single", "knn.hnsw.single",
                "knn.ivf.single", "sources.sql_search"}
INSERT_STEPS = {"knn.hnsw.insert", "knn.ivf.insert", "sources.insert_delete"}
# single-query spans are reported per call, in milliseconds
SINGLE_STEPS = ("knn.exact.single", "knn.hnsw.single", "knn.ivf.single", "sources.sql_search")
LAYER_STEPS = ("sources.ingest", "sources.insert_delete",
               "knn.exact.split", "knn.exact.ground_truth",
               "knn.hnsw.build", "knn.hnsw.place", "knn.hnsw.search", "knn.hnsw.insert",
               "knn.ivf.train", "knn.ivf.assign", "knn.ivf.search", "knn.ivf.insert",
               "eval.recall", *SINGLE_STEPS)
# Spark counters per span; jobs and result size only where the driver's
# fixed per-query cost is the subject (keeps the total within 128 metrics)
COUNTERS = ("tasks", "executor_run_s", "gc_s", "shuffle_mb", "driver_floor_s")
SINGLE_COUNTERS = ("jobs", "result_mb")
VALUE_METRICS = (
    # name, unit, key of the recorded value
    ("sources.rows_ingested", "count", "rows_ingested"),
    ("sources.rows_dropped", "count", "rows_dropped"),
    ("knn.ivf.candidates_per_query", "count", "candidates_per_query"),
    ("knn.hnsw.l0_edges", "count", "l0_edges"),
    ("knn.hnsw.max_level", "count", "max_level"),
)

END_TO_END = (
    # name, unit, better
    ("setup_s", "s", "lower"),
    ("build_s", "s", "lower"),
    ("search_qps", "1/s", "higher"),
    ("round_s", "s", "lower"),
    ("index_mb", "MB", "lower"),
    ("hnsw_recall_at_10", "ratio", "higher"),
    ("ivf_recall_at_10", "ratio", "higher"),
)


def per_layer_specs():
    """(name, unit, better) of every per-layer metric."""
    specs = []
    for step in LAYER_STEPS:
        single = step in SINGLE_STEPS
        specs.append((step + ("_ms" if single else "_s"), "ms" if single else "s", "lower"))
        for c in COUNTERS + (SINGLE_COUNTERS if single else ()):
            unit = "s" if c.endswith("_s") else "MB" if c.endswith("_mb") else "count"
            specs.append((f"{step}.{c}", unit, "lower"))
    for name, unit, _ in VALUE_METRICS:
        specs.append((name, unit, "lower"))
    return specs


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(samples, p):
    """Nearest-rank percentile `p` (0..1), or None unless at least ten
    samples lie beyond it."""
    s = sorted(samples)
    rank = math.ceil(p * len(s))
    if rank < 1 or len(s) - rank < 10:
        return None
    return s[rank - 1]


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def split_run(result):
    """(measured groups by id, their steps). The warm-up rounds and all that
    ran inside them are left out. Each step gets `top`, the id of the
    measured group it ran in, and `batch`, the id of the search batch (a
    `search` group) it ran in, or None."""
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["dur"] = s["end_s"] - s["start_s"]
    groups = {s["id"]: s for s in spans
              if s["parent"] == -1 and s["name"] in ("setup", "round", "verify")}
    steps = []
    for s in spans:
        if s["kind"] != "step":
            continue
        p, batch = s["parent"], None
        while p != -1 and p not in groups:
            if by_id[p]["name"] == "search":
                batch = p
            p = by_id[p]["parent"]
        if p in groups:
            s["top"], s["batch"] = p, batch
            steps.append(s)
    return groups, steps


def operations(result):
    """Every call into the engine the run made, warm-up included."""
    return sum(s["kind"] == "step" for s in result["spans"])


def _named(groups, name):
    return [g for g in groups.values() if g["name"] == name]


def _per_group(groups, steps, names, field="dur"):
    """Sum of `field` over steps in `names`, per group that ran any of them;
    rounds are used when the steps ran in rounds, set-up otherwise."""
    out = {}
    for s in steps:
        if s["name"] in names:
            out.setdefault(s["top"], 0.0)
            out[s["top"]] += s[field]
    rounds = {g: v for g, v in out.items() if groups[g]["name"] == "round"}
    return list((rounds or out).values())


def _values(groups, key):
    return [g["values"][key] for g in groups.values() if key in g["values"]]


def rates(groups, steps, names):
    """Work per second of the named steps, one figure per timed round."""
    out = []
    for r in _named(groups, "round"):
        ss = [s for s in steps if s["top"] == r["id"] and s["name"] in names]
        if ss:
            out.append(sum(s["work"] for s in ss) / sum(s["dur"] for s in ss))
    return out


def batch_rates(groups, steps):
    """Queries answered per second of search calls, one figure per search
    batch of the timed rounds."""
    batches = {}
    for s in steps:
        if (s["batch"] is not None and s["name"] in SEARCH_STEPS
                and groups[s["top"]]["name"] == "round"):
            work, dur = batches.get(s["batch"], (0, 0.0))
            batches[s["batch"]] = (work + s["work"], dur + s["dur"])
    return [work / dur for work, dur in batches.values()]


def end_to_end(result):
    """Every end-to-end metric of a run, plus the workload-specific extras
    (None where a workload has no such figure)."""
    groups, steps = split_run(result)
    rounds = _named(groups, "round")
    m = {}
    m["setup_s"] = median([g["dur"] for g in _named(groups, "setup")])
    m["build_s"] = median(_per_group(groups, steps, BUILD_STEPS))
    m["search_qps"] = median(batch_rates(groups, steps))
    m["round_s"] = median([r["dur"] for r in rounds])
    held = _values(groups, "index_bytes")
    m["index_mb"] = median(held) / 2**20 if held else None
    m["hnsw_recall_at_10"] = median(_values(groups, "recall_hnsw"))
    m["ivf_recall_at_10"] = median(_values(groups, "recall_ivf"))

    extra = {}
    extra["insert_rows_per_s"] = median(rates(groups, steps, INSERT_STEPS))
    lat = [s["dur"] * 1e3 for s in steps
           if s["name"] in SINGLE_STEPS and groups[s["top"]]["name"] == "round"]
    extra["query_samples"] = len(lat) or None
    extra["query_p50_ms"] = percentile(lat, 0.5)
    extra["query_p95_ms"] = percentile(lat, 0.95)
    extra["run_s"] = (max(r["end_s"] for r in rounds) - min(r["start_s"] for r in rounds)
                      if rounds else None)
    return m, extra


def per_layer(result):
    """Every per-layer metric of a traced run."""
    groups, steps = split_run(result)
    cores = result["cores"]
    for s in steps:
        s["driver_floor_s"] = s["dur"] - s.get("executor_run_s", 0.0) / cores
    out = {}
    for step in LAYER_STEPS:
        single = step in SINGLE_STEPS
        counters = COUNTERS + (SINGLE_COUNTERS if single else ())
        if single:
            calls = [s for s in steps
                     if s["name"] == step and groups[s["top"]]["name"] == "round"]
            out[step + "_ms"] = median([s["dur"] * 1e3 for s in calls]) or 0.0
            for c in counters:
                out[f"{step}.{c}"] = median([s.get(c, 0.0) for s in calls]) or 0.0
        else:
            out[step + "_s"] = median(_per_group(groups, steps, {step})) or 0.0
            for c in counters:
                out[f"{step}.{c}"] = median(_per_group(groups, steps, {step}, c)) or 0.0
    for name, _, key in VALUE_METRICS:
        out[name] = median(_values(groups, key)) or 0.0
    return out

"""Reduce one run's raw record to the benchmark's metrics.

The JVM side (perfbench/src) records operations and spans; everything
statistical happens here so that it can be tested without Spark.
"""

import statistics

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "throughput_per_s": "1/s",
}

PHASES = ("parse", "build", "optimize", "plan", "execute")
OPS_CALLS = ("exact", "minhash", "clusters", "keep_best", "simhash", "quality",
             "lang_id", "heuristic_filter", "tfidf", "ivf",
             "components", "pagerank", "kmeans")


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest percentile that still has at least 10 samples beyond it.

    With n samples sorted ascending that is the 11th largest: exactly ten
    samples lie above it. Returns (value, percentile, n); None when there
    are 10 samples or fewer.
    """
    n = len(xs)
    if n <= 10:
        return None
    s = sorted(xs)
    return s[n - 11], 100.0 * (n - 10) / n, n


def self_time(span, children):
    """The span's duration minus the part of its interval that its
    children cover; overlapping children count once."""
    start, end = span["start_ns"], span["end_ns"]
    ivs = sorted((max(c["start_ns"], start), min(c["end_ns"], end)) for c in children)
    covered, cur_s, cur_e = 0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def end_to_end(raw):
    """setup_s, op_p50_ms, op_tail_ms, throughput_per_s, plus a note with
    the tail's percentile and sample count."""
    durs = [o["dur_ns"] / 1e6 for o in raw["ops"]]
    # too few samples for any percentile with ten beyond it (smoke runs,
    # the single-client traced endpoint run): report the maximum as p100
    t = tail(durs) or (max(durs), 100.0, len(durs))
    measure_s = (raw["measure_end_ns"] - raw["measure_start_ns"]) / 1e9
    if raw["workload"] == "pipeline":
        # documents through the whole pipeline per second
        passes = len({o["pass"] for o in raw["ops"]})
        busy_s = sum(o["dur_ns"] for o in raw["ops"]) / 1e9
        throughput = raw["sizes"]["documents"] * passes / busy_s
    elif raw["clients"] > 1:
        throughput = len(durs) / measure_s
    else:
        throughput = len(durs) / (sum(durs) / 1e3)
    metrics = {
        "setup_s": median(raw["setup_s"]),
        "op_p50_ms": median(durs),
        "op_tail_ms": t[0],
        "throughput_per_s": throughput,
    }
    note = {"tail_percentile": round(t[1], 2), "samples": t[2], "measure_s": round(measure_s, 3),
            "setup_runs_s": raw["setup_s"]}
    return metrics, note


def _tree(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def _desc(span, kids):
    out, todo = [], list(kids.get(span["id"], []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def _sum(spans, key):
    return sum(s[key] for s in spans)


def op_records(raw):
    """One record per measured root span (an operation or a request):
    wall time, phase self times, and the Spark work attributed to it."""
    spans = [s for s in raw["spans"] if s["end_ns"] >= 0]
    kids = _tree(spans)
    roots = [s for s in spans if s["parent"] == -1 and s["kind"] in ("op", "request")
             and s["start_ns"] >= raw["measure_start_ns"]]
    recs = []
    for r in roots:
        d = _desc(r, kids)
        every = [r] + d
        wall = r["end_ns"] - r["start_ns"]
        phase = {p: 0 for p in PHASES}
        children = kids.get(r["id"], [])
        for c in children:
            if c["name"] in phase:
                phase[c["name"]] += self_time(c, kids.get(c["id"], []))
        build_jobs = sum(_sum([c] + _desc(c, kids), "jobs") for c in children if c["name"] == "build")
        recs.append({
            "name": r["name"], "kind": r["kind"], "wall_ns": wall,
            "self_ns": self_time(r, children),
            "phase_ns": phase, "build_jobs": build_jobs,
            "is_query": any(c["name"] == "parse" for c in children),
            "jobs": _sum(every, "jobs"), "stages": _sum(every, "stages"), "tasks": _sum(every, "tasks"),
            "task_ms": _sum(every, "task_ms"),
            "shuffle_write_bytes": _sum(every, "shuffle_write_bytes"),
            "shuffle_read_bytes": _sum(every, "shuffle_read_bytes"),
            "spill_bytes": _sum(every, "spill_bytes"),
            # the root's own counters already cover its children
            "codegen_compiles": r["codegen_compiles"], "codegen_ms": r["codegen_ms"], "gc_ms": r["gc_ms"],
            "attrs": r["attrs"],
        })
    return recs


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(raw):
    """Every per-layer metric; 0 where the workload does not exercise the
    layer. Times are means per operation unless the name says otherwise."""
    recs = op_records(raw)
    layer = raw["layer"]
    cores = raw["cores"]
    dfs = [r for r in recs if r["kind"] == "op"]
    queries = [r for r in recs if r["is_query"]]
    reqs = [r for r in recs if r["kind"] == "request"]
    sel = [r for r in reqs if not r["attrs"].get("update")]
    upd = [r for r in reqs if r["attrs"].get("update")]
    wall_total = sum(r["wall_ns"] for r in recs) / 1e9
    m = {
        "sparql.parse_s": _mean(r["phase_ns"]["parse"] / 1e9 for r in queries),
        "engine.build_s": _mean((r["phase_ns"]["build"] - r["phase_ns"]["parse"]) / 1e9 for r in queries),
        "engine.build_jobs": _mean(r["build_jobs"] for r in queries),
        "spark.optimize_s": _mean(r["phase_ns"]["optimize"] / 1e9 for r in dfs),
        "spark.plan_s": _mean(r["phase_ns"]["plan"] / 1e9 for r in dfs),
        "spark.plan_kb": _mean(r["attrs"].get("plan_kb", 0.0) for r in dfs),
        "spark.exec_s": _mean(r["phase_ns"]["execute"] / 1e9 for r in dfs),
        "spark.jobs": _mean(r["jobs"] for r in recs),
        "spark.stages": _mean(r["stages"] for r in recs),
        "spark.tasks": _mean(r["tasks"] for r in recs),
        "spark.task_s": _mean(r["task_ms"] / 1e3 for r in recs),
        "spark.busy_ratio": (sum(r["task_ms"] for r in recs) / 1e3) / (wall_total * cores) if wall_total else 0.0,
        "spark.shuffle_write_mb": _mean(r["shuffle_write_bytes"] / 1048576 for r in recs),
        "spark.shuffle_read_mb": _mean(r["shuffle_read_bytes"] / 1048576 for r in recs),
        "spark.spill_mb": _mean(r["spill_bytes"] / 1048576 for r in recs),
        "spark.codegen_compiles": _mean(r["codegen_compiles"] for r in recs),
        "spark.codegen_s": _mean(r["codegen_ms"] / 1e3 for r in recs),
        "spark.gc_s": _mean(r["gc_ms"] / 1e3 for r in recs),
        "jvm.heap_peak_mb": layer.get("jvm.heap_peak_mb", 0.0),
    }
    for call in OPS_CALLS:
        rs = [r for r in recs if r["name"] == call]
        m[f"ops.{call}_s"] = _mean(r["wall_ns"] / 1e9 for r in rs)
        m[f"ops.{call}_jobs"] = _mean(r["jobs"] for r in rs)
    for key in ("ops.lsh_recall", "ops.ann_recall_at_10", "sources.mapping_s", "store.load_s",
                "store.bytes_per_quad", "store.log_bytes_per_update", "store.replay_s", "store.recovery_s"):
        m[key] = layer.get(key, 0.0)
    m.update({
        "web.ttfb_ms": _mean(r["attrs"].get("ttfb_ms", 0.0) for r in reqs),
        "web.body_ms": _mean(r["attrs"].get("body_ms", 0.0) for r in reqs),
        "web.response_kb": _mean(r["attrs"].get("response_kb", 0.0) for r in reqs),
        "web.jobs_per_select": _mean(r["jobs"] for r in sel),
        "web.jobs_per_update": _mean(r["jobs"] for r in upd),
        "web.select_p50_ms": median([r["wall_ns"] / 1e6 for r in sel]) if sel else 0.0,
        "web.update_p50_ms": median([r["wall_ns"] / 1e6 for r in upd]) if upd else 0.0,
        "trace.ops": float(len(recs)),
        "trace.unattributed_pct": 100.0 * sum(r["self_ns"] for r in dfs) / sum(r["wall_ns"] for r in dfs) if dfs else 0.0,
    })
    return m


def per_op_table(raw):
    """Per operation name: count and mean wall, phase self times, and Spark
    counts, for the committed per-query record."""
    out = {}
    for r in op_records(raw):
        e = out.setdefault(r["name"], {"n": 0, "wall_ms": 0.0, "jobs": 0, "stages": 0, "tasks": 0,
                                       "task_ms": 0, "shuffle_kb": 0.0, "codegen_compiles": 0,
                                       "unattributed_ms": 0.0,
                                       **{f"{p}_ms": 0.0 for p in PHASES}})
        e["n"] += 1
        e["wall_ms"] += r["wall_ns"] / 1e6
        e["unattributed_ms"] += r["self_ns"] / 1e6 if r["kind"] == "op" else 0.0
        for p in PHASES:
            e[f"{p}_ms"] += r["phase_ns"][p] / 1e6
        for k in ("jobs", "stages", "tasks", "task_ms", "codegen_compiles"):
            e[k] += r[k]
        e["shuffle_kb"] += (r["shuffle_write_bytes"] + r["shuffle_read_bytes"]) / 1024
    for e in out.values():
        n = e["n"]
        for k in list(e):
            if k != "n":
                e[k] = round(e[k] / n, 3)
    return dict(sorted(out.items()))

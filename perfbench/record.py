#!/usr/bin/env python3
"""Produce the benchmark's committed records under perfbench/results/.

    python3 perfbench/record.py traced [--seed 1] [--seconds 10] [WORKLOAD ...]
    python3 perfbench/record.py steadiness [--seeds 10] [--seconds 10] [WORKLOAD ...]

`traced` runs each workload once untraced and once traced with the same
seed, and writes results/<workload>.json: the end-to-end metrics, every
per-layer metric, the per-operation table (wall time, phase self times,
jobs, stages, tasks) and the tracing overhead, i.e. how much the traced run's
end-to-end figures differ from the untraced run's.

`steadiness` runs each workload once per seed 1..N untraced and writes
results/steadiness.json: every end-to-end value, its median and quartiles,
and the spread (third minus first quartile, over the median) next to the
bound in BENCHMARK.json.

Run from the repository root.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, "results")
ALL = ("sparql_olap", "fixpoint", "pipeline", "endpoint_rw")


def run(workload, seed, seconds, trace):
    t0 = time.time()
    with tempfile.NamedTemporaryFile(suffix=".json", dir=os.path.join(os.getcwd(), ".bench_build")) as rec:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--record", rec.name]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        with open(rec.name) as fh:
            record = json.load(fh)
    record["result"] = {k: last[k] for k in ("correct", "attempted", "failed")}
    record["exit_code"] = p.returncode
    record["wall_s"] = round(time.time() - t0, 1)
    print(f"{workload} seed {seed} trace {trace}: exit {p.returncode}, wall {record['wall_s']} s, "
          f"{json.dumps({k: round(v, 4) for k, v in record['end_to_end'].items()})}", file=sys.stderr)
    return record


def traced(args):
    for w in args.workloads:
        plain = run(w, args.seed, args.seconds, 0)
        tr = run(w, args.seed, args.seconds, 1)
        out = {
            "workload": w, "seed": args.seed, "seconds": args.seconds,
            "result": plain["result"], "sizes": plain["sizes"], "wall_s": plain["wall_s"],
            "end_to_end": plain["end_to_end"], "end_to_end_note": plain["note"],
            "traced_end_to_end": tr["end_to_end"],
            "tracing_overhead": {k: round(tr["end_to_end"][k] / v - 1, 4)
                                 for k, v in plain["end_to_end"].items() if v},
            "per_layer": tr["per_layer"], "per_op": tr["per_op"],
        }
        with open(os.path.join(RESULTS, f"{w}.json"), "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


def steadiness(args):
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    path = os.path.join(RESULTS, "steadiness.json")
    out = json.load(open(path)) if os.path.exists(path) else {}
    for w in args.workloads:
        recs = [run(w, seed, args.seconds, 0) for seed in range(1, args.seeds + 1)]
        entry = {"seconds": args.seconds, "seeds": list(range(1, args.seeds + 1)),
                 "all_correct": all(r["result"]["correct"] for r in recs), "metrics": {}}
        for name in recs[0]["end_to_end"]:
            vals = [r["end_to_end"][name] for r in recs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            entry["metrics"][name] = {"values": vals, "q1": q1, "median": med, "q3": q3,
                                      "spread": (q3 - q1) / med, "bound": bounds.get(name)}
        out[w] = entry
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("mode", choices=("traced", "steadiness"))
    ap.add_argument("workloads", nargs="*", default=list(ALL))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(RESULTS, exist_ok=True)
    os.makedirs(".bench_build", exist_ok=True)
    (traced if args.mode == "traced" else steadiness)(args)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Traced-run report: the per-layer table of each workload, with the
tracing overhead and span coverage.

Usage (from the repository root):

    python3 perfbench/report.py [--seed N] [--out perfbench/baseline] [workload ...]

For each workload it runs the benchmark twice with the same seed, once
untraced and once traced, and writes <out>/<workload>.json and a
markdown table <out>/<workload>.md:

- every per-layer metric of the traced run;
- each layer's share of the traced self time, and the share of the
  three layer groups each workload was chosen to load;
- trace overhead: the traced run's median operation time minus the
  untraced run's (and as a share of the untraced);
- span coverage: the sum of layer self times over the traced wall
  times the workload's concurrent loops (the run's
  `trace.span_coverage`).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = ["sources.read", "sources.write", "operators.clean", "streaming.drain",
          "functions", "operators.text", "operators.dedup", "operators.index",
          "operators.table", "queries"]
# the layer groups each part of the load was chosen for: file ingest
# (curate's wave), curation (curate's pass), and serve's clients
GROUPS = {
    "ingest": ["sources.read", "sources.write", "operators.clean", "streaming.drain"],
    "curation": ["functions", "operators.text", "operators.dedup"],
    "clients": ["queries", "operators.index", "operators.table"],
}
SPAN_METRICS = ["self_s", "jobs", "tasks", "task_cpu_s", "shuffle_bytes", "spill_bytes",
                "peak_mem_mb"]


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"report: {workload} trace={trace} failed")
    path = os.path.join(HERE, "work", "results", f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as f:
        return json.load(f)


def report(workload, seed, seconds):
    plain = run(workload, seed, seconds, 0)
    traced = run(workload, seed, seconds, 1)
    layer = traced["per_layer"]
    self_total = sum(layer[f"{l}.self_s"] for l in LAYERS)
    shares = {l: layer[f"{l}.self_s"] / self_total if self_total else 0.0 for l in LAYERS}
    group_shares = {g: sum(shares[l] for l in ls) for g, ls in GROUPS.items()}
    p50_plain = plain["end_to_end"]["p50_s"]
    p50_traced = traced["end_to_end"]["p50_s"]
    return {
        "workload": workload, "seed": seed, "seconds": seconds,
        "correct": plain["correct"] and traced["correct"],
        "host": traced["host"],
        "end_to_end_untraced": plain["end_to_end"],
        "samples_untraced": plain["samples"],
        "per_layer": layer,
        "self_share": shares,
        "group_self_share": group_shares,
        "trace_overhead_s": p50_traced - p50_plain,
        "trace_overhead_frac": (p50_traced - p50_plain) / p50_plain,
        "span_coverage": layer["trace.span_coverage"],
    }


def markdown(r):
    out = [f"# {r['workload']} (seed {r['seed']}, {r['seconds']} s, "
           f"{r['host']['nproc']} cores, wakeup {r['host']['wakeup_us']} us)", "",
           "| layer | " + " | ".join(SPAN_METRICS) + " | self share |",
           "| --- |" + " --- |" * (len(SPAN_METRICS) + 1)]
    for l in LAYERS:
        cells = [f"{r['per_layer'][f'{l}.{m}']:.4g}" for m in SPAN_METRICS]
        out.append(f"| {l} | " + " | ".join(cells) + f" | {r['self_share'][l]:.1%} |")
    out += ["", "| counter | value |", "| --- | --- |"]
    for k, v in sorted(r["per_layer"].items()):
        if k.rsplit(".", 1)[-1] not in SPAN_METRICS:
            out.append(f"| {k} | {v:.4g} |")
    out += ["", "| layer group | share of traced self time |", "| --- | --- |"]
    for g, v in r["group_self_share"].items():
        out.append(f"| {g} layers ({', '.join(GROUPS[g])}) | {v:.1%} |")
    out += ["", f"- trace overhead: {r['trace_overhead_s']:+.3f} s on the median operation "
                f"({r['trace_overhead_frac']:+.1%})",
            f"- span coverage: {r['span_coverage']:.1%} of the traced wall "
            "(times concurrent loops)", ""]
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline"))
    ap.add_argument("workloads", nargs="*")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = a.seconds or spec["run_seconds"]
    os.makedirs(a.out, exist_ok=True)
    for w in a.workloads or [x["name"] for x in spec["workloads"]]:
        r = report(w, a.seed, seconds)
        with open(os.path.join(a.out, f"{w}.json"), "w") as f:
            json.dump(r, f, indent=1, sort_keys=True)
        with open(os.path.join(a.out, f"{w}.md"), "w") as f:
            f.write(markdown(r))
        print(markdown(r))


if __name__ == "__main__":
    main()

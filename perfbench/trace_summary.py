#!/usr/bin/env python3
"""Summarize traced benchmark runs into per-layer and per-query tables.

    python3 perfbench/trace_summary.py [resultsDir] [--query NAME ...]

For each workload it reads the newest traced result under resultsDir
(default perfbench/results) and its span file. Spans form the tree
workload > pass > query > build | drain, with each Spark job a child of
the phase that submitted it; release spans sit beside the query.

A span's self time is its duration minus the part of it its children
cover. The tables give, per layer and per pass (median over passes):

  wall_s      build plus drain time of the layer's queries;
  job_s       the part of it covered by Spark jobs;
  self_s      the rest, spent outside Spark jobs: analysis, planning,
              code generation and the query functions' own code;
  gap_s       the part of each query span that neither build nor drain
              covers, which is where the tracing itself drains Spark's
              listener bus;

followed by the layer's counts from the run's per-layer metrics. The
tracing overhead is the traced run's pass_s against the median pass_s of
the untraced runs of the same workload. --query prints the same figures
for single queries.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ["build_s", "build_jobs", "plan_s", "exec_s", "jobs", "tasks", "cpu_util",
          "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s", "fetch_wait_s",
          "sched_delay_s", "failed_tasks", "rows_out"]


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def query_figures(spans):
    """{(pass, query): {wall_s, job_s, self_s, gap_s}} from one span file."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    out = {}
    for q in (s for s in spans if s["kind"] == "query"):
        phases = [c for c in kids.get(q["id"], []) if c["kind"] in ("build", "drain")]
        wall = sum(p["end_ns"] - p["start_ns"] for p in phases)
        job = sum(covered([(j["start_ns"], j["end_ns"]) for j in kids.get(p["id"], [])],
                          p["start_ns"], p["end_ns"]) for p in phases)
        gap = (q["end_ns"] - q["start_ns"]) - covered(
            [(p["start_ns"], p["end_ns"]) for p in phases], q["start_ns"], q["end_ns"])
        out[(by_id[q["parent"]]["name"], q["name"])] = {
            "wall_s": wall / 1e9, "job_s": job / 1e9, "self_s": (wall - job) / 1e9,
            "gap_s": gap / 1e9}
    return out


def per_query_counts(run):
    """{(pass, query): counts} from the run's raw per-phase counters."""
    out = {}
    for i, p in enumerate(run["raw"]["passes"], 1):
        for q in p["queries"]:
            b, d = q["build"], q["drain"]
            wall = q["build_s"] + q["drain_s"]
            out[(f"pass{i}", q["name"])] = {
                "build_s": q["build_s"], "build_jobs": b["jobs"], "plan_s": d["plan_s"],
                "exec_s": q["drain_s"], "jobs": d["jobs"], "tasks": b["tasks"] + d["tasks"],
                "cpu_util": (b["cpu_s"] + d["cpu_s"]) / (wall * run["cpus"]),
                **{k: b[k] + d[k] for k in ["shuffle_write_mb", "shuffle_read_mb",
                                            "spill_mb", "gc_s", "fetch_wait_s",
                                            "sched_delay_s", "failed_tasks"]},
                "rows_out": run["raw"]["checks"][q["name"]].get("rows", 0)}
    return out


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def table(rows, cols):
    widths = [max(len(c), *(len(fmt(r[i])) for r in rows)) for i, c in enumerate(cols)]
    print("  " + "  ".join(c.rjust(w) for c, w in zip(cols, widths)))
    for r in rows:
        print("  " + "  ".join(fmt(v).rjust(w) for v, w in zip(r, widths)))


def median_by(figs, key_of):
    """Sum figures per (pass, key), then take the median over passes."""
    sums = {}
    for (pass_, q), f in figs.items():
        k = key_of(q)
        if k is None:
            continue
        acc = sums.setdefault(k, {}).setdefault(pass_, {})
        for name, v in f.items():
            acc[name] = acc.get(name, 0) + v
    return {k: {name: statistics.median(p[name] for p in passes.values())
                for name in next(iter(passes.values()))}
            for k, passes in sums.items()}


def main():
    args = sys.argv[1:]
    queries = [args[i + 1] for i, a in enumerate(args) if a == "--query"]
    rest = [a for i, a in enumerate(args)
            if a != "--query" and (i == 0 or args[i - 1] != "--query")]
    root = rest[0] if rest else os.path.join(HERE, "results")
    runs = []
    for f in glob.glob(os.path.join(root, "**", "*.json"), recursive=True):
        if f.endswith(".spans.json"):
            continue
        r = json.load(open(f))
        if isinstance(r, dict) and "metrics" in r:
            runs.append((f, r))
    for w in sorted({r["workload"] for _, r in runs}):
        traced = sorted((r["started_unix"], f, r) for f, r in runs
                        if r["workload"] == w and r["trace"] == 1)
        if not traced:
            continue
        _, f, run = traced[-1]
        spans = json.load(open(f[:-len(".json")] + ".spans.json"))
        figs = query_figures(spans)
        counts = per_query_counts(run)
        untraced = [r["metrics"]["pass_s"] for _, r in runs
                    if r["workload"] == w and r["trace"] == 0
                    and r["source_stamp"] == run["source_stamp"]
                    and r["layer_of"] == run["layer_of"] and r["passes"] == run["passes"]]
        print(f"{w}: {os.path.relpath(f)} (seed {run['seed']}, {run['passes']} passes, "
              f"local[{run['cpus']}], sf{run['sf']})")
        if untraced:
            base = statistics.median(untraced)
            print(f"  tracing overhead: pass_s {run['metrics']['pass_s']:.4f} s traced vs "
                  f"{base:.4f} s untraced (median of {len(untraced)} runs): "
                  f"{100 * (run['metrics']['pass_s'] / base - 1):+.1f}%")
        layer_of = run["layer_of"]
        by_layer = median_by(figs, layer_of.get)
        layers = sorted(by_layer)
        pl = run["per_layer"]
        table([[l] + [by_layer[l][k] for k in ["wall_s", "job_s", "self_s", "gap_s"]]
               + [pl[f"{l}.{k}"] for k in COUNTS] for l in layers],
              ["layer", "wall_s", "job_s", "self_s", "gap_s"] + COUNTS)
        print(f"  config.session_s {pl['config.session_s']:.4g}, config.release_s "
              f"{pl['config.release_s']:.4g}, config.peak_storage_mb "
              f"{pl['config.peak_storage_mb']:.4g}, io.open_s {pl['io.open_s']:.4g}, "
              f"io.open_jobs {pl['io.open_jobs']}")
        wanted = [q for q in queries if q in layer_of]
        if wanted:
            qf = median_by({k: {**figs[k], **counts[k]} for k in figs},
                           lambda q: q if q in wanted else None)
            table([[q, layer_of[q]] + [qf[q][k] for k in ["wall_s", "job_s", "self_s", "gap_s"]
                                       + COUNTS] for q in wanted],
                  ["query", "layer", "wall_s", "job_s", "self_s", "gap_s"] + COUNTS)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout generates the
fixtures (perfbench/.work/data) and builds the project with the
benchmark's runner (perfbench/build.sbt); later runs reuse both while
the sources are unchanged. Each run then launches one fresh JVM that
sets up a `Sessions.local()` session at local[nproc], checks every
query's output against perfbench/reference_digests.json without the
clock running, and measures whole passes over the workload's query list
(workloads.json) in an order drawn from --seed.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1
they are its per-layer metrics, and the run also writes its spans.
Every run writes a result file under perfbench/results/<workload>/ for
compare.py and trace_summary.py.

--record-digests rewrites the reference digests of the workload's
queries from this run's check pass (done once, on the seed commit).
"""
import argparse
import ast
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")
REFERENCE = os.path.join(HERE, "reference_digests.json")
HEAP = "3g"
SETUPS = 3
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
LAYER_FIELDS = ["build_s", "build_jobs", "plan_s", "exec_s", "jobs", "tasks",
                "cpu_util", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                "gc_s", "fetch_wait_s", "sched_delay_s", "failed_tasks",
                "rows_out"]
E2E_UNITS = {"pass_s": "s", "query_p50_s": "s", "setup_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def sensitive_queries():
    """tools/layout_check.py's SENSITIVE set: results whose float or
    sketch internals depend on partition layout, so only their row count
    and schema are checked."""
    path = os.path.join(ROOT, "tools", "layout_check.py")
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, ast.Assign) and any(
                getattr(t, "id", None) == "SENSITIVE" for t in node.targets):
            return set(ast.literal_eval(node.value))
    fail("no SENSITIVE set in tools/layout_check.py")


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def ensure_data(sf):
    """Fixtures at scale `sf`, regenerated when the generator changes."""
    out = os.path.join(WORK, "data", f"sf{sf}")
    stamp = os.path.join(out, "_STAMP")
    want = tree_hash([os.path.join(HERE, "gen_data.py")]) + f" sf{sf}"
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"), out, str(sf)],
                   check=True)
    with open(stamp, "w") as f:
        f.write(want)
    return out


def ensure_build():
    """Runtime classpath of the runner, rebuilt when any source changes."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = tree_hash(sources)
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "scala-2.13" in ln and os.pathsep in ln and " " not in ln]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1], stamp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(classpath, run_dir, args, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              "-cp", classpath, "perfbench.Runner"] + args)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"runner exited with {code}")


def tail_of(samples):
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, by nearest rank."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return 100, xs[-1]
    return math.floor(100 * (n - 10) / n), xs[n - 11]


def layer_metrics(res, layer_of, rows_of, cpus):
    """Per-layer figures of each pass, summed over the layer's queries,
    then the median over passes."""
    per_pass = []
    for p in res["passes"]:
        m = {"config.release_s": sum(q["release_s"] for q in p["queries"]),
             "io.open_s": p["open_s"], "io.open_jobs": p["open"]["jobs"]}
        acc = {l: dict.fromkeys(LAYER_FIELDS + ["cpu_s", "wall_s"], 0.0)
               for l in set(layer_of.values())}
        for q in p["queries"]:
            a, b, d = acc[layer_of[q["name"]]], q["build"], q["drain"]
            a["build_s"] += q["build_s"]
            a["build_jobs"] += b["jobs"]
            a["plan_s"] += d["plan_s"]
            a["exec_s"] += q["drain_s"]
            a["jobs"] += d["jobs"]
            a["rows_out"] += rows_of.get(q["name"], 0)
            a["wall_s"] += q["build_s"] + q["drain_s"]
            for k in ["tasks", "failed_tasks", "cpu_s", "shuffle_write_mb",
                      "shuffle_read_mb", "spill_mb", "gc_s", "fetch_wait_s",
                      "sched_delay_s"]:
                a[k] += b[k] + d[k]
        for l, a in acc.items():
            a["cpu_util"] = a["cpu_s"] / (a["wall_s"] * cpus) if a["wall_s"] else 0.0
            for k in LAYER_FIELDS:
                m[f"{l}.{k}"] = a[k]
        per_pass.append(m)
    return {k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in per_pass[0]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join("tools", "layout_check.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"project source missing: {need}")
    spec = load_workloads()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; have {sorted(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    layer_of = w["queries"]
    order = sorted(layer_of)
    random.Random(a.seed).shuffle(order)
    passes = max(2, round(a.seconds / w["nominal_pass_s"]))
    cpus = len(os.sched_getaffinity(0))

    os.makedirs(WORK, exist_ok=True)
    data = ensure_data(spec["sf"])
    classpath, source_stamp = ensure_build()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    load_start = os.getloadavg()[0]
    ticks_start = cpu_ticks()
    t0 = time.time()
    try:
        run_jvm(classpath, run_dir,
                ["--workload", a.workload, "--data", data, "--cpus", str(cpus),
                 "--queries", ",".join(order), "--passes", str(passes),
                 "--setups", str(SETUPS), "--trace", str(a.trace), "--out", out],
                JVM_TIMEOUT_S)
        res = json.load(open(out))
        spans = json.load(open(out + ".spans")) if a.trace else None
    finally:
        load_end = os.getloadavg()[0]
        ticks_end = cpu_ticks()
        shutil.rmtree(run_dir, ignore_errors=True)

    # output check
    ref = json.load(open(REFERENCE)) if os.path.exists(REFERENCE) else {}
    if a.record_digests:
        ref.update({q: c for q, c in res["checks"].items() if "error" not in c})
        with open(REFERENCE, "w") as f:
            json.dump(dict(sorted(ref.items())), f, indent=1)
            f.write("\n")
    sensitive = sensitive_queries()
    mismatched = {}
    for q, c in res["checks"].items():
        r = ref.get(q)
        keys = ["rows", "schema"] if q in sensitive else ["digest", "rows", "schema"]
        if "error" in c:
            mismatched[q] = c["error"]
        elif r is None:
            mismatched[q] = "no reference digest"
        elif any(c[k] != r[k] for k in keys):
            mismatched[q] = "differs: " + ", ".join(k for k in keys if c[k] != r[k])

    samples, failed = [], 0
    for p in res["passes"]:
        for q in p["queries"]:
            if q["error"] or q["name"] in mismatched:
                failed += 1
            else:
                samples.append(q["build_s"] + q["drain_s"])
    attempted = sum(len(p["queries"]) for p in res["passes"])
    pass_s = [sum(q["build_s"] + q["drain_s"] for q in p["queries"]) for p in res["passes"]]
    pct, tail = tail_of(samples) if samples else (100, 0.0)
    peak_storage = statistics.median(
        max(q["storage_mb"] for q in p["queries"]) for p in res["passes"])
    e2e = {
        "pass_s": min(pass_s),
        "query_p50_s": statistics.median(samples) if samples else 0.0,
        "setup_s": statistics.median(res["setup_s"]),
    }
    rows_of = {q: c.get("rows", 0) for q, c in res["checks"].items()}
    layers = (layer_metrics(res, layer_of, rows_of, cpus) if a.trace else None)
    if layers is not None:
        layers["config.session_s"] = statistics.median(res["session_s"])
        layers["config.peak_storage_mb"] = peak_storage
        for l in spec["layers"]:
            for k in LAYER_FIELDS:
                layers.setdefault(f"{l}.{k}", 0.0)

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": cpus, "heap": HEAP, "heap_mb": res["heap_mb"], "sf": spec["sf"],
        "sf_dir": os.path.relpath(data, ROOT), "git_commit": git_commit(),
        "source_stamp": source_stamp, "spark_version": res["spark_version"],
        "loadavg_1m_start": load_start, "loadavg_1m_end": load_end,
        "cpu_steal_frac": (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1]),
        "started_unix": t0, "wall_s": time.time() - t0,
        "order": order, "passes": passes, "samples": len(samples),
        "query_tail_s": tail, "tail_percentile": pct, "peak_storage_mb": peak_storage,
        "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted, "mismatched": mismatched,
        "metrics": e2e, "per_layer": layers, "layer_of": layer_of,
        "setup_runs_s": res["setup_s"], "pass_runs_s": pass_s, "raw": res,
    }
    os.makedirs(os.path.join(RESULTS, a.workload), exist_ok=True)
    stem = os.path.join(RESULTS, a.workload,
                        f"{time.strftime('%Y%m%dT%H%M%S')}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    if spans is not None:
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)

    print(f"workload {a.workload}: {len(order)} queries x {passes} passes, "
          f"local[{cpus}], sf{spec['sf']}, seed {a.seed}")
    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {E2E_UNITS[k]}")
    print(f"query_tail_s = {tail:.4f} s (p{pct} of {len(samples)} query latency samples)")
    print(f"peak_storage_mb = {peak_storage:.4f} MB")
    print(f"fail_frac = {failed / attempted:.4f} ({failed}/{attempted})")
    for q, why in sorted(mismatched.items()):
        print(f"output check failed: {q}: {why}")
    print(f"result file: {os.path.relpath(stem + '.json', ROOT)}")
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": failed == 0 and not mismatched, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def unit_of(name):
    field = name.split(".", 1)[1]
    if field.endswith("_s"):
        return "s"
    if field.endswith("_mb"):
        return "MB"
    return "ratio" if field == "cpu_util" else "count"


if __name__ == "__main__":
    main()

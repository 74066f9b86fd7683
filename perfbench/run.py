#!/usr/bin/env python3
"""Benchmark of the spark-graft engine; see README.md.

    python3 perfbench/run.py --workload cold_eager --seed 1 --seconds 28 --trace 0

Builds the engine and the client (``build.py``), generates the inputs
(``gen.py``), runs one workload in a fresh JVM and prints, as its last
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also keeps the client's full record (ops, spans with name,
start, end, parent and op id, jobs, stages, streams) in
``.bench_build/trace/<workload>-<seed>.json``.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("cold_eager", "mr_etl")
TABLE_SF = 0.01
CORPUS_LINES = 60_000
# Run seconds allotted per timed pass (per round for mr_etl), warm-up and
# set-up included. A run makes round(seconds / allotment) timed passes, at
# least one, and at least two when traced (traced and untraced passes
# alternate). Every run with the same --seconds and --trace does the same
# work.
PASS_ALLOTMENT_S = {"cold_eager": 14.0, "mr_etl": 4.0}
HEAP = "3g"
TIMEOUT_S = 170
PERCENTILES = (50, 75, 90, 95, 99, 99.9)
MODULES = ("queries", "operators", "streaming", "mr")
MB = 1 << 20
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# All six end-to-end metrics are printed; BENCHMARK.json names the ones
# the last line carries.
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
                    "op_tail_s": "s", "retained_heap_mb": "MB",
                    "op_fail_ratio": "ratio"}


def tail_percentile(n):
    """Highest percentile in PERCENTILES with at least 10 of ``n`` samples
    beyond it; the median when none has."""
    best = 50
    for p in PERCENTILES:
        if n - math.ceil(p / 100 * n) >= 10:
            best = p
    return best


def percentile(values, p):
    """Harrell-Davis percentile: the mean of all order statistics weighted by
    a Beta(p(n+1), (1-p)(n+1)) density. Ops of a few kinds leave gaps in
    the sorted latencies, and a single order statistic (nearest rank or
    interpolated) jumps across a gap from run to run; this weighted mean
    moves smoothly."""
    s = sorted(values)
    n = len(s)
    a, b = p / 100 * (n + 1), (1 - p / 100) * (n + 1)
    grid = 200 * n  # midpoint rule, 200 points per order statistic
    w = [math.exp((a - 1) * math.log(t) + (b - 1) * math.log(1 - t))
         for t in ((k + 0.5) / grid for k in range(grid))]
    return sum(s[k // 200] * x for k, x in enumerate(w)) / sum(w)


def passes_for(workload, seconds, trace):
    return max(2 if trace else 1, round(seconds / PASS_ALLOTMENT_S[workload]))


def cores():
    return max(1, min(os.cpu_count() or 1, 8))


def _digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def tables_dir():
    """The generated tables, made once per generator version."""
    d = os.path.join(os.path.dirname(build.build_dir()),
                     f"tables-sf{TABLE_SF}-{_digest(os.path.join(HERE, 'gen.py'))}")
    if not os.path.exists(os.path.join(d, "_done")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.tables(tmp, TABLE_SF)
        open(os.path.join(tmp, "_done"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def entry_list(workload):
    with open(os.path.join(HERE, "workloads", f"{workload}.txt")) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def inputs(workload, seed, work):
    """Seeded inputs: op order for cold_eager, corpus for mr_etl."""
    if workload == "mr_etl":
        counts = gen.corpus(os.path.join(work, "corpus.txt"), seed, CORPUS_LINES)
        with open(os.path.join(work, "counts.tsv"), "w") as f:
            f.writelines(f"{w}\t{n}\n" for w, n in counts.items())
        return {"corpus": os.path.join(work, "corpus.txt"),
                "counts": os.path.join(work, "counts.tsv"),
                "scripts": os.path.join(HERE, "scripts")}
    names = entry_list(workload)
    random.Random(seed).shuffle(names)
    with open(os.path.join(work, "entries.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    return {"entries": os.path.join(work, "entries.txt"),
            "expected": os.path.join(HERE, "expected", "pinned.tsv")}


def java(classes, conf, work, timeout=TIMEOUT_S):
    """Run the client; its stdout goes to our stderr."""
    cp = os.pathsep.join([classes,
                          os.path.join(build.ROOT, "src", "main", "resources"),
                          os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", f"-Dgraft.repo.root={build.ROOT}"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"]
           + [f"{k}={v}" for k, v in conf.items()])
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         cwd=work, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def module_of_file():
    """Engine source file name -> module (its directory under graft/)."""
    base = os.path.join(build.ROOT, "src", "main", "scala", "graft")
    out = {}
    for dirpath, _, files in os.walk(base):
        rel = os.path.relpath(dirpath, base)
        mod = "graft" if rel == "." else rel.split(os.sep)[0]
        out.update({f: mod for f in files})
    return out


def end_to_end(raw):
    timed = [o for o in raw["ops"] if o["pass"] > 0 and not o["traced"]]
    lat = [o["latency_s"] for o in timed]
    p = tail_percentile(len(lat))
    walls = [x["wall_s"] for x in raw["passes"] if x["pass"] > 0 and not x["traced"]]
    return {
        "setup_s": raw["setups"][0]["setup_s"],
        "wall_s": sum(walls),
        "op_p50_s": percentile(lat, 50),
        "op_tail_s": percentile(lat, p),
        "retained_heap_mb": raw["extras"]["retained_heap_bytes"] / MB,
    }, {"tail_percentile": p, "tail_samples": len(lat),
        "beyond_tail": len(lat) - math.ceil(p / 100 * len(lat))}


def per_layer(raw):
    """Per-layer metrics from the traced passes, each per traced pass."""
    traced_passes = {x["pass"] for x in raw["passes"] if x["pass"] > 0 and x["traced"]}
    n = max(1, len(traced_passes))
    ops = {o["id"]: o for o in raw["ops"] if o["pass"] in traced_passes}
    span_s = {}
    for s in raw["spans"]:
        if s["op"] in ops:
            span_s[s["name"]] = span_s.get(s["name"], 0.0) + s["end_s"] - s["start_s"]

    def spans(name):
        return span_s.get(name, 0.0) / n

    jobs = [j for j in raw["jobs"] if j["op"] in ops]
    mods = module_of_file()
    m = {}
    build_jobs = [j for j in jobs if j["phase"] == "build"]
    for mod in MODULES:
        m[f"{mod}.build_jobs"] = sum(
            1 for j in build_jobs
            if mods.get(j["site"].rsplit(" at ", 1)[-1].split(":")[0]) == mod) / n
    # AQE stage jobs run on JDK pool threads, so their call site names no
    # engine file; this total counts them too
    m["eager.jobs"] = len(build_jobs) / n
    m["queries.build_s"] = spans("queries.build")

    # first touch minus second touch, over the passes that have both
    first = {}
    second = {}
    for o in raw["ops"]:
        if o["pass"] > 0:
            first[(o["pass"], o["name"])] = o["latency_s"]
        elif o["pass"] < 0:
            second[(-o["pass"], o["name"])] = o["latency_s"]
    pairs = [k for k in second if k in first]
    n_pair = len({k[0] for k in pairs})
    m["caches.first_touch_extra_s"] = (
        sum(first[k] - second[k] for k in pairs) / n_pair if n_pair else 0.0)
    m["caches.storage_mb"] = raw["extras"].get("storage_bytes", 0.0) / MB

    m["tables.resolve_miss_s"] = raw["setups"][0]["resolve_miss_s"]
    m["tables.resolve_hit_s"] = raw["setups"][0]["resolve_hit_s"]
    m["plans.plan_s"] = spans("plans.plan")

    exec_spans = ("exec.exec", "mr.write", "mr.read", "mr.mapreduce", "mr.pipe",
                  "sources.dfs_write", "sources.dfs_read")
    m["exec.exec_s"] = sum(spans(s) for s in exec_spans)
    ex_jobs = [j for j in jobs if j["phase"] == "exec"]
    st = [raw["stages"][str(s)] for j in ex_jobs for s in j["stages"]
          if str(s) in raw["stages"]]
    crit = sum(s["max_task_ms"] for s in st) / 1e3
    run_s = sum(s["run_ms"] for s in st) / 1e3
    m["exec.jobs"] = len(ex_jobs) / n
    m["exec.tasks"] = sum(s["tasks"] for s in st) / n
    m["exec.task_run_s"] = run_s / n
    m["exec.task_cpu_s"] = sum(s["cpu_ns"] for s in st) / 1e9 / n
    m["exec.gc_s"] = sum(s["gc_ms"] for s in st) / 1e3 / n
    m["exec.critical_path_s"] = crit / n
    m["exec.parallelism"] = run_s / crit if crit else 0.0
    m["exec.one_task_stage_ratio"] = (
        sum(1 for s in st if s["tasks"] == 1) / len(st) if st else 0.0)
    m["exec.shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in st) / MB / n
    m["exec.spill_mb"] = sum(s["spill_b"] for s in st) / MB / n
    m["exec.input_mb"] = sum(s["input_b"] for s in st) / MB / n

    for verb in ("write", "read", "mapreduce", "pipe"):
        m[f"mr.{verb}_s"] = spans(f"mr.{verb}")
    mr_s = spans("mr.mapreduce") + spans("mr.pipe")
    m["mr.records_per_s"] = 2 * CORPUS_LINES / mr_s if mr_s else 0.0
    m["sources.dfs_write_s"] = spans("sources.dfs_write")
    m["sources.dfs_read_s"] = spans("sources.dfs_read")

    sp = raw["streams"]
    m["streaming.batches"] = len(sp["batch_ms"]) / n
    m["streaming.batch_p50_ms"] = statistics.median(sp["batch_ms"]) if sp["batch_ms"] else 0.0
    m["streaming.add_batch_ms"] = sp["add_batch_ms"] / n
    m["streaming.commit_ms"] = sp["commit_ms"] / n
    m["streaming.state_rows"] = sp["state_rows"] / n
    m["streaming.state_mb"] = sp["state_bytes"] / MB / n

    walls = {True: [], False: []}
    for x in raw["passes"]:
        if x["pass"] > 0:
            walls[x["traced"]].append(x["wall_s"])
    m["trace.overhead_s"] = (statistics.median(walls[True]) - statistics.median(walls[False])
                             if walls[True] and walls[False] else 0.0)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.build()
    tables = tables_dir()
    base = os.path.dirname(build.build_dir())
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw_path = os.path.join(work, "raw.json")
        conf = {"mode": "run", "workload": a.workload, "tables": tables,
                "work": work, "cores": cores(), "out": raw_path,
                "passes": passes_for(a.workload, a.seconds, a.trace),
                "trace": a.trace}
        conf.update(inputs(a.workload, a.seed, work))
        rc = java(classes, conf, work)
        if rc != 0 or not os.path.exists(raw_path):
            sys.exit(f"perfbench: client exited with {rc}")
        with open(raw_path) as f:
            raw = json.load(f)
        if a.trace:
            os.makedirs(os.path.join(base, "trace"), exist_ok=True)
            shutil.copyfile(raw_path, os.path.join(base, "trace", f"{a.workload}-{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = raw["ops"]
    failed = [o for o in ops if o["err"]]
    for o in failed:
        print(f"FAILED op {o['name']} (pass {o['pass']}): {o['err']}", file=sys.stderr)
    e2e, tail = end_to_end(raw)
    e2e["op_fail_ratio"] = len(failed) / len(ops)
    print(f"{a.workload} seed={a.seed} cores={cores()} passes={conf['passes']} "
          f"ops={len(ops)} failed={len(failed)} op_tail_s=p{tail['tail_percentile']} "
          f"of {tail['tail_samples']} timed ops ({tail['beyond_tail']} beyond)",
          file=sys.stderr)
    for k, v in e2e.items():
        print(f"  {k:32s} {v:.6g} {END_TO_END_UNITS[k]}", file=sys.stderr)
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        layers = per_layer(raw)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        for k, v in metrics.items():
            print(f"  {k:32s} {v['value']:.6g} {v['unit']}", file=sys.stderr)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not failed, "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))

if __name__ == "__main__":
    main()

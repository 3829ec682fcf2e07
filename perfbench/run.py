#!/usr/bin/env python3
"""Benchmark of the auction pipeline and the query surface.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all [--seed N] [--seconds S]

Run from the repository root. The first run builds the program and the
benchmark's JVM side from source (sbt, into $CARGO_TARGET_DIR or .bench_build);
later runs reuse the build while the sources are unchanged. Each run makes
its inputs from the seed in a fresh scratch directory under .bench_run/,
drives one JVM in a closed loop for --seconds, checks the outputs, deletes
the scratch directory, and prints one JSON object as its last line. Results
and traces are also kept under .bench_out/ for compare.py.

`--workload all` runs every workload untraced and then traced, prints every
end-to-end metric by name with its unit, and the tracing overhead.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import fcntl
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# one to three queries from each of the five query families, spanning the
# family's latency range (warm 0.3 to 0.9 s at sf0.1 on 4 cores)
INTERACTIVE = [
    "q01_pricing_summary", "q04_keep_newest", "q09_anti_join",            # relational
    "q13_part_exprs", "q15_date_exprs", "q17_json_extract",               # expressions
    "q80_zorder_stats", "q84_snapshot_diff", "q96_point_in_time",         # warehouse
    "q82_funnel", "q99_streaks",                                          # events
    "q35_asof_join", "q39_pivot", "q74_rank_suite",                       # advanced joins
]
# one query from each executor-bound tier; a pass takes 5-7 s warm at 4
# cores, so --seconds 9 times two whole passes
CURATION = [
    "q201_cluster_split_forest",   # connected components (RDD label propagation)
    "q256_closeness",              # HyperBall (RDD loop)
    "q171_suffix_array",           # suffix tier
    "q168_margin_mining_ivf",      # similarity and vector kernels
]
WORKLOADS = {
    "ingest_batches": None,
    "interactive_queries": INTERACTIVE,
    "curation_heavy": CURATION,
}
END_TO_END = [("setup_s", "s"), ("latency_s", "s"), ("ops_per_min", "1/min"),
              ("cpu_s_per_op", "s"), ("held_mb", "MB")]
# per-layer metrics: mean per op of the root span's counters ("op") and of
# the op's plan-building and action-running child spans ("build", "execute")
# (codegen_s is in the trace but not here: after the warm-up the codegen
# cache serves every timed plan, so it reads 0 on every run)
PER_LAYER = {
    "op": ["s", "self_s", "jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
           "idle_s", "busy_frac", "empty_task_frac", "plan_s",
           "shuffle_mb", "spill_mb", "input_mb", "output_mb", "gc_s", "jit_s"],
    "build": ["s", "jobs", "tasks", "idle_s", "plan_s"],
    "execute": ["s", "jobs", "stages", "tasks", "idle_s", "busy_frac",
                "empty_task_frac", "task_cpu_s", "plan_s", "shuffle_mb", "output_mb"],
}
UNITS = {"s": "s", "jobs": "count", "stages": "count", "tasks": "count",
         "busy_frac": "ratio", "empty_task_frac": "ratio"}
SOURCES = ["src/main/scala", "perfbench/scala", "perfbench/build.sbt",
           "perfbench/project/build.properties"]
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# A fixed 3 GB heap, so GC work does not depend on how far an adaptive heap
# happened to grow in a run. Its RSS reaches 3.6 GB in every run, so memory
# is measured as held_mb, what the program holds after a full collection.
# One C1 and one C2 compiler thread: in a run of a minute the JIT never
# reaches steady state, and the default three threads took cores from the
# timed ops (4 cores, four consecutive runs each: ingest cpu_s_per_op 26 s ->
# 21 s, latency 8.0 s -> 7.2 s). No perf-data file under /tmp.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:CICompilerCount=2", "-XX:ReservedCodeCacheSize=1g",
             "-XX:-UsePerfData"]
RUN_LIMIT_S = 170


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def unit_of(counter: str) -> str:
    if counter in UNITS:
        return UNITS[counter]
    return "s" if counter.endswith("_s") else "MB" if counter.endswith("_mb") else "count"


# ---------------------------------------------------------------- build

def source_stamp() -> str:
    h = hashlib.sha1()
    for rel in SOURCES:
        p = os.path.join(ROOT, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build_dir() -> str:
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def build() -> str:
    """Compiles the program and the benchmark's JVM side when the sources
    changed; returns the run classpath: the class directory and the jars sbt
    compiled against."""
    for rel in ("src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from a checkout of the repository")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "classpath")
    stamp = source_stamp()
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read()
        env = dict(os.environ, PERFBENCH_TARGET=out, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(out, "build.log")
        with open(log, "w") as fh:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime / fullClasspath"],
                               cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=840)
        lines = open(log).read().splitlines()
        if r.returncode != 0 or not lines:
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            fail("build failed")
        # the export prints the classpath as the last line of the log
        with open(cp_file, "w") as fh:
            fh.write(lines[-1].strip())
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return open(cp_file).read()


# ---------------------------------------------------------------- one run

def steal_ticks():
    with open("/proc/stat") as f:
        nums = [int(x) for x in f.readline().split()[1:]]
    return (nums[7] if len(nums) > 7 else 0), sum(nums)


def run_once(workload: str, seed: int, seconds: int, trace: int, classpath: str) -> dict:
    t0 = time.time()
    scratch = os.path.join(ROOT, ".bench_run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    data, work, tmp = (os.path.join(scratch, d) for d in ("data", "work", "tmp"))
    for d in (data, work, tmp):
        os.makedirs(d)
    proc = None
    try:
        queries = WORKLOADS[workload]
        if queries is None:
            import gen_batches
            # enough batches for the warm-up and a window of 2 s ops
            gen_batches.generate(data, seed, gen_batches.WARMUP_BATCHES + seconds // 2 + 1)
        else:
            import gen_tables
            gen_tables.generate(data)
            queries = list(queries)
            random.Random(seed).shuffle(queries)
        out = os.path.join(work, "result.json")
        cmd = ["java", *JVM_OPENS, *JVM_FLAGS,
               f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
               "graft.perfbench.Main", "--workload", workload, "--seconds", str(seconds),
               "--trace", str(trace), "--data", data, "--work", work, "--out", out,
               "--t0", str(int(t0 * 1000))]
        if queries:
            cmd += ["--queries", ",".join(queries)]
        st0, tot0 = steal_ticks()
        log = os.path.join(scratch, "jvm.log")
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=scratch, stdout=fh, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            rc = proc.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t0)))
        st1, tot1 = steal_ticks()
        if rc != 0 or not os.path.isfile(out):
            lines = open(log, errors="replace").read().splitlines()
            causes = [l for l in lines if "Exception" in l or "Error" in l]
            sys.stderr.write("\n".join(causes[:20] + lines[-30:]) + "\n")
            fail(f"benchmark JVM exited with {rc}", 1)
        res = json.load(open(out))
        bad_queries = {}
        if queries:
            import oracle
            verdicts = oracle.check(os.path.join(work, "verify"), data, queries,
                                    os.path.join(build_dir(), "oracle"))
            bad_queries = {q: v for q, v in verdicts.items() if v != "OK"}
        res["bad_queries"] = bad_queries
        res["steal_pct"] = 100.0 * (st1 - st0) / max(1, tot1 - tot0)
        res["loadavg"] = open("/proc/loadavg").read().split()[:3]
        return res
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def latency(ops, workload: str) -> float:
    """Median op latency per op kind, geometric mean over kinds. An ingest
    op has one kind (a batch); a query workload has one kind per query, so
    the figure weighs every query alike and does not jump when the plain
    median moves from one query's latencies to another's."""
    kinds = {}
    for o in ops:
        kinds.setdefault("batch" if WORKLOADS[workload] is None else o["name"], []).append(o["s"])
    if not kinds:
        return 0.0
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in kinds.values()))


def end_to_end(res: dict, workload: str) -> dict:
    ops = res["ops"]
    good = [o for o in ops if o["ok"] and o["name"] not in res["bad_queries"]]
    wall = sum(o["s"] for o in ops) or 1.0
    return {
        "setup_s": res["setup_s"],
        "latency_s": latency(good, workload),
        "ops_per_min": 60.0 * len(good) / wall,
        "cpu_s_per_op": sum(o["cpu_s"] for o in ops) / max(1, len(ops)),
        "held_mb": res["held_mb"],
    }


def per_layer(res: dict):
    """(metrics, trace summary) from the spans of a traced run. Each metric
    is a mean per op: of the root span's counters ("op.*"), and of the
    counters summed over the op's "build" or "execute" child spans; the two
    ratios of a role are taken over its summed counters."""
    spans = res.get("spans", [])
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    sums = {f"{r}.{c}": 0.0 for r, cs in PER_LAYER.items() for c in cs}
    tree_bad = 0
    cores = os.cpu_count() or 1
    for op_spans in by_op.values():
        root = next(s for s in op_spans if s["parent"] < 0)
        kids = [s for s in op_spans if s["parent"] == root["id"]]
        nested = all(root["start_ms"] <= k["start_ms"] and k["end_ms"] <= root["end_ms"]
                     for k in kids)
        if not nested or abs(root["self_s"] + sum(k["s"] for k in kids) - root["s"]) > 1e-6:
            tree_bad += 1
        for c in PER_LAYER["op"]:
            sums[f"op.{c}"] += root[c]
        for role in ("build", "execute"):
            ks = [k for k in kids if k["role"] == role]
            for c in PER_LAYER[role]:
                if c == "busy_frac":
                    wall = sum(k["s"] for k in ks)
                    v = sum(k["task_run_s"] for k in ks) / (wall * cores) if wall else 0.0
                elif c == "empty_task_frac":
                    n = sum(k["tasks"] for k in ks)
                    v = sum(k[c] * k["tasks"] for k in ks) / n if n else 0.0
                else:
                    v = sum(k[c] for k in ks)
                sums[f"{role}.{c}"] += v
    n = max(1, len(by_op))
    metrics = {k: v / n for k, v in sums.items()}
    by_name = {}
    for s in spans:
        agg = by_name.setdefault(s["name"], {"count": 0})
        agg["count"] += 1
        for k, v in s.items():
            if isinstance(v, float):
                agg[k] = agg.get(k, 0.0) + v
    for agg in by_name.values():
        for k in agg:
            if k != "count":
                agg[k] = round(agg[k] / agg["count"], 6)
    return metrics, {"traced_ops": len(by_op), "tree_violations": tree_bad,
                     "spans_by_name": by_name}


def report(workload: str, seed: int, seconds: int, trace: int, res: dict) -> dict:
    ops = res["ops"]
    failed_ops = [o for o in ops if not o["ok"] or o["name"] in res["bad_queries"]]
    e2e = end_to_end(res, workload)
    ctx = {"ops": len(ops), "steal_pct": round(res["steal_pct"], 2),
           "loadavg": res["loadavg"], "bad_queries": res["bad_queries"],
           "dump_failed": res.get("dump_failed", []),
           "failed_frac": len(failed_ops) / max(1, len(ops)),
           "op_s_p50": statistics.median([o["s"] for o in ops if o not in failed_ops] or [0.0]),
           "latency_s": e2e["latency_s"], "setup_s": res["setup_s"],
           "rss_hwm_mb": res["rss_hwm_mb"],
           "warmup_s": [round(x, 3) for x in res.get("warmup_s", [])],
           "op_s": [round(o["s"], 3) for o in ops]}
    lat = [o["s"] for o in ops if o not in failed_ops]
    if len(lat) >= 100:
        ctx["op_s_p90"] = statistics.quantiles(lat, n=10)[8]
    if "rows_committed" in res:
        ctx["rows_per_s"] = res["rows_committed"] / max(1e-9, sum(o["s"] for o in ops))
    for o in failed_ops[:5]:
        ctx.setdefault("errors", []).append(f"{o['name']}: {o['err'][:300]}")
    if trace:
        metrics, summary = per_layer(res)
        units = {f"{r}.{c}": unit_of(c) for r, cs in PER_LAYER.items() for c in cs}
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        ctx.update(summary)
    else:
        units = dict(END_TO_END)
        out_metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    result = {"correct": not failed_ops and bool(ops), "attempted": max(1, len(ops)),
              "failed": len(failed_ops) if ops else 1, "metrics": out_metrics}
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    base = os.path.join(ROOT, ".bench_out", f"{workload}-seed{seed}-trace{trace}")
    with open(base + ".json", "w") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                   "result": result, "context": ctx,
                   "ops": [{k: o[k] for k in ("name", "s", "cpu_s", "ok")} for o in ops]},
                  f, indent=1)
    if trace:
        with open(base + ".trace.json", "w") as f:
            json.dump({"spans": res.get("spans", [])}, f)
    print(json.dumps({"context": ctx}, default=str))
    for k, v in out_metrics.items():
        print(f"  {workload:20s} {k:24s} {v['value']:12.4f} {v['unit']}")
    return result


def main():
    # a terminated run still stops its JVM and deletes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=json.load(
        open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    classpath = build()
    if a.workload != "all":
        res = run_once(a.workload, a.seed, a.seconds, a.trace, classpath)
        print(json.dumps(report(a.workload, a.seed, a.seconds, a.trace, res)))
        return
    rows = []
    for w in WORKLOADS:
        r0 = report(w, a.seed, a.seconds, 0, run_once(w, a.seed, a.seconds, 0, classpath))
        r1 = report(w, a.seed, a.seconds, 1, run_once(w, a.seed, a.seconds, 1, classpath))
        traced = json.load(open(os.path.join(ROOT, ".bench_out", f"{w}-seed{a.seed}-trace1.json")))
        rows.append((w, r0, r1, traced["context"]["latency_s"]))
    print(f"\n{'workload':20s} {'metric':15s} {'value':>12s} unit")
    for w, r0, r1, lat_traced in rows:
        for k, v in r0["metrics"].items():
            print(f"{w:20s} {k:15s} {v['value']:12.4f} {v['unit']}")
        print(f"{w:20s} {'failed_frac':15s} {r0['failed'] / r0['attempted']:12.4f} ratio")
        lat = r0["metrics"]["latency_s"]["value"]
        print(f"{w:20s} {'trace_overhead':15s} {lat_traced / lat - 1 if lat else 0:12.4f} "
              f"ratio (traced latency_s {lat_traced:.4f} s)")
    ok = all(r0["correct"] and r1["correct"] for _, r0, r1, _ in rows)
    print(json.dumps({"correct": ok, "attempted": sum(r[1]["attempted"] for r in rows),
                      "failed": sum(r[1]["failed"] for r in rows), "metrics": {}}))

if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""End-to-end benchmark of the graft query engine.

Usage:
  python3 graftbench/run.py --workload textdedup|lakehouse \
      --seed N --seconds S --trace 0|1 [--data DIR] [--out FILE]

One process per run, one SparkSession, local[min(4, nproc)]. One client runs
the workload's queries one after another (a closed loop): pass 0 is the cold
pass in a fresh JVM, then WARM_PASSES warm passes; pass_s is the median of
warm passes 2 and 3, so both sides of a comparison time the same pass
indices. These are early warm passes of a fresh JVM, while HotSpot is still
compiling. The number of passes is fixed, so --seconds is accepted but does
not change what is timed; the three warm passes take about 15 s on 4 cores.
The seed only fixes the query order of each pass. Every executed query's
fully collected result is checked against the DuckDB oracle for that query.
A run taken while the hypervisor stole more than STEAL_LIMIT_PCT of the CPU
is marked as such on stdout and in its record.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of the outside-in trace (see graftbench/README.md). The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}. The
full record of the run (every pass, every query, every counter) is written to
--out, by default .bench_build/results/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402

# The sf0.1 test tables (TESTDATA.md), kept under the home directory.
DEFAULT_DATA = str(Path.home() / "testdata" / "sf0.1")
RUN_LIMIT_S = 170

# Each workload: why it is in the benchmark, the base tables it registers
# during set-up, and its queries.
WORKLOADS = {
    "textdedup": {
        "why": "dedup and similarity over documents/embeddings: wide shuffles, "
               "cached intermediates, text and vector kernels",
        "tables": ["documents", "embeddings"],
        "queries": ["q40_dedup_exact", "q42_simhash", "q43_ngram_jaccard",
                    "q44_embedding_neardup", "q50_cosine_topk", "q127_knn_graph"],
    },
    "lakehouse": {
        "why": "driver- and storage-bound versioned tables: commits, manifests, "
               "deletion vectors, compaction, time travel, change feed, MV rewrite",
        # Every lakehouse query generates its rows with GraftDocsSource, so
        # there are no base tables to register.
        "tables": [],
        "queries": ["q216_time_travel", "q219_version_feed", "q228_mor_delete",
                    "q273_materialized_view"],
    },
}

# Warm passes after the cold one. Pass 1 only settles; pass_s is taken from
# passes 2 and 3.
WARM_PASSES = 3
# Above this share of CPU time taken by the hypervisor (/proc/stat steal),
# a run's timings are marked as not comparable with runs below it: ten
# lakehouse runs at 3.9-16.7 % steal read pass_s 31-55 % above sets of the
# same program taken at 0.1-4.3 % (graftbench/README.md). The run is still
# reported, not dropped.
STEAL_LIMIT_PCT = 5.0
HEAP = "3g"
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Per-layer counters of --trace 1. Each is summed over one pass; the reported
# value is the median over the traced warm passes.
LAYER_KEYS = [
    "build.ms", "build.jobs", "build.driver_gap_ms",
    "plan.ms", "plan.analysis_ms", "plan.optimizer_ms", "plan.planning_ms",
    "plan.exchanges", "plan.broadcasts",
    "exec.ms", "exec.jobs", "exec.jobs_unattributed", "exec.stages", "exec.tasks",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.input_mb", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.fetch_wait_s", "exec.spill_mb", "exec.driver_gap_ms",
    "io.syscr", "io.syscw", "io.rchar_mb", "io.wchar_mb",
    "sources.files_created", "sources.bytes_created",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.state_rows",
    "jvm.jit_ms", "jvm.gc_ms", "process.cpu_s", "codegen.compiles", "codegen.compile_ms",
]
# Leaks are summed over every traced pass, the cold one included: a leak that
# happens once per process only shows in the first pass.
LEAK_KEYS = ["session.leaked_conf", "session.leaked_rules", "session.leaked_catalogs",
             "session.leaked_views", "session.leaked_cached", "session.leaked_threads",
             "session.leaked_tmp_files"]
# What the cold pass pays that warm passes do not.
COLD_KEYS = ["jvm.jit_ms", "codegen.compiles", "codegen.compile_ms", "process.cpu_s"]


def unit_of(key):
    if key.endswith("bytes_created"):
        return "bytes"
    suffix = key.rsplit("_", 1)[-1] if "_" in key else key.rsplit(".", 1)[-1]
    return {"ms": "ms", "s": "s", "mb": "MB", "pct": "%"}.get(suffix, "count")


def fail(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def cpu_ticks():
    """(steal, total) jiffies over all CPUs from /proc/stat, or None."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def jvm_command(cp, run_dir, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dderby.system.home={run_dir / 'derby'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "graftbench.Harness"] + args)


def run_harness(cp, run_dir, args):
    """Runs the harness JVM; returns (launch epoch seconds, its output document)."""
    out, log = run_dir / "run.json", run_dir / "harness.log"
    launched = time.time()
    with open(log, "wb") as lf:
        try:
            proc = subprocess.run(jvm_command(cp, run_dir, args + ["--out", str(out)]),
                                  stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir,
                                  env=dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local")),
                                  timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; log tail:\n{tail(log)}")
    if proc.returncode != 0 or not out.is_file():
        fail(f"harness exited with {proc.returncode}; log tail:\n{tail(log)}")
    return launched, json.loads(out.read_text())


def tail(path, n=3000):
    try:
        return Path(path).read_text(errors="replace")[-n:]
    except OSError:
        return ""


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get("GRAFTBENCH_DATA", DEFAULT_DATA))
    ap.add_argument("--out")
    a = ap.parse_args()
    w = WORKLOADS[a.workload]
    if not (Path(a.data) / "documents.parquet").exists():
        fail(f"input tables not found in {a.data}")
    try:
        cp = build.ensure_built()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")

    warm = WARM_PASSES
    if a.trace:
        # Warm pass 1 settles untraced; after it traced (even) and untraced
        # (odd) passes alternate, so each untraced pass has a traced one on
        # either side and the overhead estimate brackets the warm-up drift.
        warm += 1
    cores = min(4, os.cpu_count() or 1)
    run_dir = build.BUILD / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "derby"):
        (run_dir / d).mkdir(parents=True)
    ticks0 = cpu_ticks()
    try:
        launched, doc = run_harness(cp, run_dir, [
            "--queries", ",".join(w["queries"]), "--tables", ",".join(w["tables"]),
            "--data", a.data, "--seed", str(a.seed), "--cores", str(cores),
            "--passes", str(warm), "--trace", str(a.trace)])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    ticks1 = cpu_ticks()
    steal_pct = (100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
                 if ticks0 and ticks1 else 0.0)

    expected = oracle.expected(doc["oracle_sql"], a.data, build.BUILD / "oracle")
    attempted = failed = 0
    problems = []
    for p in doc["passes"]:
        for q in p["queries"]:
            attempted += 1
            want = expected.get(q["name"], "error: no oracle SQL")
            if "error" in q or q.get("digest") != want:
                failed += 1
                q["check"] = q.get("error") or f"digest {q.get('digest')} != oracle {want}"
                problems.append(f"pass {p['index']} {q['name']}: {q['check']}")
            else:
                q["check"] = "ok"

    passes = doc["passes"]
    setup_s = doc["ready_ms"] / 1e3 - launched
    if a.trace == 0:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (passes[0]["seconds"], "s"),
            # Warm pass 1 only settles: the JIT drift is steepest there.
            "pass_s": (median([p["seconds"] for p in passes[2:]]), "s"),
            "heap_live_mb": (doc["heap_live_mb"], "MB"),
        }
    else:
        metrics = layer_metrics(doc, steal_pct)
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
        "build": Path(cp.split(os.pathsep)[0]).name, "warm_passes": warm,
        "queries": w["queries"], "setup_s": setup_s,
        "setup_split_ms": {k: doc[k] - doc["jvm_start_ms"]
                           for k in ("main_ms", "session_ms", "registry_ms", "ready_ms")},
        "pass_seconds": [p["seconds"] for p in passes],
        "ops_attempted": attempted, "ops_failed": failed,
        "host_canary_ms": doc["canary_ms"], "host_steal_pct": steal_pct,
        "steal_over_limit": steal_pct > STEAL_LIMIT_PCT,
        "result": out, "passes": passes, "expected": expected,
    }
    out_path = Path(a.out) if a.out else (
        build.BUILD / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    out_path.parent.mkdir(parents=True, exist_ok=True)
    out_path.write_text(json.dumps(record, indent=1))

    for line in problems[:20]:
        print(f"[graftbench] FAILED {line}")
    if a.trace:
        print_breakdown(passes)
    print_passes(passes)
    print(f"[graftbench] {a.workload} seed={a.seed} local[{cores}] passes=1 cold + {warm} warm"
          f" ops_attempted={attempted} ops_failed={failed}"
          f" host.canary_ms={median(doc['canary_ms']):.1f} record={out_path}")
    for k, (v, u) in metrics.items():
        print(f"[graftbench]   {k:28s} {v:14.4f} {u}")
    if a.trace == 0:
        print(f"[graftbench]   {'host.steal_pct':28s} {steal_pct:14.4f} %")
    if steal_pct > STEAL_LIMIT_PCT:
        print(f"[graftbench] MARKED: host.steal_pct {steal_pct:.1f} is above the limit of"
              f" {STEAL_LIMIT_PCT:.0f} %; this run's times are not comparable with runs"
              f" below it")
    print(json.dumps(out), flush=True)


def layer_metrics(doc, steal_pct):
    passes = doc["passes"]
    traced_warm = [p for p in passes[1:] if p["traced"]]
    untraced_warm = [p for p in passes[2:] if not p["traced"]]

    def pass_sum(p, key):
        return sum(q.get("trace", {}).get(key, 0.0) for q in p["queries"])

    m = {}
    for k in LAYER_KEYS:
        m[k] = (median([pass_sum(p, k) for p in traced_warm]), unit_of(k))
    for k in LEAK_KEYS:
        m[k] = (sum(pass_sum(p, k) for p in passes if p["traced"]), "count")
    for k in COLD_KEYS:
        m["cold." + k] = (pass_sum(passes[0], k), unit_of(k))
    m["host.canary_ms"] = (median(doc["canary_ms"]), "ms")
    m["host.steal_pct"] = (steal_pct, "%")
    traced_s = median([p["seconds"] for p in traced_warm])
    untraced_s = median([p["seconds"] for p in untraced_warm])
    m["trace.pass_s"] = (traced_s, "s")
    m["trace.untraced_pass_s"] = (untraced_s, "s")
    m["trace.overhead_s"] = (traced_s - untraced_s, "s")
    return m


def print_passes(passes):
    """Wall time of each pass next to the JIT compiler time and process CPU
    spent in it; traced passes add the task CPU of Spark's executors."""
    print("[graftbench] per pass:   pass  traced   seconds  jvm.jit_ms  process.cpu_s  exec.cpu_s")
    for p in passes:
        exec_cpu = (f"{sum(q.get('trace', {}).get('exec.cpu_s', 0.0) for q in p['queries']):11.2f}"
                    if p["traced"] else f"{'-':>11s}")
        print(f"[graftbench]            {p['index']:4d}  {str(p['traced']):>6s}  {p['seconds']:8.3f}"
              f"  {p['jit_ms']:10.0f}  {p['cpu_s']:13.2f} {exec_cpu}")


def print_breakdown(passes):
    """Per-query medians over the traced warm passes, plus the cold pass."""
    cols = ["build.ms", "plan.ms", "exec.ms", "exec.jobs", "exec.jobs_unattributed",
            "plan.exchanges", "exec.shuffle_write_mb", "exec.driver_gap_ms", "io.syscr",
            "jvm.jit_ms"]
    traced_warm = [p for p in passes[1:] if p["traced"]]
    print("[graftbench] per query: median over traced warm passes; cold-pass seconds last")
    print("[graftbench]   " + " ".join(f"{c[-12:]:>12s}" for c in ["query"] + cols + ["cold_s"]))
    cold = {q["name"]: q for q in passes[0]["queries"]}
    for name in sorted(cold):
        runs = [q.get("trace", {}) for p in traced_warm for q in p["queries"] if q["name"] == name]
        vals = [median([r.get(c, 0.0) for r in runs]) for c in cols]
        print("[graftbench]   " + f"{name[:12]:>12s} " + " ".join(f"{v:12.2f}" for v in vals)
              + f" {cold[name]['seconds']:12.3f}")


if __name__ == "__main__":
    main()

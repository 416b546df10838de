#!/usr/bin/env python3
"""lab-etl benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program with its
own sbt build and the harness under perfbench/harness (later runs reuse
the build while the sources are unchanged), generates the workload's
inputs from the seed, runs the harness for S seconds of ops, checks every
output against references that do not use the program's code, and
prints one JSON line last: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("ingest_fleet", "query_mix", "store_lifecycle")
# Scale of the generated tables (lineitem = 6M * SF rows) and the fleet's
# shape: shards x (STA, MCC, HFM) files per shard.
SF = 0.01
FLEET = dict(shards=4, sta_per_shard=4, mcc_per_shard=4, hfm_per_shard=6)
HEAP = "3g"
# Spark runs local[1] with one shuffle partition. The ops are driver-bound
# (local[1], [2] and [4] gave the same latencies on a calm host), and on a
# shared VM local[4] wakes every vCPU for each short Spark job: in
# interleaved runs it drew up to 6% hypervisor steal where local[1] drew
# at most about 1%, and its run-to-run spread was wider. See README.md,
# "Run length and noise".
SPARK_THREADS = 1
JVM_TIMEOUT_S = 160

# Per-layer metrics of a traced run: name -> unit. Counts, bytes and
# times are per op; a workload that does not exercise a layer reads 0.
PER_LAYER = {
    "sources.parse_mb_per_s": "MB/s", "sources.dir_setup_ms": "ms", "sources.single_load_ms": "ms",
    "sink.write_ms": "ms", "sink.fleet_write_ms": "ms", "sink.bytes_out": "B", "sink.files_out": "count",
    "query.build_ms": "ms", "query.plan_ms": "ms", "query.exec_ms": "ms",
    "query.relational_ms": "ms", "query.asof_ms": "ms", "query.dedup_ms": "ms",
    "query.similarity_ms": "ms", "query.text_ms": "ms", "query.sketch_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "spark.actions_per_op": "count", "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "driver.gap_ms_per_op": "ms",
    "exec.task_cpu_s": "s", "exec.task_run_s": "s", "exec.busy_frac": "ratio", "exec.gc_s": "s",
    "shuffle.write_bytes": "B", "shuffle.read_bytes": "B", "shuffle.fetch_wait_ms": "ms",
    "spill.bytes": "B", "scan.input_bytes": "B", "codegen.compile_ms": "ms", "codegen.classes": "count",
    "store.merge_ms": "ms", "stream.tick_ms": "ms", "store.compact_ms": "ms", "store.vacuum_ms": "ms",
    "store.lookup_build_ms": "ms", "store.lookup_collect_ms": "ms",
    "store.files_per_commit": "count", "store.bytes_per_commit": "B",
    "store.live_bytes_per_user_byte": "ratio",
    "fs.list_calls_per_op": "count", "fs.open_calls_per_op": "count", "fs.create_calls_per_op": "count",
    "fs.rename_calls_per_op": "count", "fs.delete_calls_per_op": "count",
    "fs.exists_calls_per_op": "count",
    "self.op_ms_per_op": "ms", "self.build_ms_per_op": "ms", "self.plan_ms_per_op": "ms",
    "self.exec_ms_per_op": "ms", "self.load_ms_per_op": "ms", "self.write_ms_per_op": "ms",
    "self.collect_ms_per_op": "ms", "self.spark_jobs_ms_per_op": "ms",
    "trace.spans_per_op": "count", "trace.ops_per_s": "ops/s", "trace.untraced_ops_per_s": "ops/s",
    "trace.overhead_frac": "ratio",
}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "harness")]
    paths = [os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = sorted(x for x in dirs if not (x == "target" or x.startswith(".") or (
                x == "project" and os.path.basename(d) == "project")))
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _sbt(cwd, args, logf, env_extra=None):
    """Runs sbt in batch mode; returns the last classpath line it printed."""
    env = dict(os.environ, **(env_extra or {}))
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx3g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args, cwd=cwd, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True)
    logf.write(r.stdout + r.stderr)
    paths = [line.strip() for line in r.stdout.splitlines() if line.startswith("/")]
    if r.returncode != 0 or not paths:
        sys.exit(f"perfbench: sbt {' '.join(args)} failed in {cwd}; see {logf.name}")
    return paths[-1]


def build():
    """The runtime classpath: the program built by its own build at the
    root, the harness by perfbench/harness/build.sbt on top of it."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(os.path.join(ROOT, "src", "main")):
        sys.exit("perfbench: the program's sources (build.sbt, src/main) are not here; "
                 "run from the root of a full checkout")
    digest = _sources_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        program = _sbt(ROOT, ["export Runtime/fullClasspath"], logf)
        cp = _sbt(os.path.join(BENCH, "harness"), ["export Runtime/fullClasspath"], logf,
                  {"PERFBENCH_PROGRAM_CLASSPATH": program})
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


# ------------------------------------------------------------------ run

def generate(workload, seed, data):
    t0 = time.time()
    gen.write_tables(data, seed, SF)
    manifest = None
    if workload == "ingest_fleet":
        manifest = gen.write_fleet(os.path.join(data, "fleet"), seed, **FLEET)
    return manifest, time.time() - t0


def run_harness(cp, args, data, run_dir, threads):
    out = os.path.join(run_dir, "report.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", data, "--work", run_dir, "--out", out,
        "--cpus", str(threads)]
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        try:
            r = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: harness timed out after {JVM_TIMEOUT_S}s; see {logf.name}")
    if r.returncode != 0 or not os.path.exists(out):
        sys.exit(f"perfbench: harness failed (exit {r.returncode}); see {os.path.join(run_dir, 'harness.log')}")
    with open(out) as f:
        return json.load(f)


def verify(workload, report, manifest, data):
    """Mark every op whose output is wrong; returns notes on whole-run checks."""
    ops = report["ops"]
    notes = {}
    if workload == "ingest_fleet":
        wrong = check.ingest(report, manifest)
    elif workload == "query_mix":
        bad = check.queries(report, data)
        notes["oracle_mismatches"] = bad
        wrong = {op["id"]: f"oracle: {bad[op['query']]}" for op in ops if op.get("query") in bad}
    else:
        wrong = {}
        if report.get("head_check"):
            wrong.update({op["id"]: report["head_check"] for op in ops if op["kind"] in ("merge", "compact")})
        err = check.sealed_export(report["stream"], data)
        notes["sealed_export"] = err or "ok"
        if err:
            wrong.update({op["id"]: err for op in ops if op["kind"] == "tick"})
    for op in ops:
        if op["ok"] and op["id"] in wrong:
            op["ok"] = False
            op["error"] = "WrongResult: " + wrong[op["id"]]
    return notes


def pct(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    i = int(k)
    return xs[i] + (xs[min(i + 1, len(xs) - 1)] - xs[i]) * (k - i)


def geomean_of_medians(ops):
    by = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["ms"])
    meds = [statistics.median(v) for v in by.values()]
    return statistics.geometric_mean(meds) if meds else 0.0


def metrics_end_to_end(workload, report, ops):
    good = [o for o in ops if o["ok"]]
    ms = [o["ms"] for o in good]
    wall = report["wall_s"]
    e2e = {
        "setup_s": (statistics.median(report["setup_s"]), "s"),
        "ops_per_s": (len(good) / wall, "ops/s"),
        "op_p50_ms": (pct(ms, 0.5), "ms"),
        "op_p90_ms": (pct(ms, 0.9), "ms"),
        "kind_geomean_ms": (geomean_of_medians(good), "ms"),
        "peak_rss_mb": (report["peak_rss_mb"], "MB"),
    }
    # Workload-specific figures: reported beside the metrics, not gated.
    extra = {"failed_frac": (len(ops) - len(good)) / max(len(ops), 1)}
    if workload == "ingest_fleet":
        fleet = [o for o in good if o["op"] == "fleet"]
        extra["ingest_mb_per_s"] = sum(o["in_bytes"] for o in fleet) / 1e6 / max(sum(o["ms"] for o in fleet) / 1e3, 1e-9)
        extra["convert_p50_ms"] = pct([o["ms"] for o in good if o["op"] == "convert"], 0.5)
        extra["bytes_written_per_input_byte"] = (sum(o.get("out_bytes", 0) for o in good)
                                                 / max(sum(o["in_bytes"] for o in good), 1))
    elif workload == "query_mix":
        extra["query_geomean_ms"] = geomean_of_medians(good)
        extra["query_p50_ms"] = {q: statistics.median([o["ms"] for o in good if o["kind"] == q])
                                 for q in sorted({o["kind"] for o in good})}
    else:
        extra["commit_p50_ms"] = pct([o["ms"] for o in good if o["kind"] in ("merge", "tick")], 0.5)
        extra["lookup_p50_ms"] = pct([o["ms"] for o in good if o["kind"] == "lookup"], 0.5)
        extra["bytes_written_per_input_byte"] = (sum(o.get("landed_bytes", 0) for o in good)
                                                 / max(sum(o.get("user_bytes", 0) for o in good), 1))
    return e2e, extra


def metrics_per_layer(report, ops):
    layers = dict(report.get("layers", {}))
    traced = [o for o in ops if o.get("segment") != "untraced"]
    plain = [o for o in ops if o.get("segment") == "untraced"]
    traced_rate = sum(o["ok"] for o in traced) / report["wall_s"]
    plain_rate = sum(o["ok"] for o in plain) / report["untraced_wall_s"]
    layers["trace.ops_per_s"] = traced_rate
    layers["trace.untraced_ops_per_s"] = plain_rate
    layers["trace.overhead_frac"] = 1 - traced_rate / plain_rate if plain_rate > 0 else 0.0
    return {k: (float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    cp = build()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(WORK, ignore_errors=True)
    data = os.path.join(WORK, "data")
    manifest, fixture_s = generate(args.workload, args.seed, data)
    os.makedirs(run_dir, exist_ok=True)
    report = run_harness(cp, args, data, run_dir, SPARK_THREADS)
    notes = verify(args.workload, report, manifest, data)

    ops = report["ops"]
    failed = [o for o in ops if not o["ok"]]
    if args.trace:
        metrics = metrics_per_layer(report, ops)
        extra = {}
    else:
        metrics, extra = metrics_end_to_end(args.workload, report, ops)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "fixture_s": fixture_s, "setup_s_samples": report["setup_s"], "wall_s": report["wall_s"],
        "phase_s": report["phase_s"], "run_s": time.time() - t_start,
        "host": report["host"], "checks": notes, "extra": extra,
        "failures": [f"op {o['id']} {o['kind']}: {o['error']}" for o in failed],
        "fs_counts_note": "fs.* counts cover Hadoop FileSystem calls only; java.io/java.nio "
                          "file access (LabTable.write's footer and sidecar edits) is not seen",
    }
    with open(os.path.join(WORK, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print("perfbench summary " + json.dumps(summary))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

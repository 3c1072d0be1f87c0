#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rpc_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/build.py), runs the harness
JVM on the sf0.1 fixtures (`$PERFBENCH_SF_DIR`, default
`~/testdata/sf0.1`), checks every distinct op's output against DuckDB,
and prints a readable summary followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics (no listeners attached);
`--trace 1` reports the per-layer metrics of a traced window, with the
per-op breakdown printed above the JSON line. Workloads, metrics and the
layer each metric belongs to are described in perfbench/WORKLOADS.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402  (sibling modules)
from oracle import Oracle  # noqa: E402

WORKLOADS = ("rpc_mix", "batch_queries", "table_writes")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# name -> unit; the order is the print order.
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "ops/s",
    "latency_geomean_ms": "ms",
    "heap_peak_mb": "MB",
}

# Layer metrics summed over an op's ledger and reported as the mean per op
# of the traced window.
PER_OP = {
    "operators.call_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimizer_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "scheduler.driver_gap_ms": "ms",
    "scheduler.task_launch_ms": "ms",
    "scheduler.deser_ms": "ms",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.codegen_fallbacks": "count",
    "io.input_bytes": "bytes",
    "io.input_records": "records",
    "io.output_bytes": "bytes",
    "io.shuffle_read_bytes": "bytes",
    "io.shuffle_write_bytes": "bytes",
    "io.shuffle_fetch_wait_ms": "ms",
    "io.spill_bytes": "bytes",
    "fs.read_ops": "count",
    "fs.large_read_ops": "count",
    "fs.write_ops": "count",
    "fs.bytes_read": "bytes",
    "fs.bytes_written": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "rows",
    "streaming.state_memory_bytes": "bytes",
    "jvm.driver_gc_ms": "ms",
}
PER_LAYER = dict(PER_OP, **{
    "executor.cpu_per_run": "ratio",
    "scheduler.unattributed_tasks": "count",
    "memo.builds": "count",
    "memo.build_ms": "ms",
    "cache.create": "count",
    "cache.reuse": "count",
    "cache.recreate": "count",
    "cache.hit_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
})

# Sums the attribution self-check requires to match the global totals.
SELF_CHECKED = ("scheduler.tasks", "executor.run_ms", "executor.cpu_ms",
                "io.shuffle_read_bytes", "io.shuffle_write_bytes")


def sf_dir():
    d = Path(os.environ.get("PERFBENCH_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    if not (d / "lineitem.parquet").exists():
        raise SystemExit(f"run: no fixtures under {d} (set PERFBENCH_SF_DIR)")
    return d


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, args, work, report):
    cp = f"{classes}{os.pathsep}{build.spark_jars()}/*"
    # The parallel collector: with G1, the engine's large write buffers
    # (humongous allocations) started a concurrent mark every few hundred
    # milliseconds, and the remark pauses grew with the generated classes
    # to take a tenth of the window. -Xms keeps the heap from shrinking
    # after the collections between passes.
    cmd = (["java", "-XX:+UseParallelGC", "-Xms1g", "-Xmx3g", "-XX:MetaspaceSize=256m",
            "-Xss16m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work / 'derby'}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", args.workload, str(args.seed),
              str(args.seconds), str(args.trace), str(sf_dir()), str(work),
              str(cpus()), str(report)])
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not report.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"run: harness JVM failed ({code})")


def check_outputs(rep, work):
    """Compare outputs with DuckDB. Returns {op name: reason} for wrong
    outputs and {seq: reason} for wrong CalcAvgLoan answers."""
    orc = Oracle(rep["sf_dir"], work / "duckdb_tmp")
    wrong_names = dict(rep["check_errors"])
    check_dir = Path(rep["check_dir"])
    for name in set(rep["oracle_sql"]) - set(wrong_names):
        reason = orc.compare(check_dir / name, rep["oracle_sql"][name])
        if reason:
            wrong_names[name] = reason
    # Outputs with no SQL oracle must at least be non-empty.
    for name in set(p.name for p in check_dir.iterdir()) - set(rep["oracle_sql"]):
        if name not in wrong_names and Oracle.row_count(check_dir / name) == 0:
            wrong_names[name] = "empty output"
    wrong_seqs = {}
    if rep["workload"] == "rpc_mix":
        if "o13_block_locations" not in wrong_names:
            got = Oracle.block_bytes(check_dir / "o13_block_locations")
            want = orc.fixture_bytes()
            if got != want:
                wrong_names["o13_block_locations"] = f"bytes {got} != fixture {want}"
        avgs = orc.key_averages()
        windows = [rep["window"]] + ([rep["traced_window"]] if rep["traced_window"] else [])
        for w in windows:
            for r in w["ops"]:
                if r["op"] != "CalcAvgLoan" or r["error"]:
                    continue
                want = avgs.get(r["key"], 0)
                if r["avg"] != want:
                    wrong_seqs[r["seq"]] = f"avg {r['avg']} != {want} for {r['key']}"
                elif r["source"] != r["expect"]:
                    wrong_seqs[r["seq"]] = f"source {r['source']} != {r['expect']}"
    return wrong_names, wrong_seqs


# The SparkEntry query whose checked output stands for an rpc_mix request.
RPC_OP_OF = {"BlockLocations": "o13_block_locations", "DbToHdfs": "o05_sink_roundtrip"}


def failures(ops, wrong_names, wrong_seqs):
    """(record, reason) for every op that threw or whose output is wrong."""
    bad = []
    for r in ops:
        reason = (r["error"] or wrong_seqs.get(r["seq"])
                  or wrong_names.get(RPC_OP_OF.get(r["op"], r["op"])))
        if reason:
            bad.append((r, reason))
    return bad


def end_to_end(rep):
    w = rep["window"]
    lat = [r["ms"] for r in w["ops"]]
    per_pass = len(lat) / len(w["pass_s"])
    return {
        "setup_s": statistics.median(rep["setup_s"]),
        "ops_per_s": statistics.median(per_pass / s for s in w["pass_s"]),
        # Geometric mean, not the median: the ops of a pass differ in
        # latency by up to tenfold, and the median of the pooled latencies
        # jumped between the two ops nearest the middle from run to run.
        "latency_geomean_ms": math.exp(statistics.mean(math.log(x) for x in lat)),
        "heap_peak_mb": max(w["heap_after_gc_mb"]),
    }


def class_latencies(ops):
    by = {}
    for r in ops:
        by.setdefault(r["cls"], []).append(r["ms"])
    return {c: (statistics.median(v), len(v)) for c, v in sorted(by.items())}


def per_layer(rep):
    """Workload-level layer metrics of a traced run: the mean per op over
    one pass of the traced window plus the probe ops. Each window op
    counts 1/passes per execution, each probe op 1, so the value does not
    depend on how many passes fitted in the window."""
    tw = rep["traced_window"]
    led = rep["ledgers"]
    passes = len(tw["pass_s"])
    weighted = [(r, 1.0 / passes) for r in tw["ops"]] + [(r, 1.0) for r in rep["probe_ops"]]
    total_w = sum(w for _, w in weighted)
    sums = {k: sum(w * led.get(str(r["seq"]), {}).get(k, 0.0) for r, w in weighted)
            for k in PER_OP}
    m = {k: sums[k] / total_w for k in PER_OP}
    m["executor.cpu_per_run"] = (sums["executor.cpu_ms"] / sums["executor.run_ms"]
                                 if sums["executor.run_ms"] else 0.0)
    m["scheduler.unattributed_tasks"] = led.get("unattributed", {}).get("scheduler.tasks", 0.0)
    builds = rep["setup_memo_builds"]
    m["memo.builds"] = float(len(builds))
    m["memo.build_ms"] = 1000.0 * sum(b["s"] for b in builds)
    sources = [r["source"] for r in tw["ops"] if r["op"] == "CalcAvgLoan"]
    for s in ("create", "reuse", "recreate"):
        m[f"cache.{s}"] = sources.count(s) / passes
    m["cache.hit_ratio"] = sources.count("reuse") / len(sources) if sources else 0.0
    plain = rep["window"]
    m["trace.overhead_ratio"] = ((sum(tw["pass_s"]) / len(tw["ops"]))
                                 / (sum(plain["pass_s"]) / len(plain["ops"])) - 1.0)

    # Attribution self-check: every task is in exactly one bucket.
    mismatches = []
    for k in SELF_CHECKED:
        attributed = sum(b.get(k, 0.0) for b in led.values())
        total = rep["totals"].get(k, 0.0)
        if abs(attributed - total) > 1e-6 * max(1.0, abs(total)):
            mismatches.append(f"{k}: buckets {attributed} != totals {total}")
    return m, mismatches


def per_op_table(rep):
    """Per op name: latency (untraced window), layer means (traced window)
    and the count() bridge."""
    plain = {}
    for r in rep["window"]["ops"] + rep["probe_ops"]:
        plain.setdefault(r["op"], []).append(r["ms"])
    traced = {}
    for r in (rep["traced_window"] or {}).get("ops", []) + rep["probe_ops"]:
        traced.setdefault(r["op"], []).append(rep["ledgers"].get(str(r["seq"]), {}))
    rows = {}
    for name, lat in sorted(plain.items()):
        led = traced.get(name, [])
        row = {"n": len(lat), "noop_p50_ms": statistics.median(lat)}
        for k in PER_OP:
            if led:
                row[k] = sum(x.get(k, 0.0) for x in led) / len(led)
        if name in rep["bridge_count_ms"]:
            row["count_ms"] = rep["bridge_count_ms"][name]
        rows[name] = row
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classes = build.build()
    base = build.build_dir()
    work = base / "work" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    reports = base / "reports"
    reports.mkdir(exist_ok=True)
    report = reports / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    try:
        t0 = time.time()
        run_jvm(classes, args, work, report)
        jvm_s = time.time() - t0
        rep = json.loads(report.read_text())
        t0 = time.time()
        wrong_names, wrong_seqs = check_outputs(rep, work)
        check_s = time.time() - t0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = (rep["window"]["ops"] + ((rep["traced_window"] or {}).get("ops") or [])
           + rep["probe_ops"])
    bad = failures(ops, wrong_names, wrong_seqs)
    problems = [f"setup: {e}" for e in rep["setup_errors"]]
    problems += [f"output {k}: {v}" for k, v in sorted(wrong_names.items())]
    problems += [f"op {r['seq']} {r['op']}: {why}" for r, why in bad[:10]]

    print(f"workload {rep['workload']} seed {rep['seed']} cpus {rep['cpus']} "
          f"passes {len(rep['window']['pass_s'])} ops {len(rep['window']['ops'])} "
          f"jvm {jvm_s:.1f} s check {check_s:.1f} s")
    print("  wall " + ", ".join(f"{k} {v:.1f} s" for k, v in rep["phase_s"].items())
          + f"; deleting scratch {rep['sweeps_s']:.1f} s; process cpu in window "
          f"{rep['window_cpu_s']:.1f} s")
    if args.trace == 0:
        metrics = end_to_end(rep)
        units = END_TO_END
        lat = [r["ms"] for r in rep["window"]["ops"]]
        print(f"  latency_p50_ms {statistics.median(lat):.3f} ms (n={len(lat)})")
        for c, (p50, k) in class_latencies(rep["window"]["ops"]).items():
            print(f"  {c}_p50_ms {p50:.3f} ms (n={k})")
    else:
        metrics, mismatches = per_layer(rep)
        units = PER_LAYER
        problems += [f"attribution: {x}" for x in mismatches]
        print(f"  attribution {'MISMATCH' if mismatches else 'ok'}: per-op sums of "
              f"{', '.join(SELF_CHECKED)} = global totals; tasks "
              f"{rep['totals'].get('scheduler.tasks', 0):.0f}, unattributed "
              f"{metrics['scheduler.unattributed_tasks']:.0f}")
        per_op = per_op_table(rep)
        for name, row in per_op.items():
            cols = " ".join(f"{k}={v:.6g}" for k, v in row.items())
            print(f"  op {name} {cols}")
        report.write_text(json.dumps(dict(rep, per_op=per_op, per_layer=metrics), indent=1))
    for k, v in metrics.items():
        print(f"  {k} {v:.6g} {units[k]}")
    failed = len(bad)
    print(f"  failed_frac {failed / len(ops):.6g} ratio ({failed}/{len(ops)})")
    for p in problems:
        print(f"  FAIL {p}")
    print(f"  correct {not problems}")
    print(json.dumps({
        "correct": not problems,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()

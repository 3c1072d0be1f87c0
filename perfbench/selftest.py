#!/usr/bin/env python3
"""The benchmark's own test. Runs the benchmark a few times (about five
minutes on four cores) and asserts what its numbers rest on:

- every traced run passes the attribution self-check (per-op sums of task
  count, run time, CPU and shuffle bytes equal the global task totals;
  tasks without an op tag are counted, never charged to an op);
- the same seed gives the same `cache.hit_ratio`, and a CalcAvgLoan reuse
  is faster than a create (the reference's cache effect);
- the codegen-fallback counter sees `x10m_jl_distortion`'s fallback;
- the stream probe of `table_writes` reports micro-batches and state rows;
- every run is correct and reports exactly the metrics BENCHMARK.json
  names;
- with only BENCHMARK.json and perfbench/ present, the benchmark fails
  without printing a result.

    python3 perfbench/selftest.py
"""
import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, seed, trace, cwd=ROOT):
    cmd = [sys.executable, str(Path(cwd) / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=900)


def result(workload, seed, trace):
    p = run(workload, seed, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert res["correct"], "\n".join(lines[:-1])
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}, sorted(res["metrics"])
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m
    text = {}
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) >= 3 and not line.startswith("  op "):
            try:
                text[parts[0]] = float(parts[1])
            except ValueError:
                pass
    values = {k: v["value"] for k, v in res["metrics"].items()}
    return values, text, lines


def main():
    checks = []

    def check(name, ok, detail=""):
        checks.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name} {detail}")

    _, text, _ = result("rpc_mix", 7, 0)
    check("reuse faster than create",
          text["calcavg_reuse_p50_ms"] < text["calcavg_create_p50_ms"],
          f"{text['calcavg_reuse_p50_ms']:.1f} < {text['calcavg_create_p50_ms']:.1f} ms")

    def attribution(workload, lines):
        line = next((x for x in lines if x.startswith("  attribution ")), "")
        check(f"attribution self-check ({workload})",
              line.strip().startswith("attribution ok:"), line.strip())

    first, _, lines = result("rpc_mix", 7, 1)
    attribution("rpc_mix", lines)
    second, _, _ = result("rpc_mix", 7, 1)
    check("hit ratio repeats", first["cache.hit_ratio"] == second["cache.hit_ratio"],
          f"{first['cache.hit_ratio']} == {second['cache.hit_ratio']}")

    batch, _, lines = result("batch_queries", 7, 1)
    attribution("batch_queries", lines)
    probe = next(x for x in lines if x.startswith("  op x10m_jl_distortion "))
    fallbacks = float(probe.split("executor.codegen_fallbacks=")[1].split()[0])
    check("codegen fallback counted on x10m_jl_distortion", fallbacks >= 1,
          f"{fallbacks:.0f}")
    check("memo builds seen in set-up", batch["memo.builds"] >= 1,
          f"{batch['memo.builds']:.0f}")

    writes, _, lines = result("table_writes", 7, 1)
    attribution("table_writes", lines)
    check("stream probe's progress attributed", writes["streaming.batches"] > 0
          and writes["streaming.state_rows"] > 0,
          f"batches/op {writes['streaming.batches']:.2f}")

    scratch = ROOT / ".bench_build"
    scratch.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as bare:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(BENCH, Path(bare) / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run("rpc_mix", 7, 0, cwd=bare)
        printed = any(line.startswith("{") for line in p.stdout.splitlines())
        check("bare directory fails", p.returncode != 0 and not printed,
              f"exit {p.returncode}")

    print(f"{sum(checks)}/{len(checks)} checks passed")
    return 0 if all(checks) else 1


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point (BENCHMARK.json "command").

    python3 perfbench/run.py --workload point_mix --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source if needed (perfbench/build.py),
runs one workload in a fresh JVM against local[nproc], checks its outputs and
prints, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones. The line
before it is a detail object (recall floors, tail percentile, failures,
canary) for humans. The raw samples of the run are kept under
.bench_build/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ["bulk_batch", "curation"]
HEAP = "2g"
JVM_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
CONTENDED_CANARY_RATIO = 1.25


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    build.build()
    work = build.OUT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    raw_path = work / "raw.json"
    cmd = (["java", f"-Xmx{HEAP}", "--add-modules", "jdk.incubator.vector"]
           + [x for m in JAVA_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", str(raw_path), "--work", str(work)])
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: {a.workload} did not finish in {JVM_TIMEOUT_S} s")
        if code != 0 or not raw_path.exists():
            raise SystemExit(f"perfbench: {a.workload} run failed (exit {code})")
        raw = json.loads(raw_path.read_text())
        keep = build.OUT / "results"
        keep.mkdir(exist_ok=True)
        shutil.copy(raw_path, keep / f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report(raw, a.trace)


def report(raw, trace):
    ops, wrong = stats.counts(raw, trace)
    metrics = stats.per_layer(raw) if trace else stats.end_to_end(raw)
    plain = [stats.Op(r) for r in raw["untraced"]["ops"]]
    g = raw["gauges"]
    detail = {
        "workload": raw["workload"], "seed": raw["seed"], "cores": raw["cores"],
        "setup_s_all": raw["setup_s"],
        "warmup_s": raw["warmup_s"],
        "timeline_s": raw["timeline_s"],
        "recall_floors": stats.floors(plain),
        "workload_metrics": {k: v[0] for k, v in stats.workload_detail(raw, plain).items()},
        "failures": sorted({f"{o.kind}.{o.label}: {o.error}" for o in ops if not o.ok}),
        "canary_ms": [g["canary_start_ms"], g["canary_end_ms"]],
        "contended": g["canary_end_ms"] > CONTENDED_CANARY_RATIO * g["canary_start_ms"],
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": not wrong,
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""End-to-end ingest benchmark: generated PCAP/PCAPNG captures in, protocol
tables out, timed end to end (tracing off) or split by layer (tracing on).

    python3 perfbench/run.py --workload mixed_capture --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and the benchmark from
source (see build.py), runs one workload in one JVM on local[<=4], and
prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}},
with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. Everything it writes stays under
perfbench/out.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import build

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build.build()
    jars = build.spark_jars()
    tmp = build.OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # scratch left by a run that was killed before its own cleanup
    for stale in build.OUT.glob("run-*"):
        shutil.rmtree(stale, ignore_errors=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{jars}/*", "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", str(build.OUT)]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            env=env, start_new_session=True)

    def halt(why):
        # TERM lets the JVM's shutdown hook remove its scratch; KILL if it hangs
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        sys.exit(why)

    signal.signal(signal.SIGTERM, lambda *_: halt("benchmark run stopped"))
    signal.signal(signal.SIGINT, lambda *_: halt("benchmark run stopped"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        halt(f"benchmark run exceeded {RUN_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"benchmark JVM failed ({proc.returncode})")
    res = json.loads(lines[-1])
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif a.trace:
            # a layer this workload does not have
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            sys.exit(f"end-to-end metric {m['name']} was not measured")
    print(json.dumps({"correct": res["ops_failed"] == 0 and res["ops"] > 0,
                      "attempted": res["ops"], "failed": res["ops_failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 graftbench/run.py --workload druid_scan --seed 1 --seconds 10 --trace 0
    python3 graftbench/run.py --workload druid_scan --seed 1 --seconds 10 --repeat 5

Builds graft and the harness from source on first use (see build.py),
then starts one JVM that runs the workload: set-up, warm-up, a closed
loop of operations for --seconds, and the output checks.  The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics, with --trace 1
the per-layer metrics of a traced run (spans are written under
.bench_build/traces/).  --repeat N runs the workload N times with seeds
seed, seed+1, ... and prints each metric's median and quartile spread.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("druid_scan", "druid_live", "hybrid_serve", "corpus_dedup")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm_command(classes, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens,
            "-Xmx3g", "-Xss8m",
            "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.level=WARN",
            "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]


def run_once(classes, args):
    """One JVM run; returns the parsed result object or raises SystemExit."""
    work = os.path.join(build.BUILD_ROOT, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        proc = subprocess.Popen(jvm_command(classes, work, args),
                                stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"run: workload exceeded {JVM_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"run: JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"run: malformed result line {lines[-1][:200]}")
    return result


def repeat(classes, args):
    """Run N seeds; print per-metric median and quartile spread."""
    rows = []
    for i in range(args.repeat):
        one = argparse.Namespace(**vars(args))
        one.seed = args.seed + i
        t = time.time()
        r = run_once(classes, one)
        print(f"seed {one.seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} wall={time.time() - t:.1f}s", file=sys.stderr)
        rows.append(r)
    summary = {}
    for name in rows[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in rows]
        med = statistics.median(vals)
        q = statistics.quantiles(vals, n=4) if len(vals) >= 2 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        summary[name] = {"median": med, "q1": q[0], "q3": q[2], "spread": spread,
                         "unit": rows[0]["metrics"][name]["unit"]}
        print(f"{name:34s} median={med:14.4f} q1={q[0]:14.4f} q3={q[2]:14.4f} "
              f"spread={spread:7.4f} {summary[name]['unit']}")
    print(json.dumps({"workload": args.workload, "runs": len(rows),
                      "correct": all(r["correct"] for r in rows),
                      "metrics": summary}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    args = ap.parse_args()
    t = time.time()
    classes, key, built = build.build()
    if built:
        print(f"run: built {key} in {time.time() - t:.1f}s", file=sys.stderr)
    if args.repeat:
        repeat(classes, args)
    else:
        print(json.dumps(run_once(classes, args)))


if __name__ == "__main__":
    main()

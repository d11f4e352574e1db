#!/usr/bin/env python3
"""Runs one benchmark workload and prints one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload tile --seed 1 --seconds 10 --trace 0

Builds the engine and harness from source (perfbench/build.py), runs the
workload in one JVM at local[nproc], checks its outputs, and prints
{"correct", "attempted", "failed", "metrics"} as the last line: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer metrics
with --trace 1. The traced run also writes its per-layer numbers and spans
to .bench_build/perfbench/.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("tile", "join", "catalog")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not stats.valid_name(m["name"]):
            raise ValueError("invalid metric name %r" % m["name"])
    return spec


def run_jvm(args, work):
    classes = build.ensure()
    jars = build.spark_jars()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for module in ADD_OPENS:
        cmd.append("--add-opens=%s=ALL-UNNAMED" % module)
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Harness", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--scale", args.scale,
            "--inject-fault", "1" if args.inject_fault else "0"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=sys.stderr, text=True, timeout=JVM_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError("harness exited with %d" % proc.returncode)
    return json.loads(lines[-1][len("PERFBENCH "):])


def oracle_failures(oracle):
    """Leaves whose output does not match tools/check_oracle.py."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
         oracle["sf"], oracle["out"]],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=120)
    passed = set(re.findall(r"^PASS (\S+):", proc.stdout, re.M))
    return sorted(set(oracle["leaves"]) - passed)


def result(spec, raw, args, wrong):
    """Reduces the harness samples to the result line. Operations of a leaf
    whose output is wrong count as failed and record no latency."""
    ops = [o for o in raw["ops"] if o["kind"] not in wrong]
    failed = (raw["failed_ops"] + len(raw["ops"]) - len(ops)
              + len(raw["check_failures"]) + len(wrong))
    attempted = (len(raw["ops"]) + raw["failed_ops"] + raw["checks"]
                 + len(raw.get("oracle", {}).get("leaves", [])))
    if not ops:
        raise RuntimeError("no operation succeeded")
    seconds = [o["s"] for o in ops]
    kinds = sorted({o["kind"] for o in ops})
    by_kind = {k: [o for o in ops if o["kind"] == k] for k in kinds}
    latency = {"n": len(seconds), "p50": stats.median(seconds),
               "p50_by_kind": {k: stats.median([o["s"] for o in v])
                               for k, v in by_kind.items()}}
    t = stats.tail(seconds)
    if t:
        latency["tail_pct"], latency["tail"] = t
    if args.trace:
        layers = raw["layers"]
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0) or 0.0,
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": stats.median(raw["setup_s"]),
            # items of a median pass over its time: per-kind medians
            "items_per_s": (
                sum(stats.median([o["items"] for o in v]) for v in by_kind.values())
                / sum(latency["p50_by_kind"].values())),
            "op_geomean_s": stats.geomean(seconds),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "nproc": raw["nproc"],
              "setup_s": raw["setup_s"], "op_latency_s": latency,
              "check_failures": raw["check_failures"], "wrong_leaves": wrong,
              "ops": ops,
              "metrics": {k: v["value"] for k, v in metrics.items()}}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help="tiny: small inputs, for the smoke test")
    ap.add_argument("--inject-fault", action="store_true",
                    help="fail the first correctness check (smoke test)")
    args = ap.parse_args()
    try:
        spec = load_spec()
    except (OSError, ValueError, KeyError) as e:
        print("[perfbench] bad BENCHMARK.json: %s" % e, file=sys.stderr)
        return 2
    work = os.path.join(OUT, "work-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(args, work)
        oracle = raw.get("oracle")
        wrong = oracle_failures(oracle) if oracle else []
        line, report = result(spec, raw, args, wrong)
        tag = "%s-%d-trace%d" % (args.workload, args.seed, args.trace)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(OUT, "spans-%s.json" % tag))
        with open(os.path.join(OUT, "report-%s.json" % tag), "w") as f:
            json.dump(report, f, indent=1)
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired,
            ValueError) as e:
        print("[perfbench] %s" % e, file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Compares two revisions on one benchmark workload in alternating pairs.

Usage (from the repository root):
  python3 tools/abpairs.py <rev-a> <rev-b> --workload join --pairs 10 \\
      --seed 15001

Each revision is archived into a fresh sibling directory under
DIR = .bench_build/abpairs/<workload> (`git archive`; the name WORKTREE
stands for the files of the current checkout, tracked and untracked but
not ignored). Pair i runs `perfbench/run.py --trace 0 --seed <seed+i>
--seconds <run_seconds of BENCHMARK.json>` once in each tree, unchanged;
the side that runs first alternates pair by pair, and the two directories
swap places (rename) after half of the pairs, so neither the run order nor
the checkout path favours a side.

Prints, for each end-to-end metric of BENCHMARK.json, each side's median
and quartiles, the pairs B won, the change of B's median against A's and a
verdict against the metric's bound ("unresolved" when either side's
quartile spread is wider than the bound, unless every run of B reads better
than every run of A); then the same for the medians of
`op_latency_s.p50_by_kind`. A run that exits non-zero, prints no result
or times out drops its pair from the statistics; the summary counts those
runs per side, and the script then exits 1. Every run is kept in
DIR/runs.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 600


def quantile(xs, q):
    """Linearly interpolated quantile of the sorted sample (numpy's
    default, 'inclusive' in the statistics module)."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summary(a, b, better, bound):
    """Median and quartiles of both sides, B's wins over A (pairs of equal
    index), the relative change of the median and the verdict."""
    if len(a) != len(b) or not a:
        raise ValueError("need the same positive number of runs on each side")
    side = lambda xs: {"median": quantile(xs, 0.5), "q1": quantile(xs, 0.25),
                       "q3": quantile(xs, 0.75)}
    sa, sb = side(a), side(b)
    wins = sum(1 for x, y in zip(a, b) if (y < x if better == "lower" else y > x))
    change = (sb["median"] - sa["median"]) / sa["median"]
    worse = change if better == "lower" else -change
    spread = max((s["q3"] - s["q1"]) / abs(s["median"]) for s in (sa, sb))
    if spread > bound:
        # a wide spread hides the change unless every run of B reads
        # better than every run of A
        beats = max(b) < min(a) if better == "lower" else min(b) > max(a)
        verdict = "better in every run" if beats else "unresolved"
    elif worse > bound:
        verdict = "worse"
    else:
        verdict = "within bound"
    return {"a": sa, "b": sb, "wins": wins, "n": len(a), "change": change,
            "spread": spread, "verdict": verdict}


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True).stdout


def materialize(rev, dest):
    os.makedirs(dest)
    if rev == "WORKTREE":
        files = git("ls-files", "-z", "--cached", "--others",
                    "--exclude-standard").split(b"\0")
        for f in filter(None, (p.decode() for p in files)):
            src = os.path.join(ROOT, f)
            if os.path.isfile(src):
                os.makedirs(os.path.join(dest, os.path.dirname(f)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, f))
    else:
        tar = git("archive", "--format=tar", rev)
        subprocess.run(["tar", "-x", "-C", dest], input=tar, check=True)


def run_once(tree, workload, seed, seconds):
    """One perfbench run; a dict with "error" when it gives no result."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    # own process group, so a timeout also stops the JVM run.py started
    proc = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return {"error": "timed out after %d s" % RUN_TIMEOUT_S}
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": "exit %d" % proc.returncode if proc.returncode
                else "no output"}
    line = json.loads(lines[-1])
    report = os.path.join(tree, ".bench_build", "perfbench",
                          "report-%s-%d-trace0.json" % (workload, seed))
    with open(report) as f:
        by_kind = json.load(f)["op_latency_s"]["p50_by_kind"]
    return {"correct": line["correct"], "failed": line["failed"],
            "metrics": {k: v["value"] for k, v in line["metrics"].items()},
            "p50_by_kind": by_kind}


def tally(pairs):
    """Per side: runs made, runs without a result, correct runs and failed
    operations, counted over every pair, kept or dropped."""
    out = {}
    for s in ("A", "B"):
        done = [p[s] for p in pairs if "error" not in p[s]]
        out[s] = {"runs": len(pairs), "no_result": len(pairs) - len(done),
                  "correct": sum(bool(r["correct"]) for r in done),
                  "failed_ops": sum(r["failed"] for r in done)}
    out["dropped"] = sum(1 for p in pairs if "error" in p["A"] or "error" in p["B"])
    return out


def print_table(title, rows):
    print(title)
    print("  %-22s %-34s %-34s %6s %8s  %s" % (
        "metric", "A median [q1, q3]", "B median [q1, q3]", "B won",
        "change", "verdict"))
    fmt = lambda s: "%.4g [%.4g, %.4g]" % (s["median"], s["q1"], s["q3"])
    for name, s in rows:
        print("  %-22s %-34s %-34s %3d/%-2d %+7.1f%%  %s" % (
            name, fmt(s["a"]), fmt(s["b"]), s["wins"], s["n"],
            100 * s["change"], s["verdict"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".bench_build", "abpairs", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    where = {"A": os.path.join(work, "x"), "B": os.path.join(work, "y")}
    materialize(args.rev_a, where["A"])
    materialize(args.rev_b, where["B"])
    pairs = []
    log = open(os.path.join(work, "runs.jsonl"), "w")
    for i in range(args.pairs):
        if i == args.pairs // 2:
            tmp = where["A"] + ".swap"
            os.rename(where["A"], tmp)
            os.rename(where["B"], where["A"])
            os.rename(tmp, where["B"])
            where = {"A": where["B"], "B": where["A"]}
        seed = args.seed + i
        order = ("A", "B") if i % 2 == 0 else ("B", "A")
        got = {}
        for s in order:
            got[s] = run_once(where[s], args.workload, seed, spec["run_seconds"])
            log.write(json.dumps({"pair": i, "seed": seed, "side": s,
                                  "dir": where[s], "result": got[s]}) + "\n")
            log.flush()
        print("[abpairs] pair %d seed %d: %s" % (i, seed, " ".join(
            "%s=%s" % (s, got[s].get("error") or
                       ("ok" if got[s]["correct"] else "incorrect"))
            for s in order)), file=sys.stderr)
        pairs.append(got)
    log.close()

    t = tally(pairs)
    print("%s: A = %s, B = %s, %d pairs run (seeds %d-%d), %d dropped" % (
        args.workload, args.rev_a, args.rev_b, len(pairs), args.seed,
        args.seed + args.pairs - 1, t["dropped"]))
    for s in ("A", "B"):
        print("  %s: %d runs, %d without a result, %d correct, "
              "%d failed operations" % (s, t[s]["runs"], t[s]["no_result"],
                                        t[s]["correct"], t[s]["failed_ops"]))
    kept = [p for p in pairs if "error" not in p["A"] and "error" not in p["B"]]
    if not kept:
        print("[abpairs] no pair completed on both sides", file=sys.stderr)
        return 1
    runs = {s: [p[s] for p in kept] for s in ("A", "B")}
    print_table("end to end", [
        (m["name"], summary([r["metrics"][m["name"]] for r in runs["A"]],
                            [r["metrics"][m["name"]] for r in runs["B"]],
                            m["better"], m["bound"]))
        for m in spec["end_to_end"]])
    kinds = sorted(set.intersection(*(set(r["p50_by_kind"])
                                      for r in runs["A"] + runs["B"])))
    bound = min(m["bound"] for m in spec["end_to_end"])
    print_table("op_latency_s.p50_by_kind (s)", [
        (k, summary([r["p50_by_kind"][k] for r in runs["A"]],
                    [r["p50_by_kind"][k] for r in runs["B"]], "lower", bound))
        for k in kinds])
    return 0 if t["dropped"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

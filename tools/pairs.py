"""Alternating parent/change benchmark pairs, judged by the claim rule.

    python3 tools/pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N \
        [--seed S] [--seconds 20] [--log FILE]
    python3 tools/pairs.py --summary FILE

Each pair runs `perfbench/run.py --trace 0` once from each checkout, with the
same seed (S + pair index). The order alternates, parent first in even pairs,
so a drift of the shared host loads both sides alike. Each run is a fresh
process, and run.py builds its checkout from source on the first run.

The summary gives, per end-to-end metric of the change's BENCHMARK.json: the
parent's and the change's medians and quartiles (statistics.quantiles, n=4),
the change's wins (pairs where it is better in the metric's direction), and
the parent's quartile spread (IQR). A gain is claimed ("claim") when there are at
least 10 pairs, the change wins at least 9 in 10 of them, and its median is
better than the parent's by more than the parent's IQR.

Nothing is written inside either checkout beyond what run.py leaves in its
ignored perfbench/target. --log appends one JSON line per run to FILE, which
must lie outside both checkouts; --summary re-reads such a log.
"""

import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def say(msg):
    print(f"[pairs] {msg}", file=sys.stderr, flush=True)


def inside(path, root):
    path, root = os.path.realpath(path), os.path.realpath(root)
    return os.path.commonpath([path, root]) == root


def run_once(checkout, workload, seed, seconds):
    """One run.py process; its result line, or None when it printed none."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summary(records, spec):
    pairs = {}
    for r in records:
        # a log may hold several invocations: a pair is its seed and index
        pairs.setdefault((r["seed"], r["pair"]), {})[r["side"]] = r["result"]
    whole = [p for _, p in sorted(pairs.items())
             if p.get("parent") is not None and p.get("change") is not None]
    n = len(whole)
    print(f"{n} complete pairs")
    for side in ("parent", "change"):
        bad = sum(1 for p in whole if not p[side]["correct"] or p[side]["failed"])
        ops = sum(p[side]["failed"] for p in whole)
        print(f"{side}: {bad} runs with a failed or incorrect op ({ops} failed ops)")
    print("medians with [q1, q3]; gap > 0 when the change is better; wins in the metric's direction")
    print(f"{'metric':30} {'parent':>26} {'change':>26} {'gap':>8} {'parent IQR':>11} {'wins':>6}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in whole]
        chg = [p["change"]["metrics"][name]["value"] for p in whole]
        if not par:
            continue
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        mp, mc = statistics.median(par), statistics.median(chg)
        gap = (mp - mc) if lower else (mc - mp)  # positive: the change is better
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        spread = p3 - p1
        claim = n >= 10 and wins >= math.ceil(0.9 * n) and gap > spread
        worse = -gap / mp if mp else 0.0
        verdict = "claim" if claim else ("worse by %.1f%% (bound %d%%)" % (100 * worse, 100 * m["bound"])
                                         if gap < 0 else "-")
        print(f"{name:30} {mp:10.4g} [{p1:6.4g}, {p3:6.4g}] {mc:10.4g} [{c1:6.4g}, {c3:6.4g}] "
              f"{gap:8.3g} {spread:11.3g} {wins:3d}/{n:<2d}  {verdict}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--log", help="append one JSON line per run to this file")
    ap.add_argument("--summary", metavar="FILE", help="summarise a log written by --log and exit")
    args = ap.parse_args()

    if args.summary:
        with open(args.summary) as fh:
            records = [json.loads(ln) for ln in fh if ln.strip()]
        with open(records[0]["spec"]) as fh:
            summary(records, json.load(fh))
        return
    if not (args.parent and args.change and args.workload and args.pairs):
        ap.error("PARENT_DIR, CHANGE_DIR, --workload and --pairs are required")
    dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    for d in dirs.values():
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            ap.error(f"{d} has no perfbench/run.py")
    if args.log and any(inside(args.log, d) for d in dirs.values()):
        ap.error("--log must lie outside both checkouts")
    spec_path = os.path.join(dirs["change"], "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)

    records = []
    for i in range(args.pairs):
        seed = args.seed + i
        for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            res = run_once(dirs[side], args.workload, seed, args.seconds)
            rec = {"pair": i, "side": side, "seed": seed, "workload": args.workload,
                   "spec": spec_path, "result": res}
            records.append(rec)
            if args.log:
                with open(args.log, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
            p50 = res["metrics"].get("latency_p50_ms", {}).get("value") if res else None
            say(f"pair {i} {side} seed {seed}: " + ("no result" if res is None else f"p50 {p50}"))
    summary(records, spec)


if __name__ == "__main__":
    main()

"""Steadiness evidence for the benchmark.

Run a set: one run per seed per workload, each a fresh `run.py` process.

    python3 perfbench/steady.py run --seeds 1-10 --out perfbench/evidence/set_a.json

Summarise one or two sets: per workload and end-to-end metric, the median,
the quartile spread as a share of the median (statistics.quantiles, n=4),
and with two sets the change of the median from the first to the second,
each against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py summary perfbench/evidence/set_a.json [perfbench/evidence/set_b.json]
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(args):
    bench = spec()
    workloads = [w["name"] for w in bench["workloads"]]
    runs = []
    for seed in seeds(args.seeds):
        for w in workloads:
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            rec = {"workload": w, "seed": seed, "exit": p.returncode, "run_wall_s": round(time.time() - t0, 2)}
            if len(lines) >= 2:
                rec["run_info"] = json.loads(lines[-2])
                rec["result"] = json.loads(lines[-1])
            else:
                rec["stderr_tail"] = p.stderr[-2000:]
            runs.append(rec)
            m = rec.get("result", {}).get("metrics", {})
            print(f"{w} seed {seed}: exit {p.returncode}, {rec['run_wall_s']} s, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), file=sys.stderr, flush=True)
            with open(args.out, "w") as fh:
                json.dump({"runs": runs}, fh, indent=1)


def stats(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def warmup_curve(runs):
    """Median wall of each op position across runs: the warm-up ops, then the
    timed ops. A list of more than 8 ops is summarised per consecutive quarter."""
    curve = {}
    for key, tag in (("warmup_walls_s", "warm"), ("op_walls_s", "op")):
        lists = [r["run_info"].get(key) or [] for r in runs]
        n = min(len(x) for x in lists)
        step = n // 4 if n > 8 else 1
        for i in range(0, n - n % step, step):
            name = f"{tag}{i}" if step == 1 else f"{tag}{i}-{i + step - 1}"
            curve[name] = statistics.median(statistics.median(x[i:i + step]) for x in lists)
    return curve


def summary(args):
    bench = spec()
    sets = [json.load(open(f))["runs"] for f in args.sets]
    out = {"sets": args.sets, "workloads": {}}
    lines = []
    for w in [w["name"] for w in bench["workloads"]]:
        rows = {}
        lines.append(f"\n{w}  (runs per set: {', '.join(str(sum(r['workload'] == w for r in s)) for s in sets)})")
        lines.append(f"{'metric':30} {'bound':>6} " + " ".join(f"{'median':>12} {'iqr/med':>8}" for _ in sets)
                     + (f" {'change':>8}" if len(sets) == 2 else ""))
        for m in bench["end_to_end"]:
            per_set = []
            for s in sets:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in s
                        if r["workload"] == w and r.get("exit") == 0 and "result" in r]
                per_set.append(stats(vals) + (len(vals),))
            row = {"bound": m["bound"], "sets": [{"median": a, "iqr_share": b, "runs": n} for a, b, n in per_set]}
            line = f"{m['name']:30} {m['bound']:>6} " + " ".join(f"{a:>12.4f} {b:>8.4f}" for a, b, _ in per_set)
            if len(sets) == 2:
                change = per_set[1][0] / per_set[0][0] - 1
                worse = change if m["better"] == "lower" else -change
                row["change"] = change
                row["worse_by"] = worse
                line += f" {change:>+8.4f}" + ("  WORSE THAN BOUND" if worse > m["bound"] else "")
            if any(b > m["bound"] for _, b, _ in per_set):
                line += "  SPREAD ABOVE BOUND"
            rows[m["name"]] = row
            lines.append(line)
        out["workloads"][w] = rows
        curve = warmup_curve([r for s in sets for r in s if r["workload"] == w and "run_info" in r])
        out.setdefault("warmup_curve", {})[w] = curve
        lines.append("op wall medians over all runs, in op order (s): " + " ".join(f"{k}={v:.3f}" for k, v in curve.items()))
    print("\n".join(lines))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(out, fh, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--seeds", required=True)
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("sets", nargs="+")
    s.add_argument("--json")
    args = ap.parse_args()
    run_set(args) if args.cmd == "run" else summary(args)


if __name__ == "__main__":
    main()

"""Host-sized benchmark of the Spark rebuild of Indri 5.5.

    python3 perfbench/run.py --workload build|serve --seed N --seconds S --trace 0|1 [--ledger FILE]

Builds the program from source (perfbench/build.py), runs one local[nproc]
JVM with its heap sized from MemTotal, and prints as the last line of
standard output one JSON object with the keys correct, attempted, failed and
metrics: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The line before it gives the run's
warm-up and timed op counts. Each op's wall goes to standard error.

The timed work is fixed per workload (see perfbench/README.md); --seconds
is the run length BENCHMARK.json sizes that work to and is only recorded.
Exits non-zero, without a result line, if the build or the run cannot
complete; exits non-zero after the result line if any op failed its check.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ beside the sources
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap_gb():
    """Half of MemTotal in whole GiB, clamped to [2, 8]: the Tier-1 sizing."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(line.split()[1]) // 2097152))
    return 2


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ledger", help="also write the traced run's per-op ledger to this file")
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = os.path.join(build.TARGET, "work", f"run-{os.getpid()}")
    result_file = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    heap = f"{heap_gb()}g"
    # a fixed heap keeps peak RSS from following the collector's resizing
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(cp), "graft.perfbench.HostBench",
              args.workload, str(args.seed), str(args.trace), work, result_file])
    proc = None
    # a SIGTERM must still stop the JVM and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s")
        if code != 0 or not os.path.exists(result_file):
            fail(f"benchmark JVM exited with {code}")
        with open(result_file) as fh:
            res = json.load(fh)
        if args.ledger and args.trace:
            shutil.copyfile(result_file + ".ledger", args.ledger)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    run_info = {k: res.get(k) for k in ("workload", "seed", "trace", "cpus", "max_heap_mb", "clients",
                                        "warmup_ops", "timed_ops", "trace_pairs", "warmup_walls_s",
                                        "op_walls_s", "problems") if k in res}
    run_info["seconds"] = args.seconds
    print(json.dumps(run_info))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}), flush=True)
    sys.exit(0 if res["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()

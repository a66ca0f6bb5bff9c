#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|curate --seed N \
        --seconds S --trace 0|1

Builds the program from source when needed (see build.py), then runs the
workload in one JVM with local[N] Spark, N = the cores this process may
use. Each run gets private java.io.tmpdir, spark.local.dir and working
directories under .bench_build/runs/, deleted when the run ends; spans of
a traced run are kept in .bench_build/traces/. The last line of standard
output is the result object; the exit code is non-zero when the build,
the run or a correctness gate fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

TIMEOUT_S = 170
HEAP = "2g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def declared(metrics, traced):
    """The metrics BENCHMARK.json declares for this mode, in its order.
    Every end-to-end metric must have been measured. A per-layer metric
    of a layer this workload does not exercise reads 0: no work of that
    kind was done."""
    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return metrics
    with open(spec_path) as fh:
        spec = json.load(fh)["per_layer" if traced else "end_to_end"]
    out = {}
    for m in spec:
        if m["name"] in metrics:
            out[m["name"]] = metrics[m["name"]]
        elif traced:
            out[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            print(f"[perfbench] end-to-end metric {m['name']} was not measured", file=sys.stderr)
            return None
    for name in sorted(set(metrics) - set(out)):
        print(f"[perfbench] undeclared metric {name} dropped", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["serve", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    try:
        classpath = build.ensure()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp, work = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "work")
    os.makedirs(tmp)
    os.makedirs(work)
    log_path = os.path.join(build.OUT, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    # a fixed-size heap and the parallel collector keep the resident set
    # (peak_rss_mb) from following the collector's adaptive sizing
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work-dir", work,
            "--data-dir", os.path.join(build.HERE, "data"),
            "--spans", os.path.join(build.OUT, "traces", f"{a.workload}-{a.seed}.jsonl")]

    proc = None

    def stop(*_):
        if proc and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(130)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=work, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                print(f"[perfbench] run exceeded {TIMEOUT_S} s; log: {log_path}", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(open(log_path).read()[-3000:])
        print(f"[perfbench] no result (exit {proc.returncode}); log: {log_path}", file=sys.stderr)
        return proc.returncode or 4
    result["metrics"] = declared(result["metrics"], a.trace == "1")
    if result["metrics"] is None:
        return 5
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")
    if proc.returncode != 0 or not result["correct"]:
        sys.stderr.write("".join(l for l in open(log_path) if l.startswith("[perfbench]")))
        return proc.returncode or 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

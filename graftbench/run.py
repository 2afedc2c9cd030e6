"""graft benchmark: crawl_write, extract_listing, dedup_closure.

Run from the root of a checkout:

    python3 graftbench/run.py --workload crawl_write --seed 1 --seconds 12 --trace 0
    python3 graftbench/run.py --selftest

Builds the program and the benchmark from source (see build.py), runs one
workload in a fresh JVM, prints the human-readable table and, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics; --trace 1 reports the
per-layer metrics and prints the span table. setup_s is the median of
SETUP_RUNS cold set-ups, each in its own JVM: the run's own and the rest
in processes that do the set-up alone. Which metrics are reported, and
their units, comes from BENCHMARK.json at the root of the checkout. A
per-layer metric the workload does not exercise reports 0. Everything the
run writes stays under .bench_build/graftbench/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl_write", "extract_listing", "dedup_closure")
SETUP_RUNS = 3
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def select_metrics(measured, trace, root):
    """The metrics BENCHMARK.json lists for this mode, from the measured ones."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec:
        got = measured.get(m["name"])
        if got is None and not trace:
            raise ValueError(f"run did not report {m['name']}")
        got = got or {"value": 0.0, "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            raise ValueError(f"{m['name']} reported in {got['unit']}, listed in {m['unit']}")
        out[m["name"]] = got
    return out


def run_jvm(base, args, work, root, deadline):
    """Runs graftbench.Main in a fresh JVM with its own work directory,
    which is removed afterwards; returns the result object it wrote."""
    result = work + ".result.json"
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = base + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "graftbench.Main",
                  "--work", work, "--result", result] + args
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    sys.stdout.flush()
    proc = subprocess.Popen(cmd, cwd=root, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    try:
        if code != 0:
            raise RuntimeError(f"run failed ({code})")
        with open(result) as fh:
            return json.load(fh)
    finally:
        if os.path.exists(result):
            os.remove(result)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload or --selftest is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    bench = os.path.dirname(os.path.abspath(__file__))
    out_dir = os.path.join(root, ".bench_build", "graftbench")
    try:
        classes = build.build(root, bench, out_dir)
        jars = build.spark_jars()
        java = build.java_bin()
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 1

    deadline = time.monotonic() + 120 + 4 * a.seconds
    base = [java]
    for p in ADD_OPENS:
        base += ["--add-opens", f"{p}=ALL-UNNAMED"]
    base += [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        "-Dlog4j2.configurationFile=" + os.path.join(bench, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
    ]
    if a.selftest:
        args = ["--selftest"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace)]
        if a.trace:
            traces = os.path.join(out_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--spans", os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")]
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-t{a.trace}"
    try:
        res = run_jvm(base, args, os.path.join(out_dir, "work", f"{name}-{os.getpid()}"), root, deadline)
        if not a.selftest and not a.trace:
            # set-up is timed from a cold JVM, once per process: SETUP_RUNS - 1
            # more processes do the set-up alone, and the median is reported
            setups = [res["metrics"]["setup_s"]["value"]]
            for i in range(SETUP_RUNS - 1):
                only = run_jvm(base, args + ["--setup-only"],
                               os.path.join(out_dir, "work", f"{name}-{os.getpid()}-setup{i}"), root, deadline)
                setups.append(only["metrics"]["setup_s"]["value"])
            res["metrics"]["setup_s"]["value"] = statistics.median(setups)
        if not a.selftest:
            res["metrics"] = select_metrics(res["metrics"], a.trace, root)
    except (OSError, ValueError, RuntimeError) as e:
        print(f"graftbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(res), flush=True)
    if a.selftest and not res["correct"]:
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

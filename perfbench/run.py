"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload build_dag --seed 1 --seconds 15 --trace 0

Builds the engine and harness if their sources changed (perfbench/build.py),
runs one workload in a fresh JVM on a local Spark session, and prints the
harness's result as the last line of standard output: one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
--trace 0, per-layer metrics with --trace 1).

    python3 perfbench/run.py --self-test

runs the benchmark's own tests instead.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("parse_compile", "build_dag")
# a run must end within 180 s; leave room for the JVM to stop
RUN_TIMEOUT_S = 165
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# build_dag runs ~250 small Spark jobs per build: under the full tiered JIT,
# C2 compiles take about half of the 4 cores for the whole run and build
# times keep falling through the timed window; with C1 alone they settle
# after the baseline build. parse_compile is bound by driver-side Jinja,
# YAML and JSON work, where C2 code is 2x faster, so it keeps the default
# JIT; its large manifest strings are humongous objects under G1, and the
# parallel collector narrowed the run-to-run spread of parse_s from about
# a quarter of the median to an eighth.
JVM_FLAGS = {"build_dag": ["-XX:TieredStopAtLevel=1"],
       "parse_compile": ["-XX:+UseParallelGC"]}


def jvm(classpath, work, main, workload=None):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, *JVM_FLAGS.get(workload, []),
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-cp", classpath, main]


def run_jvm(cmd, log_path, timeout_s):
    """Runs the harness, echoing its stdout; returns (exit code, lines)."""
    lines = []
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        timer = threading.Timer(timeout_s, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            for line in proc.stdout:
                lines.append(line.rstrip("\n"))
                if not line.startswith("PERFBENCH_RESULT "):
                    print(line, end="", flush=True)
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    return rc, lines


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        fail("--workload is required")
    root = Path.cwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        fail(str(e))
    out = root / ".bench_build"
    name = "self_test" if a.self_test else a.workload
    work = out / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = out / f"{name}.log"
    if a.self_test:
        rc, _ = run_jvm(jvm(classpath, work, "perfbench.SelfTest") + [str(work)],
                        log, RUN_TIMEOUT_S)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            fail(f"self-test failed (exit {rc}); see {log}", 1)
        return
    cmd = jvm(classpath, work, "perfbench.Harness", a.workload) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work), "--launch-ms", str(int(time.time() * 1000))]
    rc, lines = run_jvm(cmd, log, RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    results = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not results:
        tail = log.read_text()[-3000:] if log.exists() else ""
        fail(f"harness exited {rc} without a result; log tail:\n{tail}", 1)
    result = json.loads(results[-1][len("PERFBENCH_RESULT "):])
    print(json.dumps(result))


if __name__ == "__main__":
    main()

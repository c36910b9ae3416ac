"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload merl_cycle --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark (see build.py), runs one workload in
one JVM on local[nproc], and prints the result as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. Spark's own log goes to .bench_build/logs/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("merl_cycle", "firewall_stream")
RUN_LIMIT_S = 175  # a run, build excluded
SELFTEST_LIMIT_S = 900

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    build.build()
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", f"run-{os.getpid()}"))
    logs = os.path.join(build.BUILD_DIR, "logs")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    result = os.path.join(work, "result.json")
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    log_path = os.path.join(logs, tag + ".log")

    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Main", "--work", work,
            "--result", result, "--trace-dir", os.path.join(build.BUILD_DIR, "trace")]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]

    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = proc.communicate(
                    timeout=SELFTEST_LIMIT_S if a.selftest else RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"run: timed out after {time.time() - t0:.0f} s; log in {log_path}",
                      file=sys.stderr)
                return 3
        sys.stdout.write(out)
        if proc.returncode != 0 or not os.path.exists(result):
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-3000:])
            print(f"run: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
            return 1
        with open(result) as fh:
            line = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())

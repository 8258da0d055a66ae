#!/usr/bin/env python3
"""graft pipeline benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload <export|score|index_ingest> \
      --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source (see build.py), then runs one
JVM with Spark in local mode on every core. Every file the run creates
lives under the checkout: inputs and index trees in .bench_work/ (deleted
on exit, also on failure), the JVM log and span traces in .bench_out/.
The last stdout line is the result JSON; the line before it is the
workload's full report. Exits non-zero, without a result line, when the
build or the run fails, and with `"correct": false` when an output check
failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ("export", "score", "index_ingest")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_command(classpath, main, args, work):
    cp = os.pathsep.join(classpath + [build.spark_classpath()])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xms3g", "-Xss4m", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"] + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, work, log_path):
    """Run the JVM in its own process group; always reap it and delete `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    proc = None

    def stop(*_):
        raise SystemExit(f"benchmark interrupted; work tree {work} removed")

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        with open(log_path, "w") as log:
            # Spark would put its scratch space outside the checkout if these were set
            env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, env=env,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                raise SystemExit(f"benchmark run exceeded {RUN_TIMEOUT_S} s")
        return proc.returncode, out
    finally:
        if proc is not None and proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        for s, h in old.items():
            signal.signal(s, h)
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    classpath = build.build()
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    cmd = jvm_command(classpath, "graftbench.Main",
                      ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", a.trace, "--work", work, "--out", out_dir], work)
    log_path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    code, out = run_jvm(cmd, work, log_path)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"benchmark JVM exited with code {code} and no result; log: {log_path}")
    for ln in lines:
        print(ln)
    sys.stdout.flush()
    if code != 0 or not result["correct"]:
        sys.stderr.write(f"benchmark failed (JVM exit code {code}); log: {log_path}\n")
        sys.exit(code or 1)


if __name__ == "__main__":
    main()

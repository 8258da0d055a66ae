#!/usr/bin/env python3
"""Self-tests of the benchmark: generator determinism, planted ground
truth, the tail rule and span coverage (perfbench/tests/SelfTest.scala).

  python3 perfbench/test.py        # exits non-zero when a test fails
"""
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import run  # noqa: E402


def main():
    classpath = build.build(with_tests=True)
    work = os.path.join(run.ROOT, ".bench_work", f"test-{os.getpid()}")
    log_path = os.path.join(run.ROOT, ".bench_out", "selftest.log")
    cmd = run.jvm_command(classpath, "graftbench.SelfTest", [work], work)
    code, out = run.run_jvm(cmd, work, log_path)
    sys.stdout.write(out)
    sys.exit(code)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Self-test of the benchmark's own gates.

    python3 perfbench/selftest.py [WORKLOAD...]

Run from the repository root. For each workload (default: all), runs the
benchmark with a planted wrong answer and requires it to exit nonzero with
`"correct": false` on its result line: hedera_* re-append one row after the
final dedupe, as a lost dedupe would leave it; analytics adds one row to the
first call's result. Then runs the benchmark in a directory that holds only
BENCHMARK.json and perfbench/ and requires it to exit nonzero without a
result line. Exit status 0 when every check held.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def bench(args, cwd):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (lines[-1] if lines else ""), p.stderr


def main():
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    root = os.getcwd()
    ok = True
    for w in workloads:
        rc, last, err = bench(["--workload", w, "--seed", "1", "--seconds", "2", "--trace", "0",
                               "--plant-wrong"], root)
        try:
            correct = json.loads(last)["correct"]
        except (ValueError, KeyError):
            correct = None
        held = rc != 0 and correct is False
        ok &= held
        print(f"{'ok  ' if held else 'FAIL'} planted wrong answer on {w}: exit {rc}, "
              f"correct={correct}")
        if not held:
            print(err[-2000:], file=sys.stderr)
    bare = os.path.join(build.default_build_dir(), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"))
    rc, last, _ = bench(["--workload", "analytics", "--seed", "1", "--seconds", "2",
                         "--trace", "0"], bare)
    held = rc != 0 and not last.startswith("{")
    ok &= held
    print(f"{'ok  ' if held else 'FAIL'} bare directory: exit {rc}, result line "
          f"{'absent' if not last.startswith('{') else 'printed'}")
    shutil.rmtree(bare, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

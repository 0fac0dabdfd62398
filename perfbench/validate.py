#!/usr/bin/env python3
"""Validate the analytics answers once against the DuckDB oracle, and pin them.

    python3 perfbench/validate.py [--write]

Run from the repository root. Builds the benchmark, generates its analytics
corpus, writes every call's result as parquet (graftbench.Dump), and runs
tools/check_oracle.py over them: each call that has an oracle query must
match DuckDB exactly. The calls without one (sketches, LSH, the curation
operators) are pinned to this engine's answer. With --write, and only if
the oracle check passed, the result hashes replace
perfbench/expected/analytics.json, which every analytics run checks against.
"""
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


def main():
    write = "--write" in sys.argv[1:]
    build_dir = build.default_build_dir()
    classes, _ = build.build(build_dir)
    corpus = run.ensure_corpus(build_dir, classes, time.time() + 600)
    out = os.path.join(build_dir, "validate")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = run.jvm(classes, run.scratch_props(os.path.join(out, ".scratch"))) + \
        ["graftbench.Dump", corpus, out]
    if run.run_child(cmd, os.path.join(build_dir, "validate.log"), 900) != 0:
        print(run.tail(os.path.join(build_dir, "validate.log")), file=sys.stderr)
        return 3
    oracle = subprocess.run([sys.executable, "tools/check_oracle.py", out, corpus])
    hashes = json.load(open(os.path.join(out, "hashes.json")))
    print(json.dumps(hashes, indent=2))
    if oracle.returncode != 0:
        print("oracle check failed: answers not pinned", file=sys.stderr)
        return 1
    if write:
        with open(run.EXPECTED, "w") as fh:
            json.dump(hashes, fh, indent=2)
            fh.write("\n")
        print(f"wrote {run.EXPECTED}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

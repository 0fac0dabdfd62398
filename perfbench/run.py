#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
                             [--plant-wrong]

Run from the repository root. Builds graft and the benchmark from source if
needed (perfbench/build.py), generates the analytics corpus once per build
directory, then runs the workload in its own JVM (no sbt). The last line of
stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it ("detail: {...}") carries
the workload's own named figures with units and the run's facts. Every run
is also appended to BUILD_DIR/records/<workload>.jsonl, which
perfbench/compare.py reads; a traced run leaves its spans next to it for
perfbench/trace_summary.py.

Exit status: 0 when the outputs were correct, 1 when the correctness gate
failed (the result line is still printed), 2 when the benchmark cannot run
here (no sources), 3 when the workload process failed or timed out.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("hedera_stream", "hedera_backfill", "analytics")
CORPUS_VERSION = "corpus-v1"
EXPECTED = "perfbench/expected/analytics.json"
DEADLINE_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(classes, extra_props):
    cmd = [build.java()]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # 512m code cache: the suite codegens dozens of plans; a full cache turns
    # the JIT off and compute interpreted.
    # A fixed young generation makes collections regular, so the after-GC
    # heap readings repeat from run to run.
    cmd += ["-Xmx3g", "-Xmn256m", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [f"-D{k}={v}" for k, v in extra_props.items()]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*")]
    return cmd


def scratch_props(d):
    """Keep every file Spark and the JVM write inside the run directory."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
    return {"java.io.tmpdir": os.path.join(d, "tmp"),
            "spark.local.dir": os.path.join(d, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(d, "warehouse")}


def run_child(cmd, log_path, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    try:
        with open(path) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def ensure_corpus(build_dir, classes, deadline):
    corpus = os.path.join(build_dir, CORPUS_VERSION)
    if os.path.exists(os.path.join(corpus, ".done")):
        return corpus
    tmp = corpus + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = jvm(classes, scratch_props(os.path.join(tmp, ".scratch"))) + ["graftbench.Corpus", tmp]
    rc = run_child(cmd, os.path.join(build_dir, "corpus.log"), deadline - time.time())
    if rc != 0:
        print(tail(os.path.join(build_dir, "corpus.log")), file=sys.stderr)
        raise SystemExit(3)
    shutil.rmtree(os.path.join(tmp, ".scratch"), ignore_errors=True)
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(corpus, ignore_errors=True)
    os.rename(tmp, corpus)
    return corpus


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def unit_of(name):
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_mb", "MB"), ("_share", "share"),
                         ("_bytes", "bytes"), ("_q", "quantile")):
        if name.endswith(suffix):
            return unit
    return "count"


def overhead_share(records_file, rec):
    """Traced minus untraced headline latency, as a share of the untraced,
    against the latest untraced run of the same workload (same seed first).
    Used where a traced run could not alternate traced and untraced passes
    (hedera_stream; analytics when one pass fills the window)."""
    try:
        with open(records_file) as fh:
            past = [json.loads(l) for l in fh if l.strip()]
    except OSError:
        return None
    untraced = [r for r in past if not r["facts"]["traced"] and r.get("correct")]
    same = [r for r in untraced if r["facts"]["seed"] == rec["facts"]["seed"]]
    base = (same or untraced or [None])[-1]
    if base is None:
        return None
    a, b = rec["e2e"]["latency_p50_s"], base["e2e"]["latency_p50_s"]
    return (a - b) / b if b else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="plant a wrong answer; the correctness gate must fail")
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, build.ENGINE_SRC)) or \
            not os.path.isfile(os.path.join(root, "BENCHMARK.json")):
        print("perfbench: run from a graft checkout (src/main/scala and BENCHMARK.json)",
              file=sys.stderr)
        return 2
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    build_dir = build.default_build_dir()
    os.makedirs(build_dir, exist_ok=True)
    classes, source_stamp = build.build(build_dir)
    # The first run in a checkout also builds; later runs get the usual deadline.
    deadline = time.time() + DEADLINE_S
    corpus = ensure_corpus(build_dir, classes, deadline) if a.workload == "analytics" else None

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    records = os.path.join(build_dir, "records")
    os.makedirs(records, exist_ok=True)
    spans = os.path.join(records, f"spans-{a.workload}-{a.seed}-{int(started)}.jsonl")
    out = os.path.join(run_dir, "result.json")
    cmd = jvm(classes, scratch_props(run_dir)) + [
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", run_dir,
        "--out", out, "--spans", spans]
    if corpus:
        cmd += ["--corpus", corpus, "--expected", os.path.join(root, EXPECTED)]
    if a.plant_wrong:
        cmd += ["--plant-wrong"]
    log = os.path.join(records, "last-jvm.log")
    rc = run_child(cmd, log, deadline - time.time())
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: workload process {'timed out' if rc is None else f'exited {rc}'}",
              file=sys.stderr)
        print(tail(log), file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 3
    rec = json.load(open(out))
    shutil.rmtree(run_dir, ignore_errors=True)
    rec["facts"].update(commit=git_commit(), source_stamp=source_stamp,
                        wall_s=round(time.time() - started, 3))
    rec_file = os.path.join(records, f"{a.workload}.jsonl")
    if a.trace and "trace.overhead_share" not in rec["layers"]:
        share = overhead_share(rec_file, rec)
        rec["layers"]["trace.overhead_share"] = share if share is not None else 0.0
        if share is None:
            rec["notes"].append("trace.overhead_share: no untraced run of this workload "
                                "recorded yet, reported as 0")
    with open(rec_file, "a") as fh:
        fh.write(json.dumps(rec) + "\n")
    if a.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = rec["layers"]
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = rec["e2e"]
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names}
    detail = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(rec["detail"].items())}
    print("detail: " + json.dumps({"workload": a.workload, "metrics": detail,
                                   "facts": rec["facts"], "notes": rec["notes"]}))
    print(json.dumps({"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    return 0 if rec["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

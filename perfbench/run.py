#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first call builds the library
and the harness from source with sbt (perfbench/build.sbt depends on the
enclosing build); later calls reuse the build while no source file changed.
Each call then runs one workload in one JVM, prints a readable report and,
as the last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Inputs, scratch data and Spark's local directories live under .perfbench/work
(deleted when the run ends); the full result record with the seed, session
config, input sizes and every traced span is kept in .perfbench/results.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("ome_lake", "text_corpus_pipeline")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# A fixed-size heap: the leak probe's System.gc() after every run would
# otherwise shrink it, and each run would then pay (and vary with) the young
# collections that grow it back.
HEAP = ["-Xms3g", "-Xmx3g"]

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
STAMP = TARGET / "bench-stamp.txt"
CLASSPATH = TARGET / "bench-classpath.txt"
JVM_OPTIONS = TARGET / "bench-jvm-options.txt"
STATE = ROOT / ".perfbench"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala")]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file()]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    fingerprint = source_fingerprint()
    if (STAMP.exists() and CLASSPATH.exists() and JVM_OPTIONS.exists()
            and STAMP.read_text() == fingerprint):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "benchManifest"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode})")
    STAMP.write_text(fingerprint)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def run_jvm(args, work):
    results = STATE / "results"
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    cmd = (["java"] + JVM_OPTIONS.read_text().split("\n")
           + HEAP + [f"-Djava.io.tmpdir={work / 'tmp'}",
              "-cp", ":".join(CLASSPATH.read_text().split("\n")),
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--results", str(results)])
    cmd = [c for c in cmd if c]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0:
        fail("--seed must be >= 0")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no library sources to build next to {BENCH.name}/ "
             "(run from the root of a source checkout)")
    build()

    work = STATE / "work"
    try:
        code, out = run_jvm(args, work)
    finally:
        subprocess.run(["rm", "-rf", str(work)], check=False)
    lines = out.rstrip("\n").split("\n") if out else []
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or set(result) != {
            "correct", "attempted", "failed", "metrics"}:
        print("\n".join(lines[-50:]), file=sys.stderr)
        fail(f"benchmark JVM exited {code} without a result")
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {m["name"]: m["unit"]
              for m in declared["per_layer" if args.trace else "end_to_end"]}
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    if got != wanted:
        fail(f"reported metrics differ from BENCHMARK.json: "
             f"{sorted(set(got.items()) ^ set(wanted.items()))}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Pipeline benchmark runner.

Builds the benchmark (pipebench/, which compiles the library from the
repository's src/main/scala) with sbt when its sources changed, runs one
workload in a fresh JVM, and prints the result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage (from the repository root):
    python3 pipebench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Metric names and units come from BENCHMARK.json; the run fails if the
JVM reports a different set. Everything the run writes goes under
.bench_build/ in the repository root.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
LIBRARY_SRC = ROOT / "src" / "main" / "scala" / "graft"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ("medallion_batch", "tick_stream")

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(list(LIBRARY_SRC.parent.rglob("*.scala")) + list((BENCH_DIR / "src" / "main").rglob("*.scala"))
                   + [BENCH_DIR / "build.sbt", BENCH_DIR / "project" / "build.properties"])
    for f in files:
        st = f.stat()
        h.update(f"{f.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compiles with sbt when the sources changed; returns the run classpath."""
    stamp_file, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found")
    if not LIBRARY_SRC.is_dir():
        fail(f"library sources not found at {LIBRARY_SRC.relative_to(ROOT)}; run from a full checkout")
    spec = json.loads(spec_file.read_text())
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    cp = classpath()
    work = BUILD / "runs" / f"{args.workload}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # The library's default heap cap. The heap starts at 3 GB, not
    # pre-touched: started small, its after-collection occupancy swung by
    # a quarter between runs of the same code.
    cmd = (["java", "-Xms3g", "-Xmx8g", "-Xss4m", f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--work-dir", str(work),
              "--spec", str(spec_file)])
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                              text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    results = [l for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if proc.returncode != 0 or not results:
        fail(f"workload exited with code {proc.returncode}")
    res = json.loads(results[-1][len("RESULT "):])
    values = res["values"]
    if set(values) != set(wanted):
        fail(f"metric set differs from BENCHMARK.json: missing {sorted(set(wanted) - set(values))}, "
             f"extra {sorted(set(values) - set(wanted))}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": wanted[k]} for k in sorted(wanted)},
    }))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 perfbench/run.py --workload ingest_rag --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark from source with sbt (offline, from the local dependency cache);
later runs reuse the build until a source file changes. The benchmark JVM
runs Spark as local[<cpus - 1>], leaving one core to the driver thread,
with the driver heap derived from the machine's memory (half of it,
clamped to 2-8 GB). The last line of stdout
is one JSON object: correct, attempted, failed and metrics. Everything
else goes to stderr. Scratch data, results and span traces go under
.bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("ingest_rag", "curate_dedup")
BUILD_TIMEOUT_S = 780
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def build_inputs():
    """Every file the build reads: graft's sources and build, and ours."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += [p for p in d.glob("*") if p.is_file()]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the launch files match the sources."""
    cp_file = BUILD / "launch-classpath.txt"
    opts_file = BUILD / "launch-javaopts.txt"
    stamp_file = BUILD / "launch.stamp"
    want = stamp()
    if stamp_file.exists() and stamp_file.read_text() == want and cp_file.exists():
        return cp_file.read_text().split(), opts_file.read_text().split()
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "writeLaunchFiles"],
        cwd=HERE, stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        raise RuntimeError(f"sbt build failed with exit code {proc.returncode}")
    BUILD.mkdir(parents=True, exist_ok=True)
    for name in ("launch-classpath.txt", "launch-javaopts.txt"):
        (BUILD / name).write_text((HERE / "target" / name).read_text())
    stamp_file.write_text(want)
    log(f"build took {time.time() - t0:.1f} s")
    return cp_file.read_text().split(), opts_file.read_text().split()


def driver_memory():
    """Half the machine's memory in GB, clamped to 2-8 GB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, gb))}g"
    except OSError:
        pass
    return "2g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no graft sources under {ROOT}; run from the root of a graft checkout")
        return 2
    try:
        classpath, javaopts = build()
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        log(f"build failed: {e}")
        return 1

    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # one core for the driver thread, the rest for Spark's task threads:
    # more runnable threads than cores would time the host's scheduler
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(max(1, cpus() - 1)))
    # Spark would put its scratch space there instead of in the checkout
    env.pop("SPARK_LOCAL_DIRS", None)
    # C1 only: C2 keeps recompiling Spark's planner for minutes, far past
    # a run, so a C2 run measures how far its warm-up got; C1 settles
    # within the warm-up and makes the measured phase steady. C1 alone
    # gets a 48 MB code cache, which Spark's generated code fills within
    # a run; the JIT then stops, and whatever was not compiled yet stays
    # interpreted, so the cache is sized as for the full tiered JIT.
    cmd = (["java"] + javaopts +
           ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
            f"-Xmx{driver_memory()}", f"-Djava.io.tmpdir={tmp}",
            "-cp", ":".join(classpath), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(BUILD)])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"benchmark did not finish within {RUN_TIMEOUT_S} s")
        return 1
    lines = [line for line in out.splitlines() if line.strip()]
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        log(f"benchmark exited with code {proc.returncode}")
        return 1
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        log("the benchmark's last line is not JSON")
        return 1
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("the result line lacks its keys")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

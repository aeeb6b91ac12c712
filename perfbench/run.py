#!/usr/bin/env python3
"""Run one benchmark workload against the engine, in-process in one Spark JVM.

    python3 perfbench/run.py --workload daily_refetch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --check-gen --seed 1   # same seed -> same input bytes

Builds the benchmark (perfbench/build.sbt compiles the engine's sources with
the benchmark code in perfbench/src) when its sources changed, generates the seeded
inputs, sets the workload up, measures for --seconds and checks every output.
The last stdout line is the result JSON; each run also leaves an artifact with
the host description under perfbench/runs/ (spans too, with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, "target")
RUNS_DIR = os.path.join(HERE, "runs")
HEAP = "3g"
RUN_TIMEOUT_S = 170
WORKLOADS = ("backfill_bulk", "daily_refetch", "dashboard_serve", "stream_drops")

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), ENGINE_SRC):
        files += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if not os.environ.get("SPARK_HOME"):
        die("SPARK_HOME must point at the Spark distribution the engine builds against")
    stamp = os.path.join(BUILD_DIR, "perfbench-build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s.get("digest") == digest:
            return s["classpath"]
    p = subprocess.run(["sbt", "-batch", "compile", "printClasspath"], cwd=HERE,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    cp = [l[len("CLASSPATH="):] for l in p.stdout.splitlines() if l.startswith("CLASSPATH=")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1].strip()}, fh)
    return cp[-1].strip()


def canary():
    """A fixed pure-CPU series, so two sets of runs can be judged comparable."""
    out = []
    for _ in range(5):
        t = time.perf_counter()
        x = 0
        for i in range(300000):
            x += i * i % 7
        out.append(round(time.perf_counter() - t, 5))
    return out


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v)


def host():
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    jdk = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True).stderr.strip().splitlines()
    return {"nproc": os.cpu_count(), "mem_total_mb": mem_kb // 1024, "jdk": jdk[0] if jdk else "",
            "heap": HEAP, "platform": platform.platform(), "canary_s": canary()}


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", *opens, "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Main", *args, "--work", work]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-gen", action="store_true")
    a = ap.parse_args()
    if not a.check_gen and not a.workload:
        ap.error("--workload is required")

    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload or 'gen'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.check_gen:
            p = subprocess.run(java_cmd(cp, work, ["--mode", "gen-check", "--seed", str(a.seed)]),
                               timeout=RUN_TIMEOUT_S)
            sys.exit(p.returncode)
        info = host()
        stamp = time.strftime("%Y%m%dT%H%M%S")
        name = f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
        spans = os.path.join(RUNS_DIR, name + "-spans.jsonl")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--spans", spans]
        t0 = time.time()
        steal0, total0 = cpu_ticks()
        try:
            p = subprocess.run(java_cmd(cp, work, args), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired as e:
            err = e.stderr.decode() if isinstance(e.stderr, bytes) else (e.stderr or "")
            sys.stderr.write("\n".join(l for l in err.splitlines() if l.startswith("[perfbench"))[-4000:])
            die(f"workload {a.workload} did not finish within {RUN_TIMEOUT_S} s")
        wall = time.time() - t0
        steal1, total1 = cpu_ticks()
        # share of CPU time the hypervisor gave to other guests during the run
        info["steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 5)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(p.stderr[-6000:])
            die(f"workload {a.workload} exited with {p.returncode}")
        for l in p.stderr.splitlines():
            if l.startswith("[perfbench"):
                print(l, file=sys.stderr)
        result = json.loads(lines[-1])
        detail = next((json.loads(l[len("DETAIL "):]) for l in lines if l.startswith("DETAIL ")), {})
        os.makedirs(RUNS_DIR, exist_ok=True)
        with open(os.path.join(RUNS_DIR, name + ".json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                       "started": t0,
                       "wall_s": round(wall, 3), "host": dict(info, spark=detail.get("spark_version")),
                       "detail": detail, "result": result}, fh, indent=1)
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

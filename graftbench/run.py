#!/usr/bin/env python3
"""graft's benchmark.

Builds the benchmark and the graft program it measures from the sources
of this checkout (sbt, once per source change), then runs one workload in
one JVM and passes its output through. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage, from the root of the checkout:

    python3 graftbench/run.py --workload kg_mixed --seed 1 --seconds 20 --trace 0
    python3 graftbench/run.py --self-test

Workloads: kg_mixed, curate_stream (see BENCHMARK.json).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target")
WORKLOADS = ("kg_mixed", "curate_stream")
RUN_LIMIT_S = 175
HEAP = "2g"
YOUNG = "384m"
# Spark on JDK 17 outside spark-submit needs these (as in the program's build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath file matches the sources."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "sources.sha256")
    cp_file = os.path.join(BUILD, "classpath.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = digest()
        if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == want:
            return open(cp_file).read().strip()
        log("building (sbt writeClasspath)")
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
                            "writeClasspath"],
                           cwd=HERE, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL)
        if r.returncode != 0 or not os.path.exists(cp_file):
            raise SystemExit(f"graftbench: build failed (exit {r.returncode})")
        with open(stamp, "w") as fh:
            fh.write(want)
        log(f"built in {time.time() - t0:.0f} s")
        return open(cp_file).read().strip()


def commit_id():
    """The checkout's git commit, or a digest of its sources outside git."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        top, head = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath(ROOT):
            return head
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-" + digest()[:16]


def run_workload(args, extra=(), capture=False):
    """One JVM, one workload. Returns (exit code, stdout text or None)."""
    classpath = build()
    work = os.path.join(HERE, ".work", f"{os.getpid()}-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    # fixed heap and young generation, pre-touched: GC sizing does not
    # drift during a run, which made the noop passes slower to settle. A
    # young generation this size collects several times in every commit
    # or batch, which the heap peak per call is read from; survivor
    # spaces this large keep a call's short-lived objects out of the old
    # generation, so the heap after a collection is what is still live.
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", "-XX:-UseAdaptiveSizePolicy", f"-Xmn{YOUNG}",
            "-XX:SurvivorRatio=2",
            f"-Djava.io.tmpdir={work}",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(cpus), "--commit", commit_id(),
              "--work", work, "--out", os.path.join(HERE, "out")]
           + list(extra))
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE if capture else None)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_LIMIT_S} s and was stopped")
        return 124, None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"{args.workload} seed {args.seed}: exit {proc.returncode} after {time.time() - t0:.1f} s")
    return proc.returncode, (out.decode() if capture else None)


def self_test():
    """Tiny runs of every workload: every metric named in BENCHMARK.json
    is printed with a unit, and each gate fails on corrupted output."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: spec["end_to_end"], 1: spec["per_layer"]}
    problems = []

    def result(w, trace, extra=()):
        a = argparse.Namespace(workload=w, seed=7, seconds=1, trace=trace)
        code, out = run_workload(a, ["--size", "tiny"] + list(extra), capture=True)
        lines = (out or "").strip().splitlines()
        if code != 0 or not lines:
            problems.append(f"{w} trace={trace} {extra}: exit {code}")
            return None
        return json.loads(lines[-1])

    for w in WORKLOADS:
        for trace in (0, 1):
            r = result(w, trace)
            if r is None:
                continue
            if not r["correct"]:
                problems.append(f"{w} trace={trace}: gates failed on clean output")
            for m in want[trace]:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or without unit {m['unit']}")
            log(f"{w} trace={trace}: {len(r['metrics'])} metrics, correct={r['correct']}")
        corrupt, gate = (("add-survivor", "survivors_equal") if w == "curate_stream"
                         else ("drop-triple", "triples_equal"))
        r = result(w, 0, ["--corrupt", corrupt])
        report = json.load(open(os.path.join(HERE, "out", f"{w}-seed7-trace0.json")))
        failed = sorted(g["gate"] for g in report["gates"] if not g["ok"])
        if r is None or r["correct"] or failed != [gate]:
            problems.append(f"{w} --corrupt {corrupt}: failed gates {failed}, expected [{gate}]")
        log(f"{w} --corrupt {corrupt}: failed gates {failed}")
    for p in problems:
        log("FAIL " + p)
    log("self-test " + ("failed" if problems else "passed"))
    return 1 if problems else 0


def main():
    p = argparse.ArgumentParser(description="graft benchmark")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the graft sources (src/main/scala/graft) are not in this checkout")
        return 2
    if args.self_test:
        return self_test()
    if None in (args.workload, args.seed, args.seconds):
        p.error("--workload, --seed and --seconds are required")
    code, _ = run_workload(args)
    return code


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""graft benchmark: build the harness, run one workload, print one result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload suite|dedup-cold --seed N \
        --seconds S --trace 0|1 [--cpus C]
    python3 perfbench/run.py --selftest

The harness (perfbench/src) is compiled with sbt against the library sources
of the enclosing checkout; the build is redone whenever a source file
changes. The JVM runs the workload on a local[C] session (C defaults to
min(2, nproc)) and the last stdout line is the contract result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
The line before it is a detail record: host, input properties, the
workload's named metrics, and fail_ratio.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ("suite", "dedup-cold")
RUN_LIMIT_S = 170

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def load1():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cpu_jiffies():
    """(steal, total) jiffies of all cpus, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, IndexError, ValueError):
        return 0, 0


def source_stamp():
    """Hash of every input of the build: library and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the harness and the library; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        fail("harness build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1]


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed set of JIT compiler threads, so the harness can leave their CPU
    # time out of the program's (graftbench.Cpu)
    return ["java", *opens, "-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "graftbench.Main", *args]


def run_jvm(cp, work, args, limit):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as err:
        try:
            p = subprocess.run(java_cmd(cp, work, args), cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=err, stdin=subprocess.DEVNULL, text=True,
                               timeout=limit)
        except subprocess.TimeoutExpired:
            fail(f"the JVM did not finish within {limit:.0f} s")
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with code {p.returncode}")
    return p.stdout


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")

    # the harness measures the library of the checkout it sits in
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no graft sources next to the benchmark ({need} missing)")
    nproc = len(os.sched_getaffinity(0))
    cpus = a.cpus if a.cpus is not None else min(2, nproc)
    if cpus < 1 or cpus > nproc:
        fail(f"--cpus {cpus} is outside 1..nproc ({nproc})")

    cp = build()
    work = os.path.join(WORK, f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            out = run_jvm(cp, work, ["selftest"], RUN_LIMIT_S)
            print(out.strip())
            return
        load_start, steal_start = load1(), cpu_jiffies()
        limit = RUN_LIMIT_S - (time.time() - t_start)
        out = run_jvm(cp, work, ["run", a.workload, str(a.seed), str(a.seconds),
                                 str(a.trace), str(cpus), BENCH, work], limit)
        res = [l for l in out.splitlines() if l.startswith("RESULT ")]
        if not res:
            fail("the JVM printed no result")
        result = json.loads(res[-1][len("RESULT "):])
        detail = result.pop("detail")
        spans = os.path.join(work, f"spans-{a.workload}-{a.seed}.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.move(spans, os.path.join(WORK, "spans", os.path.basename(spans)))
        steal, total = (e - s for e, s in zip(cpu_jiffies(), steal_start))
        detail["host"] = {"nproc": nproc, "cpus": cpus, "load1_start": load_start,
                          "load1_end": load1(),
                          "cpu_steal_share": steal / total if total else 0.0,
                          "jvm_max_heap_mb": detail.pop("jvm_max_heap_mb")}
        print(json.dumps({"detail": detail}))
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Serving benchmark for the graft query server.

Builds the server from this checkout's sources (plain scalac, no sbt), then
runs one JVM that generates seeded tables, sets up an Engine with its HTTP/1.1,
h2c, Postgres-wire and Flight SQL transports, drives one workload through real
sockets, checks every answer, and prints one JSON result line last on stdout.

    python3 servebench/run.py --workload serve_hot --seed 1 --seconds 20 --trace 0
    python3 servebench/run.py --selftest

Workloads and metrics are described in BENCHMARK.json at the checkout root.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import gen  # noqa: E402
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("serve_hot", "serve_scan")

# Spark 4 on JDK 17 outside spark-submit (the same list build.sbt passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("servebench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jar directory build.sbt declares as `unmanagedBase`."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from a checkout of the repository")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(d, ext=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + files, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed for " + os.path.basename(out))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def build(jars):
    """Compile main code and the benchmark into fresh class dirs under
    .bench_build, keyed by a digest of their sources. Only these two dirs and
    the jar directory are ever on the classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    res = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src) or not sources(main_src):
        fail("no program sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    main_out = os.path.join(BUILD, "main-classes")
    bench_out = os.path.join(BUILD, "bench-classes")
    main_files = sources(main_src)
    res_files = sources(res, ext="") if os.path.isdir(res) else []
    bench_files = sources(bench_src)
    main_key = digest(main_files + res_files)
    bench_digest = digest(bench_files)
    bench_key = main_key + bench_digest
    stamp = os.path.join(BUILD, "build-stamp.json")
    old = json.load(open(stamp)) if os.path.isfile(stamp) else {}
    if old.get("main") != main_key or not os.path.isdir(main_out):
        old = {}
        t = time.time()
        scalac(jars, None, main_out, main_files)
        for p in res_files:
            dst = os.path.join(main_out, os.path.relpath(p, res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        print("servebench: built main code in %.0f s" % (time.time() - t),
              file=sys.stderr)
    if old.get("bench") != bench_key or not os.path.isdir(bench_out):
        scalac(jars, main_out, bench_out, bench_files)
    with open(stamp, "w") as f:
        json.dump({"main": main_key, "bench": bench_key}, f)
    return [main_out, bench_out], {"main": main_key, "bench": bench_digest}


def git(*args):
    """Output of a git command in the checkout, or None outside a git
    repository."""
    try:
        r = subprocess.run(["git"] + list(args), cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        return r.stdout if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def source_stamp(keys):
    """Which sources a run measured: the commit and whether the working tree
    differed from it (null outside git), and always the digests of the
    program's and the benchmark's sources."""
    head = git("rev-parse", "HEAD")
    status = git("status", "--porcelain")
    return {"commit": head.strip() if head else None,
            "dirty": bool(status.strip()) if status is not None else None,
            "src_main": keys["main"], "src_bench": keys["bench"]}


def cpu_times():
    """(steal, total) jiffies of all cpus from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return None


def java_cmd(jars, cps, cpus, main, args):
    # the heap starts small and grows with what the run uses, up to 2 GB
    return (["java", "-Xms256m", "-Xmx2g", "-XX:+UseG1GC", "-Xss4m"] +
            [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-cp", os.pathsep.join(cps + [os.path.join(jars, "*")]),
             main] + args)


def run_jvm(cmd, log_path, timeout):
    """Run the JVM, stream its stderr to a log, return its stdout lines."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=log, text=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("benchmark JVM timed out; log: " + log_path)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("benchmark JVM exited with %d; log: %s" % (p.returncode, log_path))
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own unit checks and exit")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    cps, src_keys = build(jars)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)

    if a.selftest:
        lines = run_jvm(java_cmd(jars, cps, cpus, "servebench.SelfTest", []),
                        os.path.join(logs, "selftest.log"), 170)
        print("\n".join(lines))
        return

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(BUILD, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_start = os.getloadavg()
    cpu_start = cpu_times()
    gen.generate(a.seed, os.path.join(work, "data"))
    t_jvm = time.time()
    lines = run_jvm(java_cmd(jars, cps, cpus, "servebench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--work", work,
        "--traces", os.path.join(BUILD, "traces")]),
        os.path.join(logs, tag + ".log"), 175)
    print("servebench: the JVM ran %.1f s" % (time.time() - t_jvm), file=sys.stderr)
    load_end = os.getloadavg()
    cpu_end = cpu_times()
    shutil.rmtree(work, ignore_errors=True)
    results = [ln for ln in lines if ln.startswith('{"correct"')]
    if not results:
        fail("benchmark JVM printed no result line")
    result = json.loads(results[-1])
    stamp = {**source_stamp(src_keys), "workload": a.workload,
             "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "nproc": os.cpu_count(), "spark_cpus": cpus,
             "loadavg_start": [round(x, 2) for x in load_start[:2]],
             "loadavg_end": [round(x, 2) for x in load_end[:2]],
             # cpu time the hypervisor gave to other guests during the run
             "steal_pct": round(100.0 * (cpu_end[0] - cpu_start[0]) /
                                max(1, cpu_end[1] - cpu_start[1]), 2)
             if cpu_start and cpu_end else None}
    rec_dir = os.path.join(BUILD, "results")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, tag + ".json"), "w") as f:
        json.dump({"stamp": stamp, "result": result}, f, indent=1)
    for ln in lines:
        if ln.startswith("{") and ln is not results[-1]:
            print(ln)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()

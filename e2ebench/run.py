#!/usr/bin/env python3
"""End-to-end benchmark of the engine: one workload per run.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark with sbt (offline) and caches the classpath under
e2ebench/target; later runs start the JVM directly. The last line of
standard output is the result: {"correct", "attempted", "failed",
"metrics"}. The line before it holds diagnostics (sample counts, the host
pace canary and the load average), which are not metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("stream_triggers", "batch_queries", "store_cycles")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# What spark-submit would add on JDK 17 (Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_to_end(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout kills
    the whole group (sbt's launcher starts a JVM under it) and waits again.
    Returns (exit code, stdout), or None on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not in this checkout")
    stamp = source_stamp()
    cache = os.path.join(TARGET, "e2ebench-classpath.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as fh:
        done = run_to_end(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stderr=fh)
        if done is None:
            fail(f"build exceeded {BUILD_TIMEOUT_S} s, see {log}")
        code, out = done
        fh.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def host_pace_ms():
    """A fixed CPU loop that does not touch the engine: its time tracks the
    host's pace, so a noisy run can be traced to the host."""
    t0 = time.perf_counter()
    x = 0
    for i in range(1_500_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1e3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = min(4, os.cpu_count() or 1)
    cmd = (["java", "-Xms3g", "-Xmx3g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-cp", cp, "e2ebench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cpus", str(cpus)])

    pace_before = host_pace_ms()
    load_before = os.getloadavg()[0]
    log = os.path.join(WORK, f"{a.workload}.log")
    with open(log, "w") as err:
        done = run_to_end(cmd, RUN_TIMEOUT_S, cwd=ROOT, stderr=err)
    if done is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s, see {log}")
    code, out = done
    pace_after = host_pace_ms()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        fail(f"run failed (exit {code}), see {log}")
    r = json.loads(lines[-1])
    shutil.rmtree(work, ignore_errors=True)

    diag = dict(r["diagnostics"], workload=a.workload, trace=a.trace,
                host_pace_before_ms=round(pace_before, 3), host_pace_after_ms=round(pace_after, 3),
                loadavg_1m_before=load_before, loadavg_1m_after=os.getloadavg()[0])
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()

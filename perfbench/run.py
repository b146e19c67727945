#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (the
repository's src/main/scala plus the harness in perfbench/src, one sbt
build in perfbench/, skipped while no source changed), generates the
seeded input tables, runs one workload in one JVM at local[nproc], checks
its outputs and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (see
BENCHMARK.json). Everything is written under perfbench/.work and
perfbench/.build; a run's own directory is removed when it ends.

Workloads: rfb_month, suite (see RfbMonth.scala, Suite.scala). The timed
part of a run is a fixed amount of work (15 to 25 s on a 4-vCPU host),
so --seconds is checked but does not change it.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
SUITES = os.path.join(HERE, "suites.json")
RUN_LIMIT_S = 170
WORKLOADS = ("rfb_month", "suite")

sys.path.insert(0, HERE)
import gen_tables  # noqa: E402

# offline resolution from the toolchain's caches; sbt's own state and
# temporary files stay under perfbench/.build
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.autostart=false "
            "-Dsbt.global.base={build}/sbt-global "
            "-Djava.io.tmpdir={build}/tmp -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile with sbt unless the sources are unchanged; returns the
    runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~"), build=BUILD))
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=out,
                       timeout=max(1, deadline - time.time()))
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1]}, f)
    return cps[-1]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout or
    on our own termination, and always wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = {s: signal.signal(s, lambda *a: (kill(), sys.exit(4)))
           for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        kill()
        p.wait()
        fail(f"timed out: {' '.join(cmd[:3])}", 5)
    finally:
        kill()
        for s, h in old.items():
            signal.signal(s, h)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to perfbench/ (run from a checkout)")
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}")
    with open(SUITES) as f:
        suites = json.load(f)
    classpath = build(start + 900)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # the suite tables are fixed inputs (their fingerprints are
        # frozen); the seed orders the suites and makes the RFB months
        data = os.path.join(work, "tables")
        gen_tables.write(data, suites["tables"]["sf"], suites["tables"]["seed"])
        cpus = os.cpu_count() or 1
        # C1 only, a fixed set of compiler threads and no code-cache
        # flushing: at this scale C2 spends more CPU compiling than the
        # program runs, and a flush sends hot code back to the interpreter
        # in whichever operation happens to be running
        cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:TieredStopAtLevel=1",
                "-XX:-UseDynamicNumberOfCompilerThreads",
                "-XX:ReservedCodeCacheSize=512m", "-XX:-UseCodeCacheFlushing",
                "-Dfile.encoding=UTF-8",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--trace", str(a.trace),
                  "--data", data, "--work", work, "--config", SUITES,
                  "--cpus", str(cpus)])
        out_path = os.path.join(work, "stdout.txt")
        err_path = os.path.join(WORK, f"{a.workload}.stderr.txt")
        env = dict(os.environ, LC_ALL="C.UTF-8")
        steal0, total0 = cpu_ticks()
        with open(out_path, "w") as out, open(err_path, "w") as err:
            rc = run_child(cmd, cwd=work, env=env, stdout=out, stderr=err,
                           timeout=RUN_LIMIT_S)
        steal1, total1 = cpu_ticks()
        with open(out_path) as f:
            lines = [l for l in f.read().splitlines()
                     if l.startswith("PERFBENCH_RESULT ")]
        if rc != 0 or not lines:
            with open(err_path) as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"JVM exited {rc} without a result", 6)
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
        info = res.pop("info", {})
        # CPU time the hypervisor gave to others while the JVM ran
        info["host.steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        print(json.dumps({"workload": a.workload, "seed": a.seed,
                          "trace": a.trace, "info": info}), file=sys.stderr)
        print(json.dumps(res))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()

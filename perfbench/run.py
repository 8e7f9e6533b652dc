#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload reads --seed 7 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source (sbt, offline); later runs reuse the build while
the sources are unchanged. The JVM then runs one workload: it generates
its inputs from the seed, sets up, warms up, runs the timed phase, checks
every answer, and prints a REPORT line followed by one JSON result line
(the last line of standard output). Everything the run writes stays under
.bench_build/ in this checkout.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"
# C1 only: in a run of about a minute, C2 compilation competed with
# Spark's four task threads for the four cores, which made runs slower
# and their timings several times noisier. The heap is touched in full
# at start: otherwise whether G1 had grown into the last few hundred MB
# of it by the end of a run decided peak RSS, which then spread by 0.12
# over ten seeds.

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build():
    """The runtime classpath of a build of the current sources."""
    stamp = os.path.join(OUT, "stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip(), digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    if not any(o.startswith("-Dsbt.repository.config=") for o in opts):
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    # offline, no boot lock and sbt's scratch files under .bench_build,
    # so a build writes nothing outside the checkout
    sbt_tmp = os.path.join(OUT, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    opts += ["-Dsbt.offline=true", "-Dsbt.boot.lock=false",
             f"-Djava.io.tmpdir={sbt_tmp}", f"-Djna.tmpdir={sbt_tmp}",
             "-XX:-UsePerfData"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        rc = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        "writeClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=log,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (sbt exit {rc}); see {log_path}")
    shutil.copyfile(os.path.join(BENCH, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as fh:
        fh.write(digest)
    with open(cp_file) as fh:
        return fh.read().strip(), digest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["reads", "lifecycle"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    a = ap.parse_args()

    for rel in ["build.sbt", "src/main/scala/graft", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of a full checkout")
    os.makedirs(OUT, exist_ok=True)
    classpath, digest = build()

    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--run-dir", run_dir]
    env = dict(os.environ, PERFBENCH_SOURCE=digest[:16])
    try:
        env["PERFBENCH_COMMIT"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        env["PERFBENCH_COMMIT"] = "unknown"
    out_path = os.path.join(OUT, f"stdout-{a.workload}-{a.seed}-{a.trace}.txt")
    err_path = os.path.join(OUT, f"stderr-{a.workload}-{a.seed}-{a.trace}.txt")
    start = time.time()
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=out,
                       stderr=err, stdin=subprocess.DEVNULL)
    shutil.rmtree(run_dir, ignore_errors=True)
    with open(out_path) as fh:
        lines = [line for line in fh.read().splitlines() if line.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"workload exited {rc} after {time.time() - start:.0f} s")
    for line in lines:
        print(line)


if __name__ == "__main__":
    main()

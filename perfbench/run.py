#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload fleet_http --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the harness (perfbench/src) with sbt, offline,
and records the runtime classpath; later runs reuse it while the sources are
unchanged. Each run starts one harness JVM, which generates the workload's
inputs from --seed, sets the system up three times, measures, checks every
output and writes its result. The last line printed is the result JSON:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Extra options, for the self-test: --scale tiny, --inject dup_sink_row or
--inject throwing_id. The exit code is 0 only when every output was correct.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("fleet_http", "cdc_backlog", "batch_surface")
JVM_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile if the sources changed since the last build; return the classpath."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp = os.path.join(TARGET, "build.stamp")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return open(cp_file).read().split()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building the engine and harness with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return open(cp_file).read().split()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--inject", choices=("dup_sink_row", "throwing_id"), default=None)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit("perfbench: the engine sources (src/main/scala/graft) are not in this "
                 "checkout; run from the root of a full checkout")

    cp = classpath()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JAVA_OPENS] + [
        "-Xmx3g", "-Xss4m",
        "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + work,
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Duser.timezone=UTC",
        "-cp", os.pathsep.join(cp), "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--bench", HERE, "--work", work, "--out", out,
        "--scale", a.scale, "--inject", a.inject or ""])
    # the JVM and the load generator it starts share a process group, so a
    # hung run is stopped whole
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill_group():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    watchdog = threading.Timer(JVM_TIMEOUT_S, kill_group)
    watchdog.start()
    try:
        for line in proc.stdout:
            print(line.rstrip("\n"), flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        kill_group()
        proc.wait()
    # inputs can be large; keep only the result, spans and logs
    for name in os.listdir(work):
        p = os.path.join(work, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
    if not os.path.exists(out):
        sys.exit("perfbench: the harness ended (code %d) without a result" % code)
    with open(out) as f:
        print(f.read().strip(), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()

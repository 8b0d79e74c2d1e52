#!/usr/bin/env python3
"""Build (when sources changed) and run the HTTP benchmark.

Usage, from the repository root:

    python3 perfbench/run.py --workload read_warm --seed 1 --seconds 10 --trace 0

The library and the benchmark are compiled with sbt from the sources in
this checkout; the resulting classpath is cached under perfbench/.build,
keyed by a hash of every source and build file, so later runs start the
JVM directly. The benchmark's own output is passed through; its last
line is the result JSON. Exit status is non-zero when the build fails,
the run fails or times out, or any answer is wrong.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list the library's build passes to its forks).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SOURCES = [
    os.path.join(ROOT, "build.sbt"),
    os.path.join(ROOT, "project", "build.properties"),
    os.path.join(ROOT, "src", "main"),
    os.path.join(BENCH, "build.sbt"),
    os.path.join(BENCH, "project", "build.properties"),
    os.path.join(BENCH, "src", "main"),
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout or
    when this script is terminated, and waits for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)

    def kill(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    def terminated(*_):
        kill()
        sys.exit(143)

    previous = signal.signal(signal.SIGTERM, terminated)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        kill()
        return None, None
    finally:
        signal.signal(signal.SIGTERM, previous)


def classpath():
    stamp = source_hash()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    # the build resolves nothing from the network: Spark comes from the
    # local Spark install and the rest from the local dependency caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True)
    if code is None:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"build failed (exit {code})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    for required in SOURCES:
        if not os.path.exists(required):
            fail(f"{os.path.relpath(required, ROOT)} is missing: run from a full checkout")
    cp = classpath()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.HttpBench", *sys.argv[1:],
            "--dump-dir", os.path.join(BENCH, "out")]
    try:
        code, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if code is None:
        fail(f"run timed out after {RUN_TIMEOUT_S} s", 3)
    sys.exit(code)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run compiles the engine's
sources (src/main/scala) together with the benchmark's own
(perfbench/src) through perfbench/build.sbt; later runs reuse the classes
while no source has changed. The last line of standard output is the
result object; progress goes to standard error. All data, Spark's local
directories and trace files go under perfbench/.work.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "graftbench.stamp")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the engine's build.sbt
    names (its `unmanagedBase`). This is the only place the rule lives:
    the directory is passed to sbt (-Dgraftbench.jars) to compile and put
    on the class path to run."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def sources_digest(jars):
    h = hashlib.sha256(jars.encode())
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    return p.returncode, out


def build(jars):
    digest = sources_digest(jars)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("compiling the engine and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "-Dgraftbench.jars=" + jars, "compile"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                        stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        log("build failed (exit %s)" % code)
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(ENGINE_SRC):
        log("no engine sources at %s: run from the root of a graft checkout"
            % os.path.relpath(ENGINE_SRC))
        sys.exit(2)
    jars = spark_jars()
    if jars is None or not os.path.isdir(jars):
        log("no Spark jars directory (set SPARK_HOME)")
        sys.exit(2)
    jars = os.path.abspath(jars)
    build(jars)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
            "graftbench.Main", "--work", WORK]
    if a.selftest:
        cmd += ["--selftest", "1"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    timeout = RUN_TIMEOUT_S * (6 if a.selftest else 1)
    code, out = run_group(cmd, timeout, cwd=ROOT, env=env,
                          stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                          text=True)
    if code is None:
        log("run timed out after %ds" % timeout)
        sys.exit(4)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0:
        log("run failed (exit %d)" % code)
        sys.exit(code or 1)
    if a.selftest:
        return
    try:
        res = json.loads(lines[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        log("no result line")
        sys.exit(5)
    print(lines[-1])


if __name__ == "__main__":
    main()

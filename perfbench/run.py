#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload link-batch --seed 1 --seconds 5 --trace 0

Workloads: link-batch, dedup-boilerplate, stream-link, or `all` (the three in
one process, every metric printed under its own name). The last line of
stdout is the JSON result; `metric` lines before it are for people. The build
runs once per source state and is cached under .bench_build/; a
change to the sources or to the compiled classes sends it back through sbt.
"""

import argparse
import hashlib
import os
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = os.path.join(ROOT, "perfbench")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions); the engine's build passes the
# same set to its own forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", p + "=ALL-UNNAMED")] + [
    "-Xmx3g", "-Dfile.encoding=UTF-8", "-Duser.language=en", "-Duser.country=US",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
]


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Digest of every input of the build, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in sorted(os.walk(os.path.join(ROOT, top))):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classes_fingerprint(cp):
    """Size and mtime of every file in the classpath's class directories.

    The engine's classes live in the repository's own target/, which other
    builds of the same tree (tests, a compile of another revision) also
    write; a changed fingerprint sends the run back through sbt's
    incremental compile, so it never measures classes built from other
    sources."""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        if not os.path.isdir(entry):
            continue
        for d, _, names in sorted(os.walk(entry)):
            for n in sorted(names):
                st = os.stat(os.path.join(d, n))
                h.update(f"{os.path.join(d, n)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    for need in ("build.sbt", "project/build.properties", "src/main/scala",
                 "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full source checkout", 2)
    digest = sources_digest()
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = fh.read().split("\n", 2)
        if len(cached) == 3 and cached[0] == digest:
            cp = cached[2].strip()
            if cached[1] == classes_fingerprint(cp):
                return cp
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false" +
                       " -Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")).strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspath"],
                            cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    lines = open(log).read().splitlines()
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + classes_fingerprint(cps[-1]) + "\n" + cps[-1])
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in ("link-batch", "dedup-boilerplate", "stream-link", "all"):
        fail(f"unknown workload {a.workload}", 2)

    cp = classpath()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    cmd = ["java"] + JVM_FLAGS + ["-cp", cp, "perfbench.Main",
                                  "--workload", a.workload, "--seed", str(a.seed),
                                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                                  "--work", os.path.join(BUILD, "work")]
    timeout = RUN_TIMEOUT_S if a.workload != "all" else 3 * RUN_TIMEOUT_S
    t0 = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {timeout} s; log in {log}", 4)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write("".join(open(log).readlines()[-60:]))
        fail(f"run failed (exit {proc.returncode}); log in {log}", 1)
    for line in lines[:-1]:
        print(line)
    print(f"elapsed {a.workload} {time.time() - t0:.1f} s")
    print(lines[-1])


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Index benchmark: builds the repository and the benchmark, then runs one
workload in a JVM and passes its output through.

Run from the root of a checkout:

    python3 ixbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The exit code is 0 only
when every operation ran and every answer checked out.

The build compiles the repository's main sources and the benchmark with
the Scala compiler that ships in the Spark jars the repository compiles
against, so it runs offline without sbt, and is skipped while the sources
are unchanged. Everything the benchmark writes goes under `.bench_build/`
in the checkout.
"""

import argparse
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("lookup", "many_files", "maintain")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"ixbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    """Inputs of the build, relative to the checkout root."""
    files = ["build.sbt"]
    for top in ("src/main/scala", "ixbench/src/main/scala"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names if n.endswith(".scala")]
    return sorted(files)


def build_stamp(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_jars(root):
    """The Spark distribution's jar directory the repository compiles
    against: its build.sbt's `unmanagedBase`, else $SPARK_HOME/jars. It
    holds the Scala compiler and library of the same Scala version."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    candidates = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail("no Spark jar directory with a Scala compiler (build.sbt unmanagedBase, SPARK_HOME)", 3)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    for java in (os.path.join(home, "bin", "java") if home else None, shutil.which("java")):
        if java and os.access(java, os.X_OK):
            return java
    fail("no java (JAVA_HOME or PATH)", 3)


def run_group(cmd, cwd, env, timeout, stdout):
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    return p.returncode, out


def build(root, out_dir):
    """Compiles the repository's main sources and the benchmark in one
    scalac run, unless they are unchanged since the last build; returns the
    runtime classpath. The compiler is the one in the Spark jars, so the
    build needs neither sbt nor a dependency cache."""
    stamp_file = os.path.join(out_dir, "build.stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    stamp = build_stamp(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    jars = spark_jars(root)
    classes = os.path.join(out_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    tmp = os.path.join(out_dir, "build-tmp")
    os.makedirs(classes)
    os.makedirs(tmp, exist_ok=True)
    sources = os.path.join(out_dir, "sources.txt")
    with open(sources, "w") as f:
        f.write("\n".join(rel for rel in source_files(root) if rel.endswith(".scala")) + "\n")
    t0 = time.time()
    code, _ = run_group([java_bin(), "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
                         "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
                         "-usejavacp", "-nowarn", "-d", classes, f"@{sources}"],
                        root, dict(os.environ), BUILD_TIMEOUT_S, sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail(f"build failed (exit {code})", 3)
    print(f"ixbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


# Spark on JDK 17 needs these outside spark-submit (the repository's
# build.sbt passes the same list to its forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-answer", action="store_true",
                    help="alter one expected answer; the run must then fail")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/index", "ixbench/src/main/scala/ixbench"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a checkout: {need} is missing")

    out_dir = os.path.join(root, ".bench_build", "ixbench")
    classpath = build(root, out_dir)

    work = os.path.join(out_dir, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "ixbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work,
            "--trace-out", os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"),
            "--corrupt-answer", "1" if args.corrupt_answer else "0"]
    env = dict(os.environ)
    # Spark binds the driver to the loopback interface, whatever the host's name resolves to
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    code, out = run_group(cmd, root, env, RUN_TIMEOUT_S, subprocess.PIPE)
    shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"workload {args.workload} did not finish within {RUN_TIMEOUT_S}s", 4)
    lines = out.rstrip("\n").split("\n") if out else []
    # the JVM's own last line is the result; print nothing after it
    for line in lines:
        print(line)
    sys.stdout.flush()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(code or 5)


if __name__ == "__main__":
    main()

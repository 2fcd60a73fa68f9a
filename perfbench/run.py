#!/usr/bin/env python3
"""Run one pintspark benchmark workload and print its JSON result line.

    python3 perfbench/run.py --workload ingest|scan|churn --seed N \
        --seconds S --trace 0|1

Builds the harness and, through the library's own build, the library on
first use (sbt, offline), then runs the workload in one JVM at local[nproc].
Builds go to target/ and perfbench/target/; everything else the run writes
stays under perfbench/: scratch tables in work/ (removed afterwards) and
traced-run span files in out/.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STAMP = os.path.join(BENCH, "target", "build.stamp")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
WORKLOADS = ("ingest", "scan", "churn")
# a run must end within 180 s; the first run in a checkout may also build,
# and the two together must end within 900 s
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# JDK 17 module opens Spark needs outside spark-submit (as in the main build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    """hash of every input of the build: harness and library sources and
    both build definitions"""
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        if not os.path.exists(r):
            continue
        if os.path.isfile(r):
            files = [r]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """run cmd in its own process group; kill the group on timeout and wait"""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("library sources (src/main/scala) not found next to perfbench/")
    digest = source_digest()
    if (os.path.isfile(STAMP) and open(STAMP).read() == digest
            and os.path.isfile(CLASSPATH)):
        return
    print("building the benchmark harness ...", file=sys.stderr)
    # offline resolution from the local caches, as in the repository's own
    # test command, unless the caller configured sbt already
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(out.decode(errors="replace")[-4000:])
        fail(f"build failed (sbt exit {code})")
    # `export` prints the classpath as the last line of its output
    lines = out.decode(errors="replace").strip().splitlines()
    if not lines or lines[-1].startswith("["):
        fail("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    with open(STAMP, "w") as fh:
        fh.write(digest)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn SIGTERM into SystemExit, so the child process group is killed
    # and waited for, and the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()

    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spans = os.path.join(BENCH, "out", f"spans-{a.workload}-seed{a.seed}.json")
    # a fixed, pre-touched heap keeps peak RSS from depending on how many
    # heap regions G1 happened to touch
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read(),
            "pintbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", work, "--spans", spans]
    try:
        # two malloc arenas keep native memory, and so peak RSS, from
        # depending on which threads happened to allocate
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   MALLOC_ARENA_MAX="2")
        code, out = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env,
                              stdout=subprocess.PIPE, stdin=subprocess.DEVNULL)
    finally:
        subprocess.run(["rm", "-rf", work])
    lines = out.decode(errors="replace").strip().splitlines()
    if code != 0 and not (lines and lines[-1].startswith("{")):
        fail(f"benchmark JVM exited with {code}")
    for line in lines:
        print(line)
    sys.exit(code)


if __name__ == "__main__":
    main()

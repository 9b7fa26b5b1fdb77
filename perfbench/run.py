#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The script generates the input tables (once per checkout), builds the engine
and the harness with sbt (once per source state), then runs the harness in
one JVM. The harness prints a metric table and, as the last line of standard
output, one JSON object. Everything the run writes stays under
perfbench/.work; the JVM's log goes to perfbench/.work/logs.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BASE_SF = 0.01
# a run must end within 180 s; the first run in a checkout also builds
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
    "java.management/sun.management",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compile engine and harness; return the runtime classpath."""
    stamp = os.path.join(WORK, "build", source_digest() + ".classpath")
    if os.path.exists(stamp):
        return open(stamp).read().strip(), False
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(WORK, "logs", "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         HERE, sbt_env(), out, deadline)
    lines = open(log).read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}", 1)
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(cps[-1])
    return cps[-1], True


def run_bounded(cmd, cwd, env, stdout, deadline, stderr=None):
    """Run `cmd` in its own process group; kill the group at `deadline`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=stderr if stderr is not None else subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish in time", 1)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    t0 = time.time()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    sys.path.insert(0, HERE)
    import gen

    for d in ("tmp", "stage"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    for d in ("tmp", "logs", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    base = os.path.join(WORK, "data", f"base-sf{BASE_SF}")
    gen.generate(base, BASE_SF)
    classpath, built = build(t0 + BUILD_RUN_LIMIT_S - 120)
    deadline = t0 + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    java = shutil.which("java") or fail("java is not on PATH")
    gc_threads = max(1, min(8, os.cpu_count() or 1))
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseTransparentHugePages",
        f"-XX:ParallelGCThreads={gc_threads}", "-XX:MaxGCPauseMillis=1000",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--base", base, "--work", WORK,
        "--reference", os.path.join(HERE, "reference", "fingerprints.json")]
    log = os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    out_path = log + ".out"
    with open(log, "w") as err, open(out_path, "w") as out:
        rc = run_bounded(cmd, ROOT, os.environ, out, deadline, stderr=err)
    text = open(out_path).read()
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited with {rc}; see {log}", 1)
    sys.stdout.write(text)


if __name__ == "__main__":
    main()

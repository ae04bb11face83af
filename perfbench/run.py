#!/usr/bin/env python3
"""Repository benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (the program's sources plus perfbench/src) with sbt when
the sources changed since the last build, then runs one workload in a fresh
JVM. Everything it writes stays inside the checkout: sbt output under
perfbench/target, the classpath stamp, scratch data and traces under
.bench_build/perfbench. The last line of standard output is the result JSON.
"""
import argparse
import hashlib
import os
import resource
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main")
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("crawl-wide", "crawl-deep", "api-mix", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"

# Spark 4 on JDK 17 needs these packages opened when the session is created
# outside spark-submit; the benchmark's tests (build.sbt) read the same list.
ADD_OPENS = os.path.join(BENCH, "jvm-add-opens.txt")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every input of the build: program sources and the benchmark's own."""
    h = hashlib.sha256()
    trees = [PROGRAM_SOURCES, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for tree in trees:
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt if needed; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            saved, cp = (fh.read().split("\n", 1) + [""])[:2]
        if saved == stamp and cp.strip():
            return cp.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S,
                          stdin=subprocess.DEVNULL)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        fail("build failed", 1)
    cps = [l.strip() for l in proc.stdout.splitlines()
           if l.strip().startswith("/") and os.pathsep in l and "perfbench" in l]
    if not cps:
        sys.stderr.write(proc.stdout[-8000:])
        fail("build printed no classpath", 1)
    os.makedirs(STATE, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n" + cps[-1])
    return cps[-1]


def on_sigterm(signum, frame):
    # turn a termination request into an exception, so the JVM is stopped too
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isdir(PROGRAM_SOURCES) or not os.path.isfile(os.path.join(BENCH, "build.sbt")):
        fail("run from the root of a checkout: program sources (src/main) not found")

    cp = build()
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    with open(ADD_OPENS) as fh:
        for p in fh.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", os.path.join(STATE, "work")]
    # The crawl workload polls Graft.status every 10 ms, and each call keeps a
    # directory handle open (the manifest listing is never closed), so a run
    # can hold a few thousand descriptors: allow up to the hard limit.
    soft, hard = resource.getrlimit(resource.RLIMIT_NOFILE)
    if hard == resource.RLIM_INFINITY or hard > soft:
        resource.setrlimit(resource.RLIMIT_NOFILE, (hard, hard))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        fail(f"benchmark exited with {proc.returncode}", proc.returncode or 1)
    sys.stdout.write(out if out.endswith("\n") else out + "\n")


if __name__ == "__main__":
    main()

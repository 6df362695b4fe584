#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <ingest_bundle|lake_churn|llm_dedup>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt,
offline; the classpath is cached under perfbench/target/ keyed by a hash
of every source and build file), then runs the harness JVM. Its stdout
is passed through; the last line is the result JSON. Per-run artifacts
(named metrics, host record, per-layer tables, spans) go to
perfbench/out/. Exits non-zero without a result line when the program's
sources are missing, the build fails or the run does not finish in time.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("ingest_bundle", "lake_churn", "llm_dedup")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                 os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath():
    stamp = os.path.join(TARGET, "perfbench-classpath.txt")
    digest = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + f" -Dsbt.offline=true -Xmx2g -Djava.io.tmpdir={tmp}")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                          "export perfbench/Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f.read().splitlines()]
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(l[:300] for l in lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args, extra = ap.parse_known_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources under {ROOT}: expected build.sbt and src/main/scala/graft")
    cp = classpath()

    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local, out):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    # ParallelGC: under G1 the ingest_bundle unit time spread about 20%
    # between runs on a 4-core host (G1's concurrent threads compete with
    # the four task threads); under ParallelGC it spread about 4%
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", os.path.join(work, "run"), "--out", out,
              "--oracle", os.path.join(HERE, "oracle.py")] + extra)
    try:
        rc = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    if rc != 0:
        fail(f"harness exited with {rc}")


if __name__ == "__main__":
    main()

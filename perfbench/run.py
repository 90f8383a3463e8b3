#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first call builds the engine and
the benchmark driver from source with sbt (perfbench/build.sbt), caches
the runtime classpath in .bench_build/, and records a class-data archive
there (one untimed run of every workload at the tiny size, with
-XX:ArchiveClassesAtExit) that later JVMs map instead of loading and
verifying the same classes from the jars again; later calls reuse both
until a source file changes. Each call then starts one JVM (graftbench.Main) in a fresh
work directory under .bench_work/, forwards its record line, prints its
result JSON as the last stdout line, and removes the work directory.

Exit status is non-zero, with no result printed, when the engine sources
are missing, the build fails, or the JVM does not produce a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
ARCHIVE_LOG = os.path.join(BUILD, "classes.log")
WORKLOADS = "mls_nightly,operator_mix"
STAMP = os.path.join(BUILD, "sources.sha256")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# engine's own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def run_child(cmd, cwd, env, timeout, stdout, stderr=sys.stderr):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def java_cmd(env, tmp):
    """The JVM and its options, up to the class path."""
    java = os.path.join(env["JAVA_HOME"], "bin", "java") \
        if env.get("JAVA_HOME") else shutil.which("java")
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def record_archive(env, cp):
    """One untimed run of every workload at the tiny size, dumping the
    classes it loaded into ARCHIVE (its log, full of classes the archive
    skips, goes to ARCHIVE_LOG). Without an archive the timed calls still
    run, only with a slower start."""
    work = os.path.join(BUILD, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log("recording the class-data archive")
    cmd = java_cmd(env, os.path.join(work, "tmp")) + [
        f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-cp", cp, "graftbench.Main",
        "--workload", WORKLOADS, "--seed", "1", "--seconds", "1",
        "--trace", "0", "--work", work, "--size", "tiny"]
    try:
        with open(ARCHIVE_LOG, "w") as err:
            code, _ = run_child(cmd, work, env, RUN_TIMEOUT_S,
                                subprocess.DEVNULL, err)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    if not os.path.exists(ARCHIVE):
        log(f"no class-data archive (exit {code}, see {ARCHIVE_LOG}); "
            "JVMs start without one")


def build(env):
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return True
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        return False
    os.makedirs(BUILD, exist_ok=True)
    benv = dict(env)
    benv.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in benv.get("SBT_OPTS", ""):
        benv["SBT_OPTS"] = (benv.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building engine + benchmark driver (sbt writeClasspath)")
    # No sbt server, no JVM perf-data file, temp files inside the checkout.
    code, _ = run_child([sbt, "-batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.autostart=false", "-J-XX:-UsePerfData",
                         f"-Djava.io.tmpdir={tmp}", "writeClasspath"],
                        HERE, benv, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {code})")
        return False
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(CLASSPATH) as fh:
        record_archive(env, fh.read().strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return True


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; tiny is for the smoke test")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("engine sources (src/main/scala) not found next to perfbench/")
        return 2
    env = dict(os.environ)
    home = spark_home()
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("Spark not found: set SPARK_HOME")
        return 2
    env["SPARK_HOME"] = home
    if not build(env):
        return 3

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = java_cmd(env, os.path.join(work, "tmp"))
    if os.path.exists(ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={ARCHIVE}")
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--size", args.size]
    try:
        code, out = run_child(cmd, work, env, RUN_TIMEOUT_S, subprocess.PIPE)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM timed out after {RUN_TIMEOUT_S} s")
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or "metrics" not in result:
        log(f"benchmark JVM failed (exit {code})")
        for l in lines[-5:]:
            log(l)
        return 5
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

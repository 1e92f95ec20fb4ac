#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout of the program:

    python3 perfbench/run.py --workload grep_scan --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (only when the
sources changed since the last build), runs one workload in one JVM and
prints the result JSON as the last line of stdout. The detail record
(environment, samples, counters) is written under .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("grep_scan", "index_serve")
BUILD_DIR = ".bench_build"
# Spark on JDK 17 needs these outside spark-submit; same list as the
# program's own build file
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# a fixed heap: left to size the heap itself, the collector settled
# between about 2 and 3.5 GB from run to run, and runs on the smaller
# heap were up to 1.5 times slower in every call
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Every file the build reads: program sources and build definitions."""
    tops = ["build.sbt", os.path.join("project", "build.properties"),
            os.path.join("perfbench", "build.sbt"),
            os.path.join("perfbench", "project", "build.properties")]
    files = [t for t in tops if os.path.isfile(os.path.join(root, t))]
    for tree in (os.path.join("src", "main"), os.path.join("perfbench", "src")):
        for dirpath, dirnames, names in os.walk(os.path.join(root, tree)):
            dirnames.sort()
            files += [os.path.relpath(os.path.join(dirpath, n), root) for n in sorted(names)]
    return files


def source_digest(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, digest):
    """Compile with sbt unless the last build was of these exact sources."""
    stamp = os.path.join(root, BUILD_DIR, "build.stamp")
    cp_file = os.path.join(root, "perfbench", "target", "runtime-classpath.txt")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return cp_file
    env = dict(os.environ)
    # resolve only from local caches: a build must never reach the network
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " " + " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser(os.path.join("~", ".sbt", "repositories")),
            "-Dsbt.offline=true"])
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     cwd=os.path.join(root, "perfbench"), env=env, timeout=BUILD_TIMEOUT_S,
                     stdout=sys.stderr)
    if rc != 0:
        log(f"build failed (exit {rc})")
        sys.exit(3)
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    return cp_file


def run_bounded(cmd, cwd, env, timeout, stdout):
    """Run `cmd` in its own process group; kill the group on timeout and wait."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"{cmd[0]} exceeded {timeout} s; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return 124
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    # a terminated benchmark must not leave its JVM or sbt running:
    # SIGTERM unwinds through run_bounded, which kills the child's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--detail", help="where to write the detail record "
                    f"(default: {BUILD_DIR}/results/<workload>-s<seed>-t<trace>-<pid>.json)")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "perfbench", "build.sbt"))):
        log("run this from the root of a checkout of the program (no build.sbt or src/main/scala/graft here)")
        sys.exit(2)

    os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
    digest = source_digest(root)
    with open(build(root, digest)) as f:
        classpath = f.read().strip()

    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(root, BUILD_DIR, "runs", tag)
    detail = os.path.abspath(args.detail or os.path.join(root, BUILD_DIR, "results", tag + ".json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_path = os.path.join(run_dir, "stdout.txt")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--detail", detail, "--cpus", str(cpus),
              "--source-digest", digest])
    commit = git_commit(root)
    if commit:
        cmd += ["--commit", commit]
    try:
        with open(out_path, "w") as out:
            # the JVM works inside the run directory, so any relative path
            # the program writes lands there and nowhere else
            rc = run_bounded(cmd, cwd=run_dir, env=dict(os.environ), timeout=RUN_TIMEOUT_S, stdout=out)
        with open(out_path) as f:
            lines = [l for l in f.read().splitlines() if l.strip()]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not lines:
        log(f"benchmark JVM failed (exit {rc})")
        sys.exit(rc or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("benchmark JVM printed no result line")
        sys.exit(1)
    log(f"detail: {os.path.relpath(detail, root)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()

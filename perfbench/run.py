#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve_short --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the graft sources and
the benchmark with sbt (offline) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are unchanged.
Generated tables, Spark scratch space, records and spans also stay there.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
WORKLOADS = ("serve_short", "serve_scan", "operators")
# Spark 4 on JDK 17 needs these outside spark-submit (the root build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_sha():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit():
    if not (ROOT / ".git").exists():
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def build(build_dir, sha):
    target = build_dir / "perfbench-target"
    stamp = build_dir / "perfbench.stamp"
    classpath = target / "classpath.txt"
    if stamp.exists() and stamp.read_text() == sha and classpath.exists():
        return classpath.read_text().strip()
    env = dict(os.environ, PERFBENCH_TARGET=str(target), COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.override.build.repos=true"
                       " -Dsbt.server.forcestart=false -Xmx2g").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"]
    try:
        done = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if done.returncode != 0 or not classpath.exists():
        fail(f"build failed ({done.returncode})")
    stamp.write_text(sha)
    return classpath.read_text().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the repository root: graft sources (build.sbt, src/main/scala/graft) not found")
    build_dir = (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    sha = source_sha()
    classpath = build(build_dir, sha)

    tmp = build_dir / "tmp"
    tmp.mkdir(exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(build_dir / "perfbench-work"),
            "--git-commit", git_commit() or "none", "--source-sha", sha]
    work = build_dir / "perfbench-work"
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if proc.returncode != 0:
        fail(f"benchmark exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("no result line")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Benchmark entry point: build the importer and the benchmark from source,
run one workload in a fresh JVM, and print the result line.

Usage (from the repository root):
    python3 perfbench/run.py --workload import-churn --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. The full record of the run (load stamp,
input sizes, sample counts, failures, spans) goes to
perfbench/out/<workload>-seed<seed>-trace<0|1>.json, and the JVM's log
to the .log file beside it.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """sha256 over the program's and the benchmark's sources and build file."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(BENCH, "build.sbt")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else ""


def build(digest, spark_jars):
    stamp = os.path.join(BENCH, "target", "built-" + digest[:16])
    if os.path.exists(stamp):
        return
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BENCH, "out", "build.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=BENCH, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
    if rc != 0:
        fail(f"build failed ({rc}); see {log_path}")
    for old in glob.glob(os.path.join(BENCH, "target", "built-*")):
        os.remove(old)
    open(stamp, "w").close()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail("run from the repository root: the program's sources (src/main/scala) are missing")
    spark_jars = spark_jars_dir()
    if not os.path.isdir(spark_jars):
        fail("Spark jars not found: set SPARK_HOME")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    build(digest, spark_jars)

    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}:{spark_jars}/*", "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--out", out_dir]
    env = dict(os.environ, PERFBENCH_SOURCE=f"git:{git_commit()} sha256:{digest}")
    log_path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                    stderr=log, stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log_path}")
            except BaseException:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed (exit {proc.returncode}); see {log_path}")
    print(lines[-1])


if __name__ == "__main__":
    main()

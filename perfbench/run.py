#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the checkout. The first run builds the program and
the benchmark from source with sbt (offline); later runs reuse the build
until a source file changes. Each run is one JVM over an empty private
directory under .bench_build/, removed afterwards. The JVM's stdout is
relayed; its last line is the result JSON, with "correct": false when
an operation failed its output check. Exits non-zero, printing no result,
when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(STATE, "classpath.txt")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

SOURCES = [
    (ROOT, ["build.sbt", "project", "src/main"]),
    (HERE, ["build.sbt", "project", "src"]),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for base, rels in SOURCES:
        for rel in rels:
            p = os.path.join(base, rel)
            if os.path.isfile(p):
                newest = max(newest, os.path.getmtime(p))
            for d, dirs, files in os.walk(p):
                dirs[:] = [x for x in dirs if x not in ("target", "project")]
                for f in files:
                    if f.endswith((".scala", ".sbt", ".properties", ".java")):
                        newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    if (os.path.isfile(CLASSPATH)
            and os.path.getmtime(CLASSPATH) >= newest_source_mtime()):
        return
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    out_lines = p.stdout.splitlines()
    with open(log, "a") as f:
        f.write(p.stdout)
    cp = [l for l in out_lines if "perfbench" in l and ".jar" in l and "[" not in l]
    if p.returncode != 0 or not cp:
        fail(f"build failed; see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())


def run(args):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    work = os.path.join(STATE, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn600m", "-XX:+UseSerialGC",
           "-XX:-UsePerfData"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(work, "run")]
    log = os.path.join(STATE, f"{args.workload}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run timed out; see {log}")
    spans = os.path.join(work, "run", "spans.jsonl")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(STATE, f"spans-{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if p.returncode != 0 or result is None:
        fail(f"run failed (exit {p.returncode}); see {log}")
    if not result["correct"]:
        print(f"perfbench: output checks failed: {result['failed']} of "
              f"{result['attempted']} operations", file=sys.stderr)
    print(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["wrangle", "ingest", "serving", "retrieval", "preference"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build()
    run(args)


if __name__ == "__main__":
    main()

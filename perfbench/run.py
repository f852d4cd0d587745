#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

`--workload all` runs every workload in turn and ends with one summary line.

Run from the root of a checkout. The first run builds the harness and the
repository's main sources from source (sbt, offline) into .bench_build/;
later runs reuse the build while the sources are unchanged. Inputs are
generated from --seed and cached under .bench_build/inputs/. Each run
writes its full record (input manifest, host context, every metric, and
with --trace 1 the span trace) under .bench_build/results/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# the benchmark's workloads, and the parts they run, each runnable alone
WORKLOADS = ("batch", "serve")
PARTS = ("mr_wordcount", "llm_dedup", "ann_search", "stream_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# spark-submit itself adds).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Hash of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(classpath, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={tmp}",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"]


def build():
    """Compile with sbt; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no src/main/scala next to perfbench/: run from a repository checkout")
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = proc.stdout.splitlines()
    cp = [l for l in lines if os.path.join(".bench_build", "sbt") in l
          and not l.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = cp[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, args):
    """Run the harness JVM; return its stdout lines, or fail."""
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = java_cmd(classpath, tmp) + ["--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--work", work,
            "--inputs", os.path.join(BUILD, "inputs"),
            "--results", os.path.join(BUILD, "results")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}")
    return out.splitlines()


def run_one(classpath, args):
    """One workload's output lines and its JSON result."""
    lines = run_jvm(classpath, args)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        fail("harness printed no result")
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + PARTS + ("all",),
                    help="one workload or part, or every workload in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    t0 = time.time()
    classpath = build()
    build_s = time.time() - t0
    if build_s > 1:
        print(f"build {build_s:.1f} s")
    if args.workload != "all":
        lines, result = run_one(classpath, args)
        print("\n".join(lines))
        print(json.dumps(result, separators=(",", ":")))
        return
    # every workload in turn; the last line sums them, metrics prefixed
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        lines, result = run_one(classpath,
                                argparse.Namespace(**{**vars(args), "workload": w}))
        print(f"== {w}")
        print("\n".join(lines))
        total["correct"] &= result["correct"]
        total["attempted"] += result["attempted"]
        total["failed"] += result["failed"]
        total["metrics"].update(
            {f"{w}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(total, separators=(",", ":")))


if __name__ == "__main__":
    main()

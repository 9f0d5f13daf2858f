#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the engine and the
benchmark with sbt (perfbench/build.sbt) and generates the fixture tables
into perfbench/out/; later calls reuse both while no source is newer than
the build. Each run gets a fresh work directory under perfbench/out/
(artifact store, Spark scratch, stream and ETL output), which is removed
when the run ends. The JVM prints progress on stderr, a PERFBENCH_DETAIL
record line (environment stamp, workload numbers, checks), and as its last
stdout line the result JSON, which this script passes through.

    python3 perfbench/run.py --survey <out.json>

times every registered query on the benchmark fixture (how the query pools
in perfbench/manifest.json were chosen).
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch.txt")
# Versioned so that a change to Fixture.scala gets a fresh fixture; the
# expected digests in manifest.json belong to this version.
FIXTURE = os.path.join(HERE, "out", "fixture-v1")


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        if os.path.isfile(base):
            newest = max(newest, os.path.getmtime(base))
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) >= newest_source_mtime():
        return True
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                          cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    return proc.returncode == 0 and os.path.exists(LAUNCH)


def java_command(main, args, work):
    with open(LAUNCH) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    classpath, opts = lines[0], lines[1:]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opts,
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
            "-cp", classpath, main, *args]


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--survey")
    a = p.parse_args()
    if not a.survey and not a.workload:
        p.error("--workload is required")
    if not build():
        print("perfbench: build failed", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "out", "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ)
    env["GRAFT_ARTIFACT_DIR"] = os.path.join(work, "artifacts")
    try:
        if not os.path.isdir(FIXTURE):
            gen = subprocess.run(java_command("perfbench.Fixture", [FIXTURE], work),
                                 cwd=ROOT, env=env, stdout=sys.stderr)
            if gen.returncode != 0:
                return gen.returncode
        if a.survey:
            cmd = java_command("perfbench.Survey", [FIXTURE, os.path.abspath(a.survey)], work)
        else:
            cmd = java_command("perfbench.Run", [
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--fixture", FIXTURE,
                "--t0-ms", str(int(time.time() * 1000)),
                "--manifest", os.path.join(HERE, "manifest.json")], work)
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
        try:
            for line in proc.stdout:
                sys.stdout.write(line)
                sys.stdout.flush()
        finally:
            proc.wait()
        return proc.returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

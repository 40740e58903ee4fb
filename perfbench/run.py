#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the library and the benchmark from
source with sbt (perfbench/build.sbt); later runs reuse that build while
the sources are unchanged. The run itself is one JVM (perfbench.Main),
whose last stdout line is the result as one JSON object. Everything the
run writes stays under .bench_build/ in the current directory.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = pathlib.Path(".bench_build").resolve()
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def sources():
    """Every file the build reads, in a fixed order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def build():
    """Builds once per source state; returns (classpath, jvm options)."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = OUT / "build.sha256"
    launch = BENCH / "target" / "launch.txt"
    if not (stamp.exists() and launch.exists() and stamp.read_text() == digest.hexdigest()):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
               "-Dsbt.log.noformat=true", "compile", "benchLaunch"]
        done = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if done.returncode != 0 or not launch.exists():
            sys.exit(f"perfbench: build failed ({done.returncode})")
        stamp.write_text(digest.hexdigest())
    lines = launch.read_text().splitlines()
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala") if not p.exists()]
    if missing:
        sys.exit("perfbench: not a checkout of the library, missing " +
                 ", ".join(str(p.relative_to(ROOT)) for p in missing))
    (OUT / "tmp").mkdir(parents=True, exist_ok=True)
    classpath, options = build()
    # the library's debug switches must not change what is measured
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    cmd = ["java", HEAP, *options,
           f"-Djava.io.tmpdir={OUT / 'tmp'}",
           f"-Dderby.stream.error.file={OUT / 'derby.log'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was stopped")
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()

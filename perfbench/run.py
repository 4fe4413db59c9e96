#!/usr/bin/env python3
"""graft benchmark: one seeded workload, measured end to end or traced.

    python3 perfbench/run.py --workload etl_jsonl --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles the program from source
(see build.py). One JVM then generates the workload's input from the seed,
builds the Spark session, runs the first op, warm-up ops and a number of
measured ops set by `--seconds` in a closed loop, checks every op's output
against the workload's own reference, and prints a report followed by one JSON line: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1` (its spans go to
`.bench_build/trace/`). Workloads and metrics are described in
perfbench/README.md. Every file the run writes stays under `.bench_build/`.
"""
import argparse
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ["etl_jsonl", "corpus_curation", "event_stream"]
# a run may take 180 s; leave room for JVM shutdown
RUN_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def commit_of(digest):
    """The git commit when run in a clone, plus the digest of the sources."""
    rev = "no-git"
    if (ROOT / ".git").exists():
        got = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "--short", "HEAD"],
                             capture_output=True, text=True)
        if got.returncode == 0:
            rev = got.stdout.strip()
    return f"{rev}/src-{digest[:12]}"


def java(classes, main, args):
    tmp = ROOT / ".bench_build" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.ui.showConsoleProgress=false",
           f"-Dspark.local.dir={tmp / 'spark'}", f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           *opens, "-cp", f"{classes}{os.pathsep}{build.spark_jars(ROOT)}/*", main, *args]
    try:
        return subprocess.run(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s and was killed", file=sys.stderr)
        return 3


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=[0, 1])
    p.add_argument("--self-test", action="store_true", help="run the harness self-test")
    a = p.parse_args()
    if not a.self_test and None in (a.workload, a.seed, a.seconds, a.trace):
        p.error("--workload, --seed, --seconds and --trace are required")
    try:
        classes, digest = build.build(ROOT)
    except build.BuildError as e:
        sys.exit(f"perfbench build: {e}")
    if a.self_test:
        return java(classes, "perfbench.SelfTest", [])
    return java(classes, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", str(ROOT), "--commit", commit_of(digest)])


if __name__ == "__main__":
    sys.exit(main())

"""Build file of the benchmark.

Compiles the program's main Scala sources (`src/main/scala`) together with the
benchmark's own sources (`perfbench/src`, `perfbench/tests`) into
`.bench_build/perfbench/classes`, with the Scala compiler that ships among the
Spark jars the sbt build compiles against (`unmanagedBase` in build.sbt, or
`$SPARK_HOME/jars` when SPARK_HOME is set). A build is skipped when the
sources hash to the stamp of the previous one.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys


class BuildError(Exception):
    pass


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return pathlib.Path(m.group(1))


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources at {main}")
    own = [root / "perfbench" / "src", root / "perfbench" / "tests"]
    files = sorted(main.rglob("*.scala"))
    for d in own:
        files += sorted(d.rglob("*.scala"))
    return files


def source_digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root):
    """Returns (classes directory, source digest), compiling when needed."""
    files = sources(root)
    jars = spark_jars(root)
    if not jars.is_dir():
        raise BuildError(f"no Spark jars at {jars}")
    digest = source_digest(root, files)
    out = root / ".bench_build" / "perfbench"
    classes, stamp = out / "classes", out / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes, digest
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes, digest


if __name__ == "__main__":
    try:
        print(build(pathlib.Path(__file__).resolve().parent.parent)[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")

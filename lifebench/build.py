"""Build file of the lifecycle benchmark.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's (`lifebench/scala`) using the Scala compiler that ships among
Spark's jars, into `.bench_build/classes` at the repository root. The
Spark jar directory is the one the repository's own `build.sbt` names in
`unmanagedBase` (or `$SPARK_HOME/jars` when that is set).

A build is skipped when a digest of every source file, the compiler
options and the jar names matches the one stamped by the last build, so
a run reuses compiled classes and compiles only when they are stale.

    python3 lifebench/build.py          # build if stale, print the class dir
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
OUT = REPO / ".bench_build"
SOURCES = [REPO / "src" / "main" / "scala", BENCH / "scala"]
SCALAC_OPTS = ["-deprecation", "-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = REPO / "build.sbt"
        if not sbt.is_file():
            raise BuildError("no build.sbt at the repository root")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    files = []
    for d in SOURCES:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(REPO)}")
        files += sorted(d.rglob("*.scala"))
    return files


def digest(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_OPTS).encode())
    h.update(" ".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(REPO)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure() -> Path:
    """Return the class directory, compiling first if it is stale."""
    jars = spark_jars()
    files = sources()
    want = digest(files, jars)
    classes = OUT / "classes"
    stamp = OUT / "classes.stamp"
    OUT.mkdir(exist_ok=True)
    with open(OUT / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.is_file() and stamp.read_text() == want and classes.is_dir():
            return classes
        tmp = OUT / f"classes.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        t0 = time.time()
        cp = f"{jars}/*"
        cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
               *SCALAC_OPTS, "-d", str(tmp), "-classpath", cp, *map(str, files)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(want)
        print(f"[lifebench] compiled {len(files)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
        return classes


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[lifebench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

"""Compile the engine (`src/main/scala`) together with the benchmark
harness (`perfbench/scala`) into `.bench_build/classes`.

The compiler is the Scala 2.13 compiler that ships among Spark's jars, so
the build needs no dependency resolution. A stamp over the source tree
skips the compile when nothing changed since the last build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the sbt build uses
    (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                        sbt.read_text())
        jars = Path(m.group(1)) if m else None
    if jars is None or not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found ({jars}); set SPARK_HOME")
    return jars


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from the root of a full checkout")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def current_stamp():
    """Digest of the sources the current build was compiled from — the
    provenance of a run where the checkout is not a git repository."""
    f = BUILD / "stamp"
    return f.read_text() if f.is_file() else None


def classpath():
    """Runtime classpath: compiled classes, engine resources, Spark."""
    return os.pathsep.join([str(BUILD / "classes"),
                            str(ROOT / "src" / "main" / "resources"),
                            str(spark_jars() / "*")])


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    stamp_file = BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want and (BUILD / "classes").is_dir():
        return
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(spark_jars() / "*")
    print(f"perfbench: compiling {len(files)} sources", file=log)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"],
        stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    shutil.rmtree(BUILD / "classes", ignore_errors=True)
    tmp.rename(BUILD / "classes")
    stamp_file.write_text(want)


if __name__ == "__main__":
    build()

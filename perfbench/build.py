"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) with the Scala
compiler that ships in the Spark distribution (`$SPARK_HOME/jars`, or
the jar directory the root build.sbt reads Spark from), into
.bench_build/perfbench/classes. The root sbt build is not used, so the
benchmark needs neither sbt nor a dependency resolver.

A stamp of every source file's bytes skips the compile when nothing
changed. Run it alone with `python3 perfbench/build.py`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the root build.sbt declares
    as its `unmanagedBase` (the engine's own source of Spark)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in "
                         "build.sbt)")
    return Path(m.group(1))


SPARK_JARS = spark_jars()
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def classpath() -> str:
    return f"{OUT / 'classes'}{os.pathsep}{SPARK_JARS}/*"


def sources() -> list:
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build() -> Path:
    """Compile when the sources changed; return the classes directory."""
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"perfbench: missing source directory {d}")
    if not any(SPARK_JARS.glob("spark-core_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    if (OUT / "stamp").exists() and (OUT / "stamp").read_text() == stamp:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", f"{SPARK_JARS}/*"] + [str(p) for p in srcs]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"perfbench: scalac failed ({res.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (OUT / "stamp").write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())

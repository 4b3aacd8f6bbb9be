#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources and the
benchmark's own sources into one jar with the Scala compiler that ships in
the Spark distribution.

    python3 flowbench/build.py        # prints the jar's path

The build is skipped when the sources and options are unchanged since the
last build (a content hash is stamped next to the jar).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "flowbench"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", BENCH / "src"]
SCALAC_OPTS = ["-nowarn", "-deprecation:false", "-release", "17"]


def spark_jars() -> Path:
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    project's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("flowbench: no Spark jars (set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    found = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"flowbench: source directory {d.relative_to(ROOT)} is missing")
        found += sorted(p for p in d.rglob("*.scala") if p.is_file())
    return found


def build() -> Path:
    """Compile if needed; return the jar. A jar, not a class directory,
    because the JVM's class-data-sharing archive (see run.py) accepts only
    jars on the class path."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(SCALAC_OPTS).encode())
    stamp = h.hexdigest()
    jar = OUT / "flowbench.jar"
    stamp_file = OUT / "flowbench.jar.stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return jar
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(jars / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           *SCALAC_OPTS, "-d", str(tmp), "-cp", cp, *map(str, srcs)]
    log = OUT / "build.log"
    with open(log, "w") as f:
        rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"flowbench: compile failed (see {log.relative_to(ROOT)})")
    tmp_jar = OUT / "flowbench.jar.tmp"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(tmp.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    tmp_jar.replace(jar)
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    print(build())

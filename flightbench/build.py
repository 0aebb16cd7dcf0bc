#!/usr/bin/env python3
"""Build file of the daily-ingest benchmark.

Compiles the engine's main sources (src/main/scala) together with the
benchmark program (flightbench/src) in one scalac run, using the Scala
compiler and the Spark jars of the Spark distribution the engine's own
build compiles against (the unmanagedBase of its build.sbt).
The engine's build sets no compiler options, so this produces the same
classes without sbt, its launcher, or any dependency resolution. Nothing
is written outside the output directory.

    python3 flightbench/build.py      # from the repository root

build() returns the run classpath and the JVM options the engine's
build runs Spark with (JDK 17 add-opens, UI off, UTC session time zone).
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
OUT = ROOT / ".bench_build" / "flightbench"
BUILD_TIMEOUT_S = 700

# As javaOptions in the engine's build.sbt, minus the heap size, which
# run.py sets itself.
JDK17_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = [o for p in JDK17_ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the directory the engine's build.sbt compiles against
    (its unmanagedBase), else those of $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if m:
        d = Path(m.group(1))
    elif "SPARK_HOME" in os.environ:
        d = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        raise BuildError("no Spark jars directory: build.sbt sets no unmanagedBase and SPARK_HOME is unset")
    jars = sorted(d.glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {d}")
    return jars


def compiler_jars(jars):
    """scala-compiler, scala-library and scala-reflect of the Spark
    distribution: the Scala version the engine is compiled for."""
    found = {}
    for j in jars:
        for name in ("scala-compiler", "scala-library", "scala-reflect"):
            if j.name.startswith(name + "-2."):
                found[name] = j
    if len(found) != 3:
        raise BuildError(f"Scala compiler jars missing among the Spark jars: found {sorted(found)}")
    return [found[n] for n in ("scala-compiler", "scala-library", "scala-reflect")]


def sources():
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    srcs += sorted((HERE / "src").rglob("*.scala"))
    return srcs


def build():
    """Compile unless the sources and jars are unchanged since the last
    build; return (classpath entries, JVM options)."""
    jars = spark_jars()
    resources = ROOT / "src" / "main" / "resources"
    classes = OUT / "classes"
    srcs = sources()
    digest = hashlib.sha256()
    for p in [Path(__file__), ROOT / "build.sbt"] + srcs + sorted(p for p in resources.rglob("*") if p.is_file()):
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    digest.update("\0".join(j.name for j in jars).encode())
    stamp = digest.hexdigest()
    stamp_file = OUT / "build.stamp"
    cp = [classes, resources] + jars
    if stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir():
        return cp, JVM_OPTS

    OUT.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir()
    tmp = OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(
        ["-nowarn", "-d", str(classes),
         "-classpath", os.pathsep.join(str(j) for j in jars)]
        + [str(s) for s in srcs]) + "\n")
    cmd = ["java", "-Xms512m", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(str(j) for j in compiler_jars(jars)),
           "scala.tools.nsc.Main", f"@{args_file}"]
    log_path = OUT / "build.log"
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError(f"build timed out after {BUILD_TIMEOUT_S} s; see {log_path}")
    if r.returncode != 0:
        tail = "".join(open(log_path).readlines()[-30:])
        raise BuildError(f"{tail}build failed (scalac exit {r.returncode}); see {log_path}")
    stamp_file.write_text(stamp)
    return cp, JVM_OPTS


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        print(f"[flightbench] {e}", file=sys.stderr)
        sys.exit(3)
    print(f"[flightbench] classes in {cp[0]}")

"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the harness (`graftbench/harness`) into `graftbench/.build/classes`.

It calls the Scala compiler directly, with the Scala version and the
jar directory the repository's `build.sbt` names, so a build reads only
the checkout and the toolchain and writes only under `graftbench/.build`.
A build is skipped when the sources are unchanged since the last one.

    python3 graftbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")

# what `build.sbt` passes to every forked JVM (`javaOptions`)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_FLAGS = [f for p in JDK17_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=1g", "-XX:+UnlockDiagnosticVMOptions",
    "-XX:GCLockerRetryAllocationCount=64"]
# no hsperfdata file under /tmp: a run writes only inside its checkout
NO_PERF_DATA = "-XX:-UsePerfData"


class BuildError(Exception):
    pass


def _sbt_setting(text, pattern, what):
    m = re.search(pattern, text)
    if not m:
        raise BuildError(f"build.sbt names no {what}")
    return m.group(1)


def toolchain():
    """(scala version, sorted jar list) from the repository's build.sbt."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError(f"no build.sbt at {ROOT}: not a graft checkout")
    text = open(sbt).read()
    version = _sbt_setting(text, r'scalaVersion\s*:=\s*"([^"]+)"', "scalaVersion")
    jar_dir = _sbt_setting(text, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                           "unmanagedBase")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not any(os.path.basename(j) == f"scala-compiler-{version}.jar" for j in jars):
        raise BuildError(f"scala-compiler-{version}.jar not in {jar_dir}")
    return version, jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError(f"no engine sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(BENCH, "harness", "*.scala")))


def classpath():
    """Runtime class path: the built classes, then the toolchain jars."""
    return os.pathsep.join([CLASSES] + toolchain()[1])


def build(log=sys.stderr):
    version, jars = toolchain()
    srcs = sources()
    h = hashlib.sha256(version.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        h.update(open(s, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    print(f"graftbench: compiling {len(srcs)} sources with Scala {version}",
          file=log, flush=True)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.pathsep.join(jars)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", cp, "-d", tmp] + srcs))
    r = subprocess.run(["java", NO_PERF_DATA, "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", f"@{args_file}"],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"graftbench: build failed: {e}")

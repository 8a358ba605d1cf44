"""Builds the program and the benchmark's JVM driver from source.

The repository's `build.sbt` names the directory of unmanaged Spark jars
(`unmanagedBase`); the Scala compiler ships among those jars, so this
compiles `src/main/scala` plus `perfbench/src` with it directly and
packs the classes into `.bench_build/perfbench.jar` (a jar, not a class
directory, so the JVM can map the classes into a class-data-sharing
archive). A stamp of every source file's content skips the compile when
nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = os.path.join(OUT, "perfbench.stamp")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def jar_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        raise SystemExit("no build.sbt: run from the root of a graft checkout")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def classpath():
    jars = sorted(glob.glob(os.path.join(jar_dir(), "*.jar")))
    if not jars:
        raise SystemExit("no jars in the unmanagedBase directory")
    return jars


def sources():
    files = sorted(p for d in SOURCES for p in glob.glob(os.path.join(d, "**", "*.scala"),
                                                          recursive=True))
    if not any(f.startswith(SOURCES[0]) for f in files):
        raise SystemExit("no program sources under src/main/scala")
    return files


def ensure():
    """Compiles if any source changed; returns (run classpath, build stamp)."""
    jars = classpath()
    files = sources()
    h = hashlib.sha256()
    for f in files + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    if not (os.path.exists(STAMP) and os.path.exists(JAR) and open(STAMP).read() == stamp):
        classes = os.path.join(OUT, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        cp = os.pathsep.join(jars)
        r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                            "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp]
                           + files, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit("compile failed")
        with zipfile.ZipFile(JAR + ".tmp", "w") as z:
            for d, _, names in os.walk(classes):
                for n in sorted(names):
                    z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
        os.replace(JAR + ".tmp", JAR)
        shutil.rmtree(classes)
        with open(STAMP, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([JAR] + jars), stamp


if __name__ == "__main__":
    ensure()

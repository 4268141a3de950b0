"""Build file of the benchmark: compiles the program and the harness.

The program (src/main/scala) and the harness (perfbench/src) are compiled
into .bench_build/ at the checkout root, against the Spark jar directory that
build.sbt names as `unmanagedBase`, with the Scala compiler that ships in it.
A stamp of the sources' hash skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def spark_jars():
    """The jar directory the program's own build compiles against."""
    m = None
    if os.path.exists("build.sbt"):
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("build: build.sbt names no unmanagedBase jar directory "
                         "(run from the root of a checkout)")
    return m.group(1)


def classpath(jars, *dirs):
    return ":".join(list(dirs) + [os.path.join(jars, "*")])


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _scalac(jars, srcs, out, cp):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"build: scalac failed for {out}")


def build():
    """Compile if needed; return the classpath that runs the harness."""
    prog = _sources("src/main/scala")
    bench = _sources("perfbench/src")
    if not prog or not bench:
        raise SystemExit("build: no program sources under src/main/scala "
                         "(run from the root of a checkout)")
    jars = spark_jars()
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler in {jars}")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    bench_classes = os.path.join(BUILD, "bench-classes")
    stamp = os.path.join(BUILD, "stamp")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp) and open(stamp).read() == key):
            _scalac(jars, prog, classes, classpath(jars))
            _scalac(jars, bench, bench_classes, classpath(jars, classes))
            with open(stamp, "w") as fh:
                fh.write(key)
    return classpath(jars, bench_classes, classes)


if __name__ == "__main__":
    print(build())

"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark's JVM harness (perfbench/scala) with the Scala compiler that ships
among Spark's jars, into <checkout>/.bench_build/classes. A build is reused
while the sources hash to the same stamp.

    python3 perfbench/build.py            # build if stale, print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(open(f, "rb").read())
    return h.hexdigest()[:16]


def scalac(files, out, classpath):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit(f"perfbench: compile failed ({len(files)} files into {out})")


def build():
    """Compile if stale; return (classpath, program stamp, program and
    benchmark stamp)."""
    prog = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "scala"))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    tag = stamp(prog + bench)
    classes = os.path.join(OUT, "classes")
    jars = os.path.join(spark_jars(), "*")
    cp_prog, cp_bench = os.path.join(classes, "program"), os.path.join(classes, "bench")
    stamp_file = os.path.join(classes, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == tag):
        shutil.rmtree(classes, ignore_errors=True)
        scalac(prog, cp_prog, jars)
        scalac(bench, cp_bench, os.pathsep.join([cp_prog, jars]))
        with open(stamp_file, "w") as f:
            f.write(tag)
    conf = os.path.join(HERE, "conf")
    return os.pathsep.join([conf, cp_bench, cp_prog, jars]), stamp(prog), tag


if __name__ == "__main__":
    print(build()[0])

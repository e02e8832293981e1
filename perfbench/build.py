"""Build file of the benchmark: compiles the program (src/main/scala of the
repository) together with perfbench/src with scalac, straight from the
Spark distribution's jars, so no build tool runs inside the measured
path.  The output goes to perfbench/.build and is reused while the
sources are unchanged.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
ORACLE = os.path.join(BUILD, "oracle_sql.json")
STAMP = os.path.join(BUILD, "stamp")


class BuildError(Exception):
    pass


def jars_dir():
    """The Spark jars the program compiles against: $SPARK_HOME/jars, or
    the repository build's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(REPO, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def classpath():
    return [CLASSES, os.path.join(jars_dir(), "*")]


def sources():
    prog = sorted(glob.glob(os.path.join(REPO, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise BuildError("program sources (src/main/scala) not found")
    return prog + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def java_cmd(cp, main, *args, opts=()):
    # -UsePerfData: no hsperfdata file in the system temp directory
    return ["java", "-XX:-UsePerfData", *opts, "-cp", os.pathsep.join(cp), main, *args]


def ensure():
    """Compile if the sources changed since the last build; returns the
    runtime classpath."""
    srcs = sources()
    jars = jars_dir()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return classpath()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar")) for n in
                ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError(f"no scala 2.13 compiler jars in {jars}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = java_cmd([c[0] for c in compiler], "scala.tools.nsc.Main",
                   "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*"),
                   "@" + argfile, opts=("-Xss8m", "-Xmx2g"))
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    r = subprocess.run(java_cmd(classpath(), "perfbench.OracleDump", ORACLE),
                       capture_output=True, text=True, timeout=120)
    if r.returncode != 0:
        raise BuildError("oracle dump failed:\n" + r.stderr[-4000:])
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        ensure()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(CLASSES)

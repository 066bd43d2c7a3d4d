#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark driver (perfbench/src) into one jar, with the Scala compiler that
ships in the Spark distribution's jars.

    python3 perfbench/build.py        # prints the jar's path

Output goes to .bench_build/perfbench/classes-<hash of the sources>.jar; a
build of identical sources is reused. A jar rather than a class directory,
because the JVM's class data sharing archives classes from jars only. Spark
is found through SPARK_HOME, else through the spark-submit on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """SPARK_HOME/jars, else the jars beside the first spark-submit on PATH
    that has them (a pip-installed launcher may come first and has none)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        launcher = os.path.join(d, "spark-submit")
        if os.path.isfile(launcher):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(launcher))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars):
            return jars
    raise BuildError("no Spark distribution found; set SPARK_HOME")


def _files(top, suffix=""):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def build():
    """Compile if needed; return the jar."""
    engine = _files(ENGINE_SRC, ".scala")
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    sources = engine + _files(BENCH_SRC, ".scala")
    resources = _files(ENGINE_RES)
    h = hashlib.sha256()
    for f in sources + resources + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16] + ".jar")
    if os.path.exists(out):
        return out

    jars = spark_jars()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    classpath = os.pathsep.join(
        os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", tmp, "@" + argfile]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {res.returncode}")
    with zipfile.ZipFile(tmp + ".jar", "w") as jar:
        for f in _files(tmp, ".class"):
            jar.write(f, os.path.relpath(f, tmp))
        for f in resources:
            jar.write(f, os.path.relpath(f, ENGINE_RES))
    shutil.rmtree(tmp)
    os.rename(tmp + ".jar", out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)

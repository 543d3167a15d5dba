#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main) and
the benchmark's own Scala sources (perfbench/src) into one class directory
under .bench_build/perfbench, with the Scala compiler that ships among the
Spark jars. A build is keyed by a hash of every input, so an unchanged tree
is compiled once.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()


def _spark_home():
    """$SPARK_HOME, else the first directory on PATH whose spark-submit has
    a jars/ directory beside its bin/."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if os.path.exists(os.path.join(d, "spark-submit")) and \
                os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def _walk(top, suffix=""):
    found = []
    for d, _, names in os.walk(os.path.join(ROOT, top)):
        found += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(found)


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def build():
    """Compile if needed; return the class directory."""
    engine = _walk("src/main/scala", ".scala")
    bench = _walk("perfbench/src", ".scala")
    resources = _walk("src/main/resources")
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError("no Spark jars at " + SPARK_JARS)
    h = hashlib.sha256()
    for f in engine + bench + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "_BUILT")):
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(engine + bench) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + OUT,
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(SPARK_JARS, "*"), "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    res_root = os.path.join(ROOT, "src/main/resources")
    for f in resources:
        dst = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(tmp, "_BUILT"), "w").close()
    for old in os.listdir(OUT):
        if old.startswith("classes-") and os.path.join(OUT, old) != tmp:
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)

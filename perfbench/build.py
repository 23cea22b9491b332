#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repo's main Scala sources
together with the harness under perfbench/src, with the Scala compiler
that ships in Spark's jar directory ($SPARK_HOME/jars). No sbt: the
timed runs never pay sbt start-up or dependency resolution.

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the repo
root. A stamp of the sources' hashes makes a rebuild a no-op.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, or the jars of the installed pyspark package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        spec = importlib.util.find_spec("pyspark")
        if spec is None:
            raise SystemExit("build: set SPARK_HOME or install pyspark")
        home = os.path.dirname(spec.origin)
    return os.path.join(home, "jars")


# JDK 17 module opens Spark needs outside spark-submit; the same list as
# the repo's build.sbt (Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: no program sources at {main}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                              recursive=True))
    return found


def classpath(classes):
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([classes, resources, os.path.join(spark_jars(), "*")])


def build():
    """Compiles if the sources changed; returns the run classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(out)
    os.makedirs(build_dir(), exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}", "-Xss8m",
           "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: scalac failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath(out)


if __name__ == "__main__":
    print(build())

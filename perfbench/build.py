"""Builds the program and the benchmark from source, without sbt.

The program's Scala and Java sources (src/main) and the benchmark's own
sources (perfbench/src) are compiled together with the Scala compiler that
ships with Spark, against Spark's jars. The classes go to
``$CARGO_TARGET_DIR`` (default ``.bench_build``) under a name derived from a
hash of every source file, so a checkout builds once and reuses the result.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory the repository's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          open(sbt).read()) if os.path.isfile(sbt) else None
        if not found:
            raise SystemExit("no Spark jars: set SPARK_HOME")
        jars = found.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(ROOT, "src", "main", "java"),
             os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit(f"no program sources at {roots[0]}")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def ensure():
    """Returns the classes directory, compiling it first if needed."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(build_dir(), exist_ok=True)
    jars = spark_jars()
    tmp = tempfile.mkdtemp(prefix="building-", dir=build_dir())
    try:
        argfile = os.path.join(tmp, "sources.txt")
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        cp = os.path.join(jars, "*")
        subprocess.run(["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
                        "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       check=True, stdout=sys.stderr)
        java = [s for s in srcs if s.endswith(".java")]
        if java:
            subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn",
                            "--add-modules", "jdk.incubator.vector",
                            "-d", classes, "-cp", classes + os.pathsep + cp] + java,
                           check=True, stdout=sys.stderr, stderr=subprocess.DEVNULL)
        try:
            os.rename(classes, out)
        except OSError:
            if not os.path.isdir(out):  # a concurrent build did not win either
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(ensure())

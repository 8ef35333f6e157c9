"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala`` at the repository
root) together with the benchmark's own sources (``graftbench/src/main/scala``)
using the Scala compiler that ships in Spark's ``jars`` directory, the
same jars the repository's ``build.sbt`` compiles against. Nothing is
fetched.

The output lands in ``.bench_build/`` at the repository root, keyed by
a hash of every input file, so a second run with unchanged sources
skips the compile. Run directly to build:  python3 graftbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found: set JAVA_HOME")
    return exe


def sources():
    """Scala files of the program and the benchmark."""
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        raise BuildError("graft's sources (src/main/scala/graft) are missing")

    def walk(d):
        return sorted(os.path.join(base, f) for base, _, files in os.walk(d)
                      for f in files if f.endswith(".scala"))

    return walk(main) + walk(os.path.join(BENCH, "src", "main", "scala"))


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; return (classes dir, classpath list, stamp)."""
    jars = spark_jars()
    scala = sources()
    key = stamp(scala, jars)
    classes = os.path.join(OUT, "classes-" + key)
    if os.path.isdir(classes):
        return classes, [classes] + jars, key
    os.makedirs(OUT, exist_ok=True)
    tmp = classes + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cp = os.pathsep.join(jars)
    print("[build] compiling %d Scala sources" % len(scala), file=log)
    argfile = os.path.join(tmp, "..", "sources-%d.txt" % os.getpid())
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala) + "\n")
    try:
        r = subprocess.run(
            [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
             "-usejavacp:false", "-nowarn", "-classpath", cp, "-d", tmp,
             "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        os.rename(tmp, classes)
        # older builds are stale once the sources change
        for old in glob.glob(os.path.join(OUT, "classes-*")):
            if old != classes and ".tmp" not in old:
                shutil.rmtree(old, ignore_errors=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(argfile):
            os.remove(argfile)
    return classes, [classes] + jars, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)

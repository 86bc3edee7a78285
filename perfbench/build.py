#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala, with src/main/resources) together with the benchmark
driver (perfbench/src) into one jar, with the Scala compiler that ships in
Spark's jars directory.

    python3 perfbench/build.py      # prints the build directory

Output goes to .bench_build/build-<hash of the sources>/ at the root of the
checkout, so a build is reused until a source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler-") for j in jars):
        raise SystemExit(f"build: no scala-compiler jar under {home}/jars")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources not found at {PROGRAM_SRC}")
    files = []
    for top in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile if needed; return (build directory, runtime classpath)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    jar = os.path.join(out, "program.jar")
    cp = os.pathsep.join([jar] + jars)
    if os.path.exists(jar):
        return out, cp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    compiler = os.pathsep.join(
        j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-")))
    with open(os.path.join(tmp, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", classes,
           "@" + os.path.join(tmp, "sources.txt")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(os.path.join(tmp, "program.jar"), "w") as z:
        for top in (classes, RESOURCES):
            for d, _, names in os.walk(top):
                for n in sorted(names):
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, top))
    shutil.rmtree(classes)
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, cp


if __name__ == "__main__":
    print(build()[0])

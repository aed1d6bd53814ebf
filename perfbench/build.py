#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark driver (perfbench/scala) with the Scala compiler that ships
among the Spark jars the engine builds against, into one jar under
.bench_build/.

Usage: python3 perfbench/build.py   (from the repository root)

The build directory is keyed by a hash of every source file, so a build
is reused until a source changes. Prints the runtime classpath.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """The jars the engine's own build compiles against: $SPARK_HOME/jars,
    else the `unmanagedBase` directory named in build.sbt."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                d = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("build: set SPARK_HOME, or run from a checkout whose "
                             "build.sbt names the Spark jars (unmanagedBase)")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {d}")
    return jars


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "scala")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"build: missing source directory {d}")
    out = []
    for d in dirs:
        for dp, _, fs in os.walk(d):
            out += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build(root="."):
    """Compiles if needed and returns the classpath (list of entries)."""
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    key = h.hexdigest()[:16]
    base = os.path.join(root, BUILD_DIR)
    out = os.path.join(base, f"build-{key}")
    jar = os.path.abspath(os.path.join(out, "app.jar"))
    cp = [jar] + jars
    if os.path.exists(jar):
        return cp
    os.makedirs(base, exist_ok=True)
    for old in glob.glob(os.path.join(base, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("-classpath\n" + os.pathsep.join(jars) + "\n")
        f.write("-d\n" + classes + "\n-nowarn\n")
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    # one jar, so the class-data-sharing archive can cover the engine too
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for dp, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(dp, f)
                z.write(p, os.path.relpath(p, classes))
    os.replace(jar + ".tmp", jar)
    return cp


if __name__ == "__main__":
    print(os.pathsep.join(build(".")))

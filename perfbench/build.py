#!/usr/bin/env python3
"""Builds the program and the benchmark's JVM side from source.

Compiles the repository's `src/main/scala` together with `perfbench/scala`
with the Scala compiler that ships in Spark's jars directory, into
`.bench_build/classes` under the checkout root. A build is reused while the
sources and compiler are unchanged (a hash stamp), so only the first run in
a checkout pays for it.

    python3 perfbench/build.py            # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def _spark_jars():
    """Spark's jars directory, under SPARK_HOME."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("SPARK_HOME is not set: the build needs Spark's jars")
    return os.path.join(home, "jars")


SPARK_JARS = _spark_jars()


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    resources = os.path.join(root, "src/main/resources")
    return main + bench, resources


def _compiler_jars():
    jars = [glob.glob(os.path.join(SPARK_JARS, f"scala-{p}-2.13*.jar"))
            for p in ("compiler", "library", "reflect")]
    if not all(jars):
        raise SystemExit(f"no Scala 2.13 compiler jars under {SPARK_JARS}")
    return [j[0] for j in jars]


def build(root):
    """Returns the runtime classpath, compiling first if the stamp is stale."""
    sources, resources = _sources(root)
    if not any("/src/main/scala/" in s for s in sources):
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    compiler = _compiler_jars()
    digest = hashlib.sha256()
    for path in sources + compiler:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    for path in sorted(glob.glob(os.path.join(resources, "**/*"), recursive=True)):
        if os.path.isfile(path):
            digest.update(path.encode())
            with open(path, "rb") as f:
                digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    classpath = f"{out}:{SPARK_JARS}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    staging = out + ".staging"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{SPARK_JARS}/*",
           "-d", staging] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit("build failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, staging, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(staging, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd()))

#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (benchmark/src) in one scalac pass against the Spark
jars, into `.bench_build/classes-<hash of every source>`.

A build is reused while no source changes. Run it from the repository root:

    python3 benchmark/build.py

The Scala compiler is the one Spark ships (scala-compiler among the Spark
jars: $SPARK_HOME/jars, else the `unmanagedBase` that build.sbt declares), so
no build tool and no network are needed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            declared = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not declared:
            raise BuildError("set SPARK_HOME: build.sbt declares no unmanagedBase")
        jars = declared.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(root, "benchmark", "src", "*.scala")))
    if not harness:
        raise BuildError("no benchmark sources under benchmark/src")
    return program + harness


def ensure(root):
    """Returns the classes directory for the current sources, compiling first
    when no build of exactly these sources exists."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    base = os.path.join(root, BUILD_DIR)
    out = os.path.join(base, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars(root)
    os.makedirs(base, exist_ok=True)
    for stale in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = f"{out}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    print(f"building {len(srcs)} sources into {os.path.relpath(out, root)}", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Xss8m", "-Xmx2g",
           "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)

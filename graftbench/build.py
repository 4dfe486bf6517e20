#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (graftbench/src) into graftbench/.build/<key>/classes, with
the Scala compiler that ships in the Spark distribution (SPARK_HOME, or the
jar directory the engine's build.sbt names). The key hashes every source
file, so an unchanged tree is never rebuilt and a changed one always is.

Usage: python3 graftbench/build.py     (prints the classes directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(BENCH, ".build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's own build
    compiles against (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        return ""
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m else ""


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_key(srcs):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"graftbench: engine sources not found under {ENGINE_SRC}")
    if not os.path.isdir(spark_jars()):
        raise SystemExit(f"graftbench: no Spark distribution at {spark_jars()}")
    srcs = sources()
    key = build_key(srcs)
    target = os.path.join(BUILD, key)
    classes = os.path.join(target, "classes")
    if os.path.exists(os.path.join(target, "OK")):
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars,
           "@" + argfile]
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"graftbench: compile failed ({r.returncode})")
    open(os.path.join(target, "OK"), "w").close()
    return classes


def classpath(classes):
    return os.pathsep.join([classes, RESOURCES, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build())

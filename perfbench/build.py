#!/usr/bin/env python3
"""The benchmark's build: compiles the repository's main sources and the
benchmark's own sources (perfbench/src) into one class directory.

Usage (from the repository root):
  python3 perfbench/build.py          # prints the runtime classpath

It compiles with the Scala compiler and against the jars the repository's
build.sbt names (`unmanagedBase`, with `scalaVersion`), in one compiler JVM,
with no dependency resolution and nothing written outside
.bench_build/perfbench/. The classes are keyed by a hash of the sources and
reused while the sources are unchanged.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_ROOTS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
COMPILE_LIMIT_S = 600


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    return sorted(os.path.join(d, f) for r in SOURCE_ROOTS
                  for d, _, fs in os.walk(r) for f in fs if f.endswith(".scala"))


def build_settings():
    """The jar directory and Scala version from the repository's build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    if not base or not version:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase or scalaVersion")
    return base.group(1), version.group(1)


def stamp(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()[:16]


def build():
    """Compile if the sources changed; return the runtime classpath."""
    files = sources()
    if not files:
        raise SystemExit("perfbench: no sources to build")
    jar_dir, version = build_settings()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    compiler = [os.path.join(jar_dir, f"scala-{m}-{version}.jar")
                for m in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if j not in jars]
    if missing:
        raise SystemExit(f"perfbench: no Scala {version} compiler jars: {missing}")
    out = os.path.join(BUILD, "classes-" + stamp(files, jars))
    classpath = os.pathsep.join([out] + jars)
    if os.path.exists(os.path.join(out, "_DONE")):
        return classpath

    log(f"building {len(files)} sources (scalac {version})")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = os.path.join(BUILD, "build-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(tmp)
    args = os.path.join(tmp, "args.txt")
    with open(args, "w") as f:
        f.write("\n".join(f'"{a}"' for a in ["-nowarn", "-usejavacp:false", "-classpath",
                                               os.pathsep.join(jars), "-d", out] + files) + "\n")
    try:
        res = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "@" + args],
            stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr,
            timeout=COMPILE_LIMIT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: build failed")
    open(os.path.join(out, "_DONE"), "w").close()
    return classpath


if __name__ == "__main__":
    print(build())

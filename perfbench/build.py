#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) with the Scala compiler that
ships in Spark's jars directory, into $CARGO_TARGET_DIR or .bench_build.

A stamp of the sources skips the compile when nothing changed. The
SHA-256 of the compiled program classes is recorded with every result,
so two sides of an A/B can never silently run the same program.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("build: SPARK_HOME must name a Spark 4.1 distribution")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {jars}")
    return jars


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def tree_hash(paths, rel):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, rel).encode())
        h.update(b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_scala(srcs, out, classpath, jars):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp]
    if classpath:
        cmd += ["-cp", classpath]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit(f"build: scalac failed for {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def stamped(out, stamp):
    f = out + ".stamp"
    return os.path.isdir(out) and os.path.exists(f) and open(f).read() == stamp


def build():
    """Compile whatever is stale; return the class directories and the
    program class hash."""
    src = os.path.join(ROOT, "src", "main", "scala")
    prog_src = sources(src)
    if not prog_src:
        raise SystemExit(f"build: no program sources under {src}")
    jars = spark_jars()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    classes = os.path.join(bdir, "classes")
    prog_stamp = tree_hash(prog_src, ROOT)
    if not stamped(classes, prog_stamp):
        compile_scala(prog_src, classes, None, jars)
        class_files = [p for p in glob.glob(os.path.join(classes, "**", "*"), recursive=True)
                       if os.path.isfile(p)]
        with open(classes + ".sha256", "w") as f:
            f.write(tree_hash(sorted(class_files), classes))
        with open(classes + ".stamp", "w") as f:
            f.write(prog_stamp)
    harness = os.path.join(bdir, "harness")
    h_src = sources(os.path.join(HERE, "harness"))
    h_stamp = prog_stamp + tree_hash(h_src, ROOT)
    if not stamped(harness, h_stamp):
        compile_scala(h_src, harness, classes, jars)
        with open(harness + ".stamp", "w") as f:
            f.write(h_stamp)
    with open(classes + ".sha256") as f:
        sha = f.read().strip()
    return {"classes": classes, "harness": harness, "jars": jars,
            "classes_sha256": sha, "source_sha256": prog_stamp}


if __name__ == "__main__":
    print(build())

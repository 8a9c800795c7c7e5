#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources and the
benchmark harness with the Scala compiler that ships in the Spark jars dir
(the dir `build.sbt` uses as its unmanaged base, or $SPARK_HOME/jars), with
no sbt and no network.

Usage: python3 perfbench/build.py   (from the repository root)

Output goes under $CARGO_TARGET_DIR (default `.bench_build`), keyed by a
hash of every source file, so an unchanged tree is not rebuilt. Prints the
two class directories, one a line.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """$SPARK_HOME/jars if set, else the unmanaged base build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: build.sbt names no unmanagedBase and SPARK_HOME is unset")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars}")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    return prog, harness


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join(classpath + [f"{jars}/*"])] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed for {out}")


def build(root):
    """(program classes dir, harness classes dir, Spark jars dir)."""
    jars = spark_jars(root)
    prog, harness = sources(root)
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), h.hexdigest()[:16])
    prog_out, harness_out = os.path.join(base, "classes"), os.path.join(base, "harness")
    if not os.path.exists(os.path.join(base, "ok")):
        shutil.rmtree(base, ignore_errors=True)
        _scalac(jars, [], prog_out, prog)
        _scalac(jars, [prog_out], harness_out, harness)
        open(os.path.join(base, "ok"), "w").close()
    return prog_out, harness_out, jars


if __name__ == "__main__":
    p, hcls, _ = build(os.getcwd())
    print(p)
    print(hcls)

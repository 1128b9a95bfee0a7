#!/usr/bin/env python3
"""Compile graft (src/main) and the benchmark (perfbench/src) into one
class directory, with the Scala compiler that ships in Spark's jars
($SPARK_HOME/jars, or the installation of the spark-submit on PATH).

Usage: python3 perfbench/build.py      (from the repository root)

Output goes to $CARGO_TARGET_DIR/classes, or .bench_build/classes when the
variable is unset. A stamp of the sources' contents skips the compile
when nothing changed. Exits non-zero when the program sources are absent.
"""
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")
SOURCES = ["src/main/scala", "perfbench/src"]
RESOURCES = "src/main/resources"


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def files_under(root, suffix=""):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def build():
    """Return the class directory, compiling first if the sources changed."""
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("build: src/main/scala not found; run from the repository root")
    srcs = [f for root in SOURCES for f in files_under(root, ".scala")]
    res = files_under(RESOURCES) if os.path.isdir(RESOURCES) else []
    h = hashlib.sha256()
    for f in srcs + res:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.isdir(out) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xmx1536m", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    log = os.path.join(build_dir(), "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"build: scalac failed (exit {rc}); log in {log}")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    os.makedirs(build_dir(), exist_ok=True)
    print(build())

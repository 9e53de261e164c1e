"""Build file of the benchmark harness.

Compiles the program (``src/main/scala``) together with the harness
(``bench/harness/src``) in one scalac run, against the Spark jars the
program's own build uses (``unmanagedBase`` in build.sbt, or
``$SPARK_HOME/jars``). The Scala compiler is the one those jars ship, so no
build tool or dependency download is involved.

Output goes to ``$CARGO_TARGET_DIR`` (default ``.bench_build``) under the
repository root; a stamp of every source's content skips the compile when
nothing changed.

    python3 bench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spark_jars():
    """``$SPARK_HOME/jars``, else the jar directory build.sbt names."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


SPARK_JARS = spark_jars()


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(BENCH, "harness/src/**/*.scala"),
                                   recursive=True))


def build():
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(SPARK_JARS))).encode())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())

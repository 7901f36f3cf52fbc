"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the benchmark's JVM side (`bench/scala`) with the Scala compiler that
ships in Spark's jars, into `<build dir>/classes`.

    python3 bench/build.py            # build dir: $CARGO_TARGET_DIR or .bench_build

A stamp of every source file's path, size and mtime skips the compile
when nothing changed.
"""

import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = ("src/main/scala", "bench/scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit("no Spark jars at %s (set SPARK_HOME)" % jars)
    return jars


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    out = []
    for top in SOURCES:
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            raise SystemExit("missing source directory %s" % top)
        for dirpath, _, files in os.walk(base):
            out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def build():
    """Compile if needed; returns the classpath to run the benchmark with."""
    files = sources()
    out = build_dir()
    classes = os.path.join(out, "classes")
    jars = spark_jars()
    cp = classes + os.pathsep + os.path.join(jars, "*")
    want = stamp(files)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(['"%s"' % x for x in files]) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit("compile failed (%d)" % r.returncode)
    with open(stamp_file, "w") as f:
        f.write(want)
    return cp


if __name__ == "__main__":
    print(build())
    sys.exit(0)

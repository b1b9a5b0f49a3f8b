"""Build file of the benchmark: compiles the engine's main sources
(``src/main/scala``) together with the benchmark harness
(``perfbench/src``) with the Scala compiler that ships in Spark's jar
directory, into ``.bench_build/perfbench/classes`` under the checkout,
and copies the engine's ``src/main/resources`` beside the classes.

The repository's own sbt build is neither read nor changed. A stamp of
the source contents skips the compile when nothing changed.

    python3 perfbench/build.py      # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark/Scala toolchain under {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a repository checkout")
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"),
                               recursive=True))
    return engine + harness


def resources():
    """Non-source files sbt would put on the classpath (service registrations)."""
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(f for f in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(f)), base


def build():
    """Compile if the sources changed; return the classes directory."""
    files = sources()
    res, res_base = resources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files + res:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return CLASSES
    os.makedirs(OUT, exist_ok=True)
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", staging] + files,
                       cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    for f in res:
        dst = os.path.join(staging, os.path.relpath(f, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return CLASSES


if __name__ == "__main__":
    print(build())

"""Build file of the benchmark harness.

Compiles the program's main sources (src/main/scala) together with the
harness (benchmark/harness) with the Scala compiler that ships among the
Spark jars the program's own build compiles against (build.sbt's
`unmanagedBase`, else $SPARK_HOME/jars). Classes go to
`.bench_build/classes`; a fingerprint of every input skips the build when
nothing changed.

Usage: python3 benchmark/build.py   (prints the run classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "fingerprint")


def jars_dir() -> str:
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(build_sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sys.exit("build: no Spark jars (build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "benchmark/harness/*.scala")))
    if not main:
        sys.exit("build: no program sources under src/main/scala")
    return main + harness


def fingerprint(srcs, jars) -> str:
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(log=sys.stderr) -> str:
    """Compiles when needed; returns the classpath to run the harness."""
    jars = jars_dir()
    srcs = sources()
    fp = fingerprint(srcs, jars)
    classpath = f"{CLASSES}:{jars}/*"
    if os.path.exists(STAMP) and open(STAMP).read() == fp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-encoding", "UTF-8", "-d", CLASSES] + srcs
    print(f"build: compiling {len(srcs)} Scala sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    with open(STAMP, "w") as f:
        f.write(fp)
    return classpath


if __name__ == "__main__":
    print(build())

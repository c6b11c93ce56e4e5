"""Build file of the benchmark: compiles the engine's sources
(``src/main/scala``) together with the harness (``perfbench/scala``)
with the Scala compiler that ships in Spark's jar directory, into
``.bench_build/classes`` of the checkout.

A stamp over every source file's path and bytes skips the compile when
nothing changed. Run on its own with ``python3 perfbench/build.py``.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's own sbt
    build names (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    return ""


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return engine, harness


def build():
    """Compile if needed; return the runtime classpath. Raises
    SystemExit with a message when the engine's sources are missing."""
    engine, harness = sources()
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a full checkout")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jar directory found ({jars!r}); set SPARK_HOME")
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jar_list = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-classpath", jar_list, "-d", CLASSES, "-nowarn",
                           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))]
                          + engine + harness))
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "@" + argfile],
                       cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())

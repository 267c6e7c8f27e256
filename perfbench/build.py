"""Build file of the benchmark: compiles the engine's main sources together
with the harness under perfbench/src into one class directory.

It calls the Scala compiler that ships in Spark's jar directory directly,
so it needs no build tool, no network and no state outside the checkout.
A stamp of the source hashes skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jar directory the project's own build compiles against
    (`unmanagedBase` in build.sbt), else `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("perfbench: no build.sbt with unmanagedBase here and no SPARK_HOME; "
                     "run from a checkout of the repository")


SPARK_JARS = spark_jars()


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile if needed; return the class directory."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"perfbench: engine sources not found under {ENGINE_SRC}; "
                         "run from a checkout of the repository")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars in {SPARK_JARS} (set SPARK_HOME)")
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes-" + stamp[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes
    if os.path.isdir(BUILD_DIR):  # drop the classes of other source states
        for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes, exist_ok=True)
    args = os.path.join(BUILD_DIR, "scalac-args.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath(classes),
           "-d", classes, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"perfbench: compile failed (exit {r.returncode})")
    open(os.path.join(classes, ".complete"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())

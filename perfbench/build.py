"""Build file of the benchmark: compiles the library's sources together with
the harness into one class directory, using the Scala compiler that ships
with Spark. The build is skipped when no source changed since the last one.

    python3 perfbench/build.py        # prints the class directory

Run from the root of a checkout; fails (exit 2) when the library sources
are not there.
"""
import glob
import hashlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the first Spark
    installation whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(p) for p in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation found; set SPARK_HOME")


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    return lib + sorted(glob.glob(os.path.join(ROOT, "perfbench/harness/*.scala")))


def classpath(classes):
    return f"{classes}:{spark_jars()}/*"


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    os.makedirs(classes, exist_ok=True)
    listing = os.path.join(OUT, "sources.txt")
    with open(listing, "w") as f:
        f.write("\n".join(srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={OUT}", "-cp", f"{spark_jars()}/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + listing],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    open(os.path.join(classes, ".done"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())

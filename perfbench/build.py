"""Build file of the benchmark: compiles the program's main sources and the
harness under perfbench/src with the Scala compiler that ships in the Spark
distribution's jar directory (no sbt, no dependency resolution).

The classes land in .bench_build/perfbench/classes-<hash>, where the hash
covers every compiled source, so a changed source always rebuilds and an
unchanged tree reuses the earlier build.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The jar directory of the Spark distribution: $SPARK_HOME/jars, else
    the first one beside a spark-submit on PATH that holds a Scala 2.13
    compiler (a pip-installed pyspark has no such jar)."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark distribution found; set SPARK_HOME")


SPARK_JARS = spark_jars()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def scala_jar(name):
    hits = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13.*.jar")))
    if not hits:
        raise SystemExit(f"perfbench: no {name} jar in {SPARK_JARS}")
    return hits[-1]


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(os.path.basename(scala_jar("scala-compiler")).encode())
    return h.hexdigest()


def ensure():
    """Returns (classes dir, source hash), compiling first if needed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    files = sources()
    digest = source_hash(files)
    classes = os.path.join(OUT, f"classes-{digest[:16]}")
    if os.path.isdir(classes):
        return classes, digest
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(scala_jar(n) for n in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    args_file = os.path.join(OUT, "scalac-args.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    rc = subprocess.call(
        ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
         "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
         "-classpath", os.path.join(SPARK_JARS, "*"), "-d", tmp, f"@{args_file}"],
        stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    os.rename(tmp, classes)
    return classes, digest


if __name__ == "__main__":
    print(ensure()[0])

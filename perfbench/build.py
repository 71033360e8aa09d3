"""Build file of the benchmark: compiles the program and the harness.

The program's main sources (`src/main/scala`) and the benchmark harness
(`perfbench/harness`) are compiled together with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes`. A stamp of
the sources' digest skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars() -> str:
    """Spark's jar directory: `$SPARK_HOME/jars`, else the one next to the
    `spark-submit` on the PATH.
    """
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root: str) -> list:
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit(f"build: no program sources under {root}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def classpath(root: str) -> str:
    """Runtime classpath: compiled classes, program resources, Spark jars."""
    return os.pathsep.join([
        os.path.join(root, ".bench_build", "classes"),
        os.path.join(root, "src", "main", "resources"),
        os.path.join(spark_jars(), "*")])


def build(root: str) -> float:
    """Compile if the sources changed; returns the seconds spent."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.monotonic()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
         "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.monotonic() - t0


if __name__ == "__main__":
    print(f"built in {build(os.getcwd()):.1f} s", file=sys.stderr)

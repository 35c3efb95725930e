"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark client (perfbench/src)
into one class directory under .bench_build/, with the Scala compiler
that ships in Spark's jar directory. The output is keyed by a hash of
every source file, so an unchanged tree is compiled once.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the one next to the
    spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")


def sources():
    files = []
    for base in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in files):
        sys.exit("perfbench: the program's sources (src/main/scala) are missing")
    return sorted(files)


def build():
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for stale in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + BUILD,
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850, cwd=BUILD)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())

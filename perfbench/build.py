"""Build for the benchmark: compiles the program's main sources together
with the harness under perfbench/src, using the Scala compiler that ships
in the Spark distribution (``$SPARK_HOME/jars``), into
``.bench_build/classes``. A stamp over every source skips the compile
when nothing changed.

Run directly (``python3 perfbench/build.py``) or through ``run.py``,
which builds on first use.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SCALA = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        sys.exit(f"build: no Spark distribution with Scala {SCALA} "
                 "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    main = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                     recursive=True)
    bench = glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    if not main or not bench:
        sys.exit("build: program or harness sources not found")
    return sorted(main) + sorted(bench)


def classpath():
    return f"{CLASSES}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def build():
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256(SCALA.encode())
    for s in srcs:
        digest.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={OUT}", "-cp", compiler,
                        "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                        "-classpath", os.path.join(jars, "*"), "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: compile failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())


if __name__ == "__main__":
    build()

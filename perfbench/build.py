"""Build file of the benchmark: compiles the program's main sources together
with the benchmark's own Scala harness, straight with the Scala compiler
shipped in the Spark distribution (no sbt start-up, no dependency
resolution — the program's only runtime dependency is Spark itself).

Classes land in `.bench_build/perfbench/classes-<hash>`, keyed by a hash of
every compiled source, so an unchanged tree is never rebuilt.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME, else the one
    holding `spark-submit` on the PATH, else the `pyspark` package's."""
    homes = [os.environ.get("SPARK_HOME")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"program sources not found: {main}")
    found = []
    for base in (main, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = spark_jars()
    tool_cp = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", tool_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp,
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed (exit {r.returncode})")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build())

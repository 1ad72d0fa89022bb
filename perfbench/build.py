"""Build file of the benchmark package: compiles the library's sources
(`src/main/scala`) and the benchmark harness (`perfbench/src`) together
with the Scala compiler that ships in Spark's jar directory, then dumps the
library's DuckDB twin SQL (`SparkEntry.oracleSql`) next to the classes.

The output lives in `.bench_build/<source hash>/`, so an unchanged tree is
built once. Spark is found through SPARK_HOME, else through `spark-submit`
on PATH.

Usage: python3 perfbench/build.py    (prints the build directory)
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

# what spark-submit passes to a Spark JVM on JDK 17 (the repo's build.sbt
# applies the same list to forked runs)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found: set SPARK_HOME or put "
                             "spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                           recursive=True))
    if not lib:
        raise BuildError("no library sources under src/main/scala: run "
                         "from the root of a flyqspark checkout")
    return lib + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                                  recursive=True))


def ensure():
    """Build if needed; returns (build dir, Spark jar dir)."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(OUT, h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "oracle_sql.json")):
        return out, jars
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    run(["java", "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.path.join(jars, "*"),
         "-d", os.path.join(tmp, "classes"), f"@{args_file}"])
    run(["java", *ADD_OPENS, "-cp", classpath(tmp, jars), "perfbench.Harness",
         "--dump-oracle", os.path.join(tmp, "oracle_sql.json")])
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, jars


def classpath(build, jars):
    return os.pathsep.join([os.path.join(build, "classes"),
                            os.path.join(jars, "*")])


def run(cmd):
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError(f"{cmd[0]} exited {p.returncode}:\n{p.stdout[-4000:]}")


if __name__ == "__main__":
    try:
        print(ensure()[0])
    except BuildError as e:
        sys.exit(f"build failed: {e}")

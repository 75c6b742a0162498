"""Build file of the benchmark harness.

Compiles the program's sources (`src/main/scala`) together with the
harness (`perfbench/harness`) with the Scala compiler that ships among
Spark's jars, into `.bench_build/classes-<digest>` under the checkout. The
digest covers every source file, so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# The module flags Spark needs when a session starts outside spark-submit
# (the same list as build.sbt's javaOptions).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found under {main}")
    files = []
    for top in (main, os.path.join(HERE, "harness")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root, log=sys.stderr):
    """Compile if needed; return the classpath to run the harness with."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, ".ok")):
        tmp = out + ".tmp%d" % os.getpid()
        os.makedirs(tmp)
        argfile = os.path.join(tmp, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs))
        print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        os.remove(argfile)
        open(os.path.join(tmp, ".ok"), "w").close()
        if os.path.exists(out):
            shutil.rmtree(tmp)
        else:
            os.rename(tmp, out)
    return out + os.pathsep + jars


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"[build] {e}")

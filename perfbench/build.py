"""Build file of the benchmark: compiles the program's main sources and the
benchmark harness with the Scala compiler that ships in the Spark
distribution, into `.bench_build/` at the root of the checkout.

A build is skipped when the stamp of its inputs (every source file's path and
content) matches the one recorded by the last successful build.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys



def _spark_home():
    """$SPARK_HOME, else the first distribution on PATH whose spark-submit
    sits next to a jars/ directory with spark-core in it."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.exists(submit) and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]


class BuildError(Exception):
    pass


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha1()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def _compile(name, srcs, classpath, out_root):
    out = os.path.join(out_root, name)
    stamp_file = out + ".stamp"
    stamp = _stamp(srcs) + ":" + ":".join(classpath)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = ":".join(classpath + [SPARK_JARS + "/*"])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", out] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{r.stdout}{r.stderr}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def build(root):
    """Compile program and harness; return the run-time class path."""
    program_src = _sources(os.path.join(root, "src", "main", "scala"))
    harness_src = _sources(os.path.join(root, "perfbench", "harness"))
    if not program_src:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"no Spark distribution at {SPARK_JARS!r}: set SPARK_HOME")
    out_root = os.path.join(root, ".bench_build", "classes")
    program = _compile("program", program_src, [], out_root)
    harness = _compile("harness", harness_src, [program], out_root)
    return [harness, program, SPARK_JARS + "/*"]


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        print(":".join(build(here)))
    except BuildError as e:
        sys.exit(str(e))

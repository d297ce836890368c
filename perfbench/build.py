"""Build file of the benchmark: compiles the engine (``src/main/scala``)
together with the benchmark's own JVM side (``perfbench/src``) with the
Scala compiler that ships in the Spark distribution, into
``.bench_build/classes-<digest of the sources>``. An unchanged tree is
not recompiled.

    python3 perfbench/build.py          # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark distribution's jar directory: ``$SPARK_HOME/jars``, or the
    one beside the ``spark-submit`` found on ``PATH``."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def scala_files():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory {os.path.relpath(d, ROOT)} is missing")
        files += sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile if needed; return the class directory."""
    files = scala_files()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar"))[0]
                for m in ("compiler", "library", "reflect")]
    cp = ":".join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-deprecation", "-encoding", "UTF-8", "-nowarn", "-d", out, "-classpath", cp,
           "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    open(os.path.join(out, ".done"), "w").close()
    return out


if __name__ == "__main__":
    print(build())

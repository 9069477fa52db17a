"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM program (perfbench/jvm) with the Scala compiler that ships in the
Spark distribution, against the Spark jars, into .bench_build/perfbench.jar
(a jar, not a class directory, so the JVM can archive its classes).

A build is skipped when a stamp of every source file's path and bytes
matches the last build. Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "perfbench.jar")
STAMP = os.path.join(OUT, "perfbench.jar.stamp")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler in {jars}")
    return jars


def sources():
    src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                       recursive=True))
    if not src:
        raise SystemExit("build: no engine sources under src/main/scala")
    return src + sorted(glob.glob(os.path.join(ROOT, "perfbench", "jvm", "*.scala")))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns (runtime classpath, build stamp); raises SystemExit when it
    cannot build."""
    files = sources()
    jars = spark_jars()
    cp = JAR + os.pathsep + os.path.join(jars, "*")
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return cp, want
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-encoding", "UTF-8",
           "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build: compilation failed")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                p = os.path.join(root, n)
                z.write(p, os.path.relpath(p, tmp))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp)
    with open(STAMP, "w") as f:
        f.write(want)
    return cp, want


if __name__ == "__main__":
    print(build()[0])

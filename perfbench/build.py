"""Build file of the benchmark package.

Compiles the program's main sources (`src/main/scala`, plus the resources
under `src/main/resources`) together with the
benchmark's own sources (`perfbench/scala`) using the Scala compiler that
ships in the Spark distribution's `jars/` directory, so the build needs no
build tool and writes nothing outside the checkout. Classes land in
`.bench_build/classes`; a digest of every source file decides whether a
rebuild is needed.

    python3 perfbench/build.py        # build (or confirm up to date)
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


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME, else the one
    holding the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found")
    return exe


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return main + own


def resources():
    base = os.path.join(ROOT, "src", "main", "resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)), base


def build():
    """Returns the classpath entries the benchmark runs with."""
    jars = spark_jars()
    srcs = sources()
    res, res_base = resources()
    h = hashlib.sha256()
    for s in srcs + res:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    cp = [CLASSES, os.path.join(jars, "*")]
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return cp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + OUT, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    for r in res:  # service registrations (the `colf` short name) and the like
        dst = os.path.join(CLASSES, os.path.relpath(r, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")

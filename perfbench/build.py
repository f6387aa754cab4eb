"""Build file of the benchmark harness.

Compiles graft's main sources together with the harness sources under
`perfbench/src` into `.bench_build/perfbench/classes-<digest>` with the
Scala compiler that ships in the Spark distribution (`$SPARK_HOME/jars`, or
the distribution that holds `spark-submit` on PATH). No sbt and no
dependency resolution are involved. A build is reused while the digest of
every source file is unchanged.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
GRAFT_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return jars


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    found = []
    for base in (GRAFT_SRC, HARNESS_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; return (classpath entries, source digest)."""
    jars = spark_jars()
    srcs = sources()
    sha = digest(srcs)
    classes = os.path.join(BUILD_DIR, f"classes-{sha[:16]}")
    classpath = [classes, GRAFT_RESOURCES, os.path.join(jars, "*")]
    if os.path.exists(os.path.join(classes, ".complete")):
        return classpath, sha
    os.makedirs(BUILD_DIR, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
                for m in ("compiler", "library", "reflect")]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    # no perf-data file and no temp files outside the build directory
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={BUILD_DIR}", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-classpath",
         os.path.join(jars, "*"), "-d", tmp, "@" + argfile],
        stdout=log, stderr=log)
    if proc.returncode != 0:
        shutil.rmtree(tmp)
        raise BuildError("scalac failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    return classpath, sha


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()[0]))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)

"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
and the benchmark's own (perfbench/src) with the Scala compiler that ships
with Spark, into <build dir>/classes. The repo's build.sbt is not used or
changed. A build is skipped when a stamp of every source file is unchanged.

    python3 perfbench/build.py     # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d)


def spark_jars():
    """$SPARK_HOME/jars if set, else the jar directory the repo's build.sbt
    names as its `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("no unmanagedBase in build.sbt; set SPARK_HOME")
    return m.group(1)


def sources():
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        out += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return out


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.path.join(build_dir(), "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath. Raises on failure."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise RuntimeError("engine sources not found under src/main/scala/graft; "
                           "run from the root of a graft checkout")
    if not glob.glob(os.path.join(spark_jars(), "spark-sql_*.jar")):
        raise RuntimeError("Spark jars not found under " + spark_jars())
    files = sources()
    bd = build_dir()
    cls = os.path.join(bd, "classes")
    stamp_file = os.path.join(bd, "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    shutil.rmtree(cls, ignore_errors=True)
    os.makedirs(cls, exist_ok=True)
    tmp = os.path.join(bd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    argfile = os.path.join(bd, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", cls, "@" + argfile]
    print("building: %d sources" % len(files), file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if r.returncode != 0:
        raise RuntimeError("compile failed (exit %d)" % r.returncode)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    try:
        print(build())
    except Exception as e:  # noqa: BLE001 - report and fail
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)

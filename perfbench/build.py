"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own sources with the Scala compiler that ships with Spark, into
`.bench_build/perfbench/classes` at the checkout root. A build is skipped
when a stamp of every source file and jar name is unchanged.

    python3 perfbench/build.py      # build, or confirm the build is up to date
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars_dir():
    """The Spark jar directory: `$SPARK_HOME/jars`, else the engine build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    build_sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(build_sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build_sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("engine sources not found under src/main/scala")
    files = []
    for base in (main, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def jars():
    found = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not found:
        raise BuildError("Spark jar directory is empty")
    return found


def stamp(srcs, jar_list):
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jar_list:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def compiler_classpath(jar_list):
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        match = [j for j in jar_list if re.match(name + r"-2\.13\.[0-9]+\.jar$", os.path.basename(j))]
        if not match:
            raise BuildError(f"{name} 2.13 jar not found next to Spark")
        parts.append(match[0])
    return os.pathsep.join(parts)


def build():
    """Compile if needed; return the runtime classpath."""
    srcs = sources()
    jar_list = jars()
    want = stamp(srcs, jar_list)
    runtime_cp = os.pathsep.join([CLASSES, os.path.join(spark_jars_dir(), "*")])
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want and os.path.isdir(CLASSES):
        return runtime_cp
    os.makedirs(OUT, exist_ok=True)
    staging = tempfile.mkdtemp(prefix="classes-", dir=OUT)
    argfile = os.path.join(staging, "scalac.args")
    out_dir = os.path.join(staging, "classes")
    os.makedirs(out_dir)
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out_dir, "-classpath", os.pathsep.join(jar_list)] + srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_classpath(jar_list),
           "scala.tools.nsc.Main", "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(staging, ignore_errors=True)
        raise BuildError("compile timed out")
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        sys.stderr.write(proc.stdout.decode(errors="replace")[-8000:])
        raise BuildError("compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(out_dir, CLASSES)
    shutil.rmtree(staging, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(want + "\n")
    return runtime_cp


if __name__ == "__main__":
    try:
        build()
        print(CLASSES)
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")

"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark's JVM side (`perfbench/jvm/src`)
into `.bench_build/classes` with the Scala compiler that ships among the
Spark jars. The build is skipped when a stamp over every source file is
unchanged.

The Spark jar directory is `$SPARK_HOME/jars` when SPARK_HOME is set,
otherwise the `unmanagedBase` directory the repository's `build.sbt` names.

Run directly to build: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCES = (os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "jvm", "src"))


class BuildError(RuntimeError):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.exists(sbt):
            raise BuildError("build.sbt not found and SPARK_HOME unset")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            raise BuildError("build.sbt names no unmanagedBase jar directory")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no jars in {d}")
    return jars


def sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_digest():
    """The stamp of the last build: a sha256 over every compiled source."""
    stamp = os.path.join(OUT, "classes.stamp")
    return open(stamp).read() if os.path.exists(stamp) else "unknown"


def classpath():
    return os.pathsep.join([CLASSES] + spark_jars())


def build():
    """Compile if needed; return the runtime classpath."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files + jars:
        h.update(f.encode())
        if f.endswith(".scala"):
            h.update(open(f, "rb").read())
    stamp = os.path.join(OUT, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for j in jars if re.search(r"scala-(compiler|library|reflect)-", j)]
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-classpath", os.pathsep.join(jars),
                           "-d", CLASSES] + files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "@" + args_file]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise BuildError("scalac failed:\n" + (p.stdout + p.stderr)[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(str(e))
    print("built", CLASSES)

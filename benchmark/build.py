"""Build step of the benchmark.

Compiles the repository's program sources (src/main/scala) together with
the benchmark's own sources (benchmark/scala) into one class directory under
.bench_build/, using the Scala compiler that ships with the Spark
distribution the repository builds against. The output directory is keyed
by a hash of every source file, so an unchanged tree is built once and a
changed one is rebuilt.
"""

import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the root build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("cannot find the Spark jars: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if exe and os.path.exists(exe) else "java"


def _sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return program + bench


def _compiler_cp(jars):
    cp = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(jars, name + "-2.13.*.jar")))
        if not found:
            raise BuildError(f"no {name} jar in {jars}")
        cp.append(found[-1])
    return os.pathsep.join(cp)


def ensure_built():
    """Return the class path (classes + Spark jars) of an up-to-date build."""
    jars = spark_jars()
    sources = _sources()
    h = hashlib.sha256(_compiler_cp(jars).encode())
    for path in sources:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    classpath = os.pathsep.join([out, os.path.join(jars, "*")])
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return classpath
        for stale in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD_DIR, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources) + "\n")
        cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", _compiler_cp(jars), "scala.tools.nsc.Main",
               "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if done.returncode != 0:
            raise BuildError("compilation failed:\n" + done.stdout[-4000:])
        resources = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        open(os.path.join(tmp, ".complete"), "w").close()
        os.rename(tmp, out)
    return classpath


if __name__ == "__main__":
    print(ensure_built())

"""Build file of the perfbench harness.

Compiles in two stages, each into its own classes directory and each
skipped when a digest over its sources is unchanged:

  1. graft's main sources (``src/main/scala``);
  2. the harness (``perfbench/harness/src``), against stage 1.

It uses the Scala compiler of the version the repo's ``build.sbt``
names and compiles against the Spark jars it names (``unmanagedBase``).
The compiler jars come from that jars directory too; scalac is called
directly rather than through sbt, so a build never resolves anything
over the network.

Usage: ``python3 perfbench/build.py [<out_dir>]`` prints the classpath.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# both stages together; a cold build of both took 28-31 s on a 4-core
# host, and run.py leaves 170 s of the 900 s a compiling command may take
BUILD_LIMIT_S = 720


class BuildError(Exception):
    pass


def _setting(build_sbt, pattern, what):
    m = re.search(pattern, build_sbt)
    if not m:
        raise BuildError(f"build.sbt names no {what}")
    return m.group(1)


def _compiler_jar(name, version, jars):
    path = os.path.join(jars, f"{name}-{version}.jar")
    if not os.path.isfile(path):
        raise BuildError(f"{name}-{version}.jar is not in {jars}")
    return path


def toolchain():
    """(scala version, spark jars dir, compiler classpath) from build.sbt."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        raise BuildError(f"no build.sbt at {ROOT}")
    with open(path) as f:
        sbt = f.read()
    version = _setting(sbt, r'scalaVersion\s*:=\s*"([^"]+)"', "scalaVersion")
    jars = _setting(sbt, r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', "unmanagedBase")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise BuildError(f"no Spark jars in {jars}")
    compiler = [_compiler_jar(n, version, jars)
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    return version, jars, compiler


def _sources(d):
    if not os.path.isdir(d):
        raise BuildError(f"missing source dir {d}")
    srcs = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not srcs:
        raise BuildError(f"no Scala sources in {d}")
    return srcs


def _stage(name, srcs, classpath, compiler, out_dir, salt, deadline):
    """Compiles ``srcs`` into ``out_dir/name`` unless its stamp matches;
    scalac is stopped at ``deadline`` (a ``time.monotonic()`` value)."""
    digest = hashlib.sha256(salt.encode())
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    classes = os.path.join(out_dir, name)
    stamp_file = classes + ".stamp"
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "-cp", os.pathsep.join(classpath), *srcs]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        raise BuildError(f"scalac ({name}) did not finish within the build's time limit")
    if proc.returncode != 0:
        raise BuildError(f"scalac ({name}) failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def build(out_dir):
    """Compiles what changed within BUILD_LIMIT_S; returns the runtime
    classpath entries."""
    deadline = time.monotonic() + BUILD_LIMIT_S
    version, jars, compiler = toolchain()
    os.makedirs(out_dir, exist_ok=True)
    spark = sorted(glob.glob(os.path.join(jars, "*.jar")))
    graft_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    harness_src = _sources(os.path.join(HERE, "harness", "src"))
    graft, graft_stamp = _stage("graft-classes", graft_src, spark, compiler, out_dir,
                                f"{version}\n{jars}\n", deadline)
    harness, _ = _stage("harness-classes", harness_src, [graft, *spark], compiler, out_dir,
                        graft_stamp, deadline)
    return [harness, graft, os.path.join(jars, "*")]


if __name__ == "__main__":
    target = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "target", "perfbench")
    try:
        print(os.pathsep.join(build(target)))
    except BuildError as e:
        sys.exit(str(e))

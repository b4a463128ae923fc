#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's (perfbench/scala) with the Scala compiler that ships in Spark's
jars directory, into .bench_build/perfbench/perfbench.jar, then writes a
class-data-sharing archive (perfbench.jsa) from one short benchmark run. A
content stamp skips both when no source changed.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py test     # build and run the benchmark's tests

Run from the repository root. The Spark jars ($SPARK_HOME/jars, or the
directory build.sbt names as unmanagedBase) are the compile and run
classpath; the Scala compiler is among them.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "scala")
TEST_SRC = os.path.join("perfbench", "test")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
ARCHIVE = os.path.join(BUILD_DIR, "perfbench.jsa")

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory build.sbt names
    as unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                              fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: no Spark jars directory found")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return os.path.join(jars, "*")


def sources(root, dirs):
    files = []
    for d in dirs:
        path = os.path.join(root, d)
        if not os.path.isdir(path):
            raise BuildError(
                f"{d} not found under {root}: run the benchmark from the "
                "root of a checkout of the repository")
        for dirpath, _, names in os.walk(path):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def compile_into(root, name, dirs, classpath):
    """Compile the .scala files under `dirs` into the jar BUILD_DIR/name.jar,
    unless a stamp shows the same sources were compiled into it already."""
    files = sources(root, dirs)
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    jar = os.path.join(root, BUILD_DIR, name + ".jar")
    stamp_file = jar + ".stamp"
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return jar
    tmp = os.path.join(root, BUILD_DIR, name + ".classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath] + files
    proc = subprocess.run(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                path = os.path.join(dirpath, n)
                z.write(path, os.path.relpath(path, tmp))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(tmp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return jar


def build(root):
    """Build the program and the benchmark into one jar, then the class
    archive that benchmark JVMs start from; return the run classpath."""
    jar = compile_into(root, "perfbench", [PROGRAM_SRC, BENCH_SRC],
                       spark_jars())
    classpath = os.pathsep.join([jar, spark_jars()])
    archive = os.path.join(root, ARCHIVE)
    if not (os.path.exists(archive) and
            os.path.getmtime(archive) >= os.path.getmtime(jar)):
        dump_archive(root, classpath, archive)
    return classpath


def dump_archive(root, classpath, archive):
    """Write a class-data-sharing archive of the classes one short benchmark
    run loads. JVMs that start from it skip most class loading and
    verification, about 6 s of each call's set-up on a 4-core host."""
    out = os.path.join(root, BUILD_DIR, "archive-run")
    tmp = archive + ".tmp"
    cmd = java_cmd(root, classpath, archive=False) + [
        f"-XX:ArchiveClassesAtExit={tmp}", "graft.perfbench.Bench",
        "--workload", "fresh_p4", "--seed", "0", "--seconds", "1",
        "--trace", "0", "--out", out]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.DEVNULL)
    shutil.rmtree(out, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(tmp):
        raise BuildError("the class archive run failed")
    os.replace(tmp, archive)


def java_cmd(root, classpath, heap="2g", archive=True):
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if archive:
        cmd.append("-XX:SharedArchiveFile=" + os.path.join(root, ARCHIVE))
    return cmd + [
        "-XX:-UsePerfData",  # no hsperfdata files outside the checkout
        f"-Xms{heap}", f"-Xmx{heap}",
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath,
    ]


def test(root):
    classpath = build(root)
    tests = compile_into(root, "perfbench-tests", [TEST_SRC], classpath)
    cmd = java_cmd(root, os.pathsep.join([tests, classpath]), heap="1g",
                   archive=False)
    return subprocess.run(cmd + ["graft.perfbench.BenchMathTest"],
                          cwd=root).returncode


def main(argv):
    root = os.getcwd()
    try:
        if argv[1:] == ["test"]:
            return test(root)
        if argv[1:]:
            print(__doc__, file=sys.stderr)
            return 2
        build(root)
        return 0
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv))

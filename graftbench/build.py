#!/usr/bin/env python3
"""The benchmark's build: compiles the program's sources (../src/main) and
the harness (./scala) with the Scala compiler that ships among Spark's jars,
into graftbench/target/classes.

    python3 graftbench/build.py      # prints the runtime classpath

The program's own sbt build takes Spark as unmanaged jars (its
`unmanagedBase`) and has no other compile dependency, so a plain scalac run
over the same sources and jars gives the same classes. It reads only the
checkout and Spark's jars and writes only under graftbench/target: no sbt
launcher, no dependency cache, nothing under the home directory. run.py calls `classpath()` and skips the
compile while the sources are unchanged.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
SOURCES = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(REPO, "src", "main", "resources")
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: the one the program's build names
    (`unmanagedBase := file("...")` in ../build.sbt), else $SPARK_HOME/jars."""
    dirs = []
    with open(os.path.join(REPO, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        dirs.append(m.group(1))
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in dirs:
        if os.path.isdir(jars) and any(f.startswith("scala-compiler-") for f in os.listdir(jars)):
            return jars
    raise BuildError("no Spark jars with a Scala compiler in %s" % (dirs or "(none named)"))


def java():
    """The JVM launcher: $JAVA_HOME/bin/java, else `java` on the PATH."""
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) else "java"


def walk(root):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


def source_stamp(files, jars):
    """Fingerprint of everything the compile reads."""
    h = hashlib.sha256(jars.encode())
    for p in files:
        st = os.stat(p)
        h.update(("%s %d %d\n" % (os.path.relpath(p, REPO), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def compile_into(classes, scala_files, jars):
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(TARGET, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(scala_files) + "\n")
    jar_glob = os.path.join(jars, "*")
    cmd = [java(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", jar_glob, "scala.tools.nsc.Main", "-nowarn", "-classpath", jar_glob,
           "-d", classes, "@" + args_file]
    try:
        p = subprocess.run(cmd, cwd=TARGET, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, text=True, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile took over %d s" % COMPILE_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        raise BuildError("compile failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)


def classpath():
    """Compiles once per source state and returns the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
        raise BuildError("no program sources at ../src/main/scala/graft; run from a full checkout")
    jars = spark_jars()
    scala_files = [p for root in SOURCES for p in walk(root) if p.endswith(".scala")]
    resources = walk(RESOURCES) if os.path.isdir(RESOURCES) else []
    classes = os.path.join(TARGET, "classes")
    cp = classes + os.pathsep + os.path.join(jars, "*")
    os.makedirs(TARGET, exist_ok=True)
    stamp_file = os.path.join(TARGET, "stamp.txt")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp(scala_files + resources, jars)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return cp
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        compile_into(classes, scala_files, jars)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        sys.exit("graftbench build: %s" % e)

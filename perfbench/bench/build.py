"""Compile the program (src/main/scala) and the benchmark's JVM side
(perfbench/scala) with the Scala compiler that ships in the Spark jars.

The classes land in <build dir>/classes, stamped with a hash of every
source file, so a checkout compiles once and later runs reuse it.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)

JDK_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def spark_jars(root: str) -> str:
    """Classpath entry for the Spark jars: $SPARK_HOME/jars, else the
    directory the repository's build.sbt names as `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME or name unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return os.path.join(jars, "*")


def sources(root: str) -> list:
    files = []
    for d in (os.path.join(root, "src/main/scala"), os.path.join(BENCH_DIR, "scala")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not glob.glob(os.path.join(root, "src/main/scala/graft/*.scala")):
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return sorted(files)


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root: str, build_dir: str) -> str:
    """Return the classes directory, compiling first if sources changed."""
    files = sources(root)
    jars = spark_jars(root)
    classes = os.path.join(build_dir, "classes")
    want = stamp(files)
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + files
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError("scalac failed")
    with open(os.path.join(tmp, "STAMP"), "w") as fh:
        fh.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def java_cmd(root: str, classes: str, heap: str, tmpdir: str) -> list:
    return (["java"] + JDK_OPENS +
            [f"-Xmx{heap}", f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.level=error",
             "-cp", os.pathsep.join([classes, spark_jars(root)])])

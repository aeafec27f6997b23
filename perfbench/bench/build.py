"""Builds the program and the harness from source with the Scala compiler
that ships in Spark's jars, into .bench_build/ at the checkout root.

The build is keyed by a hash of every source file, so a checkout is
compiled once and a changed source triggers a rebuild.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS_SRC = os.path.join(os.path.dirname(HERE), "jvm", "src")

# Spark 4 on JDK 17 outside spark-submit needs these, as the repo's
# build.sbt sets them for `sbt run`.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HARNESS_SRC, "**", "*.scala"), recursive=True))
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_built(root, timeout):
    """Compile if needed; return (classpath, source hash)."""
    files = sources(root)
    stamp = source_hash(files)
    build = os.path.join(root, ".bench_build")
    classes = os.path.join(build, "classes")
    stamp_file = os.path.join(build, "stamp")
    jars = os.path.join(spark_jars(), "*")
    classpath = classes + os.pathsep + jars
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath, stamp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
         "-d", classes, "-classpath", jars, "@" + args_file],
        capture_output=True, text=True, timeout=timeout)
    if proc.returncode != 0:
        raise RuntimeError("compile failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, stamp


def java_command(classpath, heap, work, main, *args):
    """The harness JVM's command line; every file Spark writes goes under work."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", f"-Xmx{heap}", f"-Xms{heap}", "-Xss8m", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", classpath, main, *args]

"""Build file of the benchmark.

1. Compiles the program (src/main/scala) and the benchmark's own Scala
   sources (perfbench/src) with the Scala compiler that ships among the
   Spark jars, and packs the classes into one jar.
2. Runs every workload once on tiny inputs (graft.perfbench.Train) in a JVM
   that dumps the classes it loaded into a class-data-sharing archive.
   Benchmark JVMs map that archive instead of loading and verifying Spark's
   classes again, which takes several seconds off every run's set-up. A
   JVM that cannot use the archive warns and loads classes as usual.

Both steps are skipped when a stamp of every source file's path and bytes
matches the previous build. Usage: python3 perfbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCALA_VERSION = "2.13.17"
JVM_HEAP = "4g"
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sys.exit("SPARK_HOME is not set; it must name a Spark 4 install")
    return os.path.join(home, "jars")


def testdata_dir():
    return os.environ.get("PERFBENCH_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))


def java_command(build_dir, main, args, tmp, cds_flag):
    """The JVM command line shared by the training run and benchmark runs
    (the archive is only valid for an identical class path)."""
    cp = os.path.join(build_dir, "perfbench.jar") + os.pathsep + os.path.join(spark_jars(), "*")
    return (["java"] + [x for a in ADD_OPENS for x in ("--add-opens", a)] +
            [f"-Xmx{JVM_HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", cds_flag,
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args)


def archive_path(build_dir):
    return os.path.join(build_dir, "classes.jsa")


def sources():
    files = []
    for base in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(ROOT, base, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.py")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_jar(build_dir, files):
    jars = spark_jars()
    compiler = ":".join(os.path.join(jars, f"scala-{j}-{SCALA_VERSION}.jar")
                        for j in ("compiler", "library", "reflect"))
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    subprocess.run(["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={build_dir}", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes,
                    "@" + args_file], check=True)
    with zipfile.ZipFile(os.path.join(build_dir, "perfbench.jar"), "w") as jar:
        for dirpath, dirs, names in sorted(os.walk(classes)):
            dirs.sort()
            for n in sorted(names):
                p = os.path.join(dirpath, n)
                jar.write(p, os.path.relpath(p, classes))


def train(build_dir):
    work = os.path.join(build_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    base = os.path.join(testdata_dir(), "sf0.001")
    for workload in ("corpus", "stream"):
        gen.generate(base, os.path.join(work, "data", workload), workload, 0)
    gen.generate(base, os.path.join(work, "control"), "control", 0)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    cmd = java_command(build_dir, "graft.perfbench.Train",
                       [os.path.join(work, "data"), os.path.join(work, "control"),
                        os.path.join(work, "out"), cpus],
                       tmp, f"-XX:ArchiveClassesAtExit={archive_path(build_dir)}")
    with open(os.path.join(build_dir, "train.log"), "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=tmp, check=True)
    shutil.rmtree(work)


def build(build_dir):
    """Compiles and trains when any source changed."""
    files = sources()
    if not any(f.startswith(os.path.join(ROOT, "src", "main")) for f in files):
        sys.exit("no program sources under src/main/scala")
    os.makedirs(build_dir, exist_ok=True)
    stamp_file = os.path.join(build_dir, "build.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    if os.path.exists(archive_path(build_dir)):
        os.remove(archive_path(build_dir))
    compile_jar(build_dir, files)
    train(build_dir)
    with open(stamp_file, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build", "perfbench"))

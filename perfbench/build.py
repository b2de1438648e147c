"""Build step of the benchmark: compiles the program (the repo's src/main)
together with the harness sources under perfbench/src into one jar,
generates the sf0.1 dataset the workloads read, and records a JVM
class-data-sharing archive. Outputs land in perfbench/.build and are reused
until a source file changes.

Offline by construction: the only inputs are the repo sources, the Scala
compiler and Spark jars the root build compiles against ($SPARK_HOME/jars,
else build.sbt's unmanagedBase), and python3.

    python3 perfbench/build.py        # build (or confirm the cached build)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
SCALA_VERSION = "2.13.17"

JAVA_OPENS = [
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
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the root build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError as e:
        raise BuildError(f"cannot read build.sbt: {e}")
    if not m:
        raise BuildError("build.sbt names no unmanagedBase and SPARK_HOME is unset")
    return m.group(1)


def java_opts():
    """JVM flags of every benchmark JVM: a fixed 3 GB heap, and the module
    openings Spark needs when started outside spark-submit."""
    opts = ["-Xms3g", "-Xmx3g"]
    for p in JAVA_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts


def classpath(first):
    return first + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    """Every input of the build, as sorted absolute paths."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    out = []
    for r in roots:
        if not os.path.isdir(r):
            raise BuildError(f"missing source tree {os.path.relpath(r, ROOT)}")
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files]
    return sorted(out) + [os.path.abspath(__file__)]


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run(cmd, log, **kw):
    with open(log, "ab") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT, **kw)
    if rc != 0:
        with open(log, "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        raise BuildError(f"{cmd[0]} exited {rc}:\n{tail}")


def build():
    """Return (app_jar, data_dir), building them if the stamp changed.

    Builds in place and writes the stamp last, so an interrupted build is
    redone. The class-data-sharing archive is recorded from one short
    etl_load run; it cuts JVM and Spark start-up in every later run."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    jar = os.path.join(BUILD, "app.jar")
    data = os.path.join(BUILD, "sf0.1")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return jar, data
    jars = [os.path.join(spark_jars(), f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.exists(j):
            raise BuildError(f"missing {j}")
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    scratch = os.path.join(BUILD, "scratch")
    os.makedirs(classes)
    os.makedirs(scratch)
    log = os.path.join(BUILD, "build.log")
    scala = [f for f in files if f.endswith(".scala")]
    run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", classpath(classes)] + scala, log)
    shutil.copytree(os.path.join(ROOT, "src", "main", "resources"), classes,
                    dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in os.walk(classes):
            for f in fs:
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    jvm = ["java"] + java_opts() + [
        f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
        f"-Dderby.system.home={scratch}"]
    # The dataset comes from the program's own deterministic generator
    # (xxhash64-keyed draws, identical across runs and core counts), so
    # the stored query expectations stay valid.
    run(jvm + ["-cp", classpath(jar), "graft.GenData", "0.1", data], log,
        cwd=scratch, env=dict(os.environ, SPARK_GRAFT_CPUS="4"))
    run(jvm + [f"-XX:ArchiveClassesAtExit={os.path.join(BUILD, 'app.jsa')}",
               "-cp", classpath(jar), "perfbench.Main",
               "--workload", "etl_load", "--seed", "0", "--seconds", "0",
               "--trace", "0", "--data", data, "--work", scratch,
               "--out", os.path.join(scratch, "r.json"), "--cpus", "4",
               "--bench", BENCH], log, cwd=scratch)
    shutil.rmtree(scratch)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return jar, data


if __name__ == "__main__":
    try:
        c, d = build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(c)
    print(d)

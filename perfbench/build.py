"""Build file of the benchmark: compiles the program and the harness.

The program's main sources (src/main/scala) and the harness
(perfbench/scala) compile together with the Scala compiler that ships
among the Spark jars, into .bench_build/bench.jar at the root of the
checkout. A training run then executes one operation of the lake
workload and dumps the classes it loaded into a class-data archive
(.bench_build/app.jsa); measured runs map that archive instead of
loading and verifying thousands of Spark classes from jars, which halves
JVM start-up on a slow host. A digest of every source file is stamped
beside the outputs, so a run with unchanged sources skips the build.

Run it alone with: python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(OUT, "bench.jar")
ARCHIVE = os.path.join(OUT, "app.jsa")
_SUBMIT = shutil.which("spark-submit")
SPARK_HOME = os.environ.get("SPARK_HOME") or (
    os.path.dirname(os.path.dirname(os.path.realpath(_SUBMIT))) if _SUBMIT else "")
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
HEAP = "3g"

# Every JVM here runs with -XX:-UsePerfData, which keeps it from writing
# its performance-counter file to the system temp directory.
# The JVM flags Spark's launcher adds on JDK 17 (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("program sources not found under src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars in {SPARK_JARS!r}; set SPARK_HOME")
    return jars


def _jar(prefix):
    hits = glob.glob(os.path.join(SPARK_JARS, prefix + "-2.13.*.jar"))
    if not hits:
        raise BuildError(f"{prefix} jar not found in {SPARK_JARS}")
    return hits[0]


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(tmp, manifests, archive_flag=None):
    """The harness JVM: fixed heap, the JDK 17 opens, the class archive."""
    if archive_flag is None:
        archive_flag = f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) else None
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xmn1g",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xss16m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Xlog:cds=off",
           "-Xlog:cds+dynamic=off"]
    if archive_flag:
        cmd.append(archive_flag)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the classpath order is fixed: the archive is only valid for it
    return cmd + ["-cp", ":".join([JAR] + spark_jars()), "perfbench.Harness"] + manifests


def _compile(files, classes, log):
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    compiler = ":".join(_jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", ":".join(spark_jars()), "-d", classes, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("compile failed:\n" + res.stdout[-4000:])
    res = subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", JAR, "-C", classes, "."],
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError("jar failed:\n" + res.stdout[-4000:])


def _train(log):
    """One JVM runs one operation of the lake workload (JSON and Parquet
    IO, the ingest transform, the merge) and dumps the classes it loaded
    into the archive. Classes it never loaded still load from the jars."""
    import workloads
    train = os.path.join(OUT, "train")
    shutil.rmtree(train, ignore_errors=True)
    manifests = [workloads.prepare("lake_daily", 0, 0.01, 0, os.path.join(train, "lake"))[0]]
    tmp = os.path.join(train, "tmp")
    os.makedirs(tmp)
    print("[perfbench] training the class archive", file=log, flush=True)
    res = subprocess.run(java_cmd(tmp, manifests, f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=train)
    shutil.rmtree(train, ignore_errors=True)
    if res.returncode != 0 or not os.path.exists(ARCHIVE):
        raise BuildError("class archive training failed:\n" + res.stdout[-4000:])


def ensure_built(log=sys.stderr):
    """Build if the sources changed since the last build."""
    files = sources()
    want = digest(files)
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return want
    os.makedirs(OUT, exist_ok=True)
    for f in (stamp, ARCHIVE, JAR):
        if os.path.exists(f):
            os.remove(f)
    _compile(files, os.path.join(OUT, "classes"), log)
    _train(log)
    with open(stamp, "w") as f:
        f.write(want)
    return want


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)

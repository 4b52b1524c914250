"""Build file of the benchmark: compiles the engine (``src/main/scala``) and
the harness (``perfbench/scala``) with the Scala compiler that ships in the
Spark distribution, into one jar under ``.bench_build/perfbench``.

No sbt and no dependency resolution: the classpath is Spark's own ``jars``
directory (``$SPARK_HOME/jars``, or next to the ``spark-submit`` on the
``PATH``). The build is
keyed by a hash of every source file, so an unchanged checkout builds once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# Fixed heap and young-generation sizes keep the resident set from
# following the collector's adaptive sizing from run to run.
HEAP = "4g"
YOUNG = "1g"
# no hsperfdata file under the system temp dir: runs write only in the checkout
JVM_FLAGS = ["-XX:-UsePerfData"]


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if jars:
            return jars
    raise SystemExit("perfbench: no Spark jars; set SPARK_HOME to a Spark distribution")


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(os.path.dirname(os.path.abspath(__file__)), "scala/*.scala")))
    return engine + own


def source_hash(root):
    h = hashlib.sha256()
    for f in sources(root) + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(build):
    """The harness JVM command line, up to the main class arguments."""
    return ["java", *JVM_FLAGS, *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Xss8m",
            "-cp", build["classpath"], "perfbench.Harness"]


def build(root):
    """Compile if the sources changed; return paths of the build."""
    key = source_hash(root)
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, f"build-{key[:16]}")
    jars = spark_jars()
    result = {"dir": out, "source_sha256": key, "jar": os.path.join(out, "perfbench.jar")}
    result["classpath"] = os.pathsep.join([result["jar"], *jars])
    if os.path.exists(os.path.join(out, "ok")):
        return result
    for old in glob.glob(os.path.join(base, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources(root)) + "\n")
    compile_cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={out}", "-Xmx2g", "-Xss8m",
                   "-cp", os.pathsep.join(jars), "scala.tools.nsc.Main",
                   "-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars), f"@{argfile}"]
    proc = subprocess.run(compile_cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-5000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(result["jar"], "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    with open(os.path.join(out, "ok"), "w") as fh:
        fh.write(key + "\n")
    return result

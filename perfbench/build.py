"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark drivers (`perfbench/scala`) with the Scala compiler shipped
in Spark's jar directory, into jars under `.bench_build/`, then records a
class-data-sharing archive of one session start (it halves the JVM's
start to a ready session). A step is skipped when its inputs' digest
matches the last successful build.

Run directly with `python3 perfbench/build.py` to build without a run.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repository's own sbt build takes its unmanaged jars from."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        return ""
    with open(sbt) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    return m.group(1) if m else ""


SPARK_JARS = _spark_jars()
ARCHIVE = os.path.join(OUT, "app.jsa")
JAVA_OPTS = ["-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _fresh(name, digest):
    stamp = os.path.join(OUT, name + ".stamp")
    return os.path.exists(stamp) and open(stamp).read() == digest


def _stamp(name, digest):
    with open(os.path.join(OUT, name + ".stamp"), "w") as fh:
        fh.write(digest)


def _compile(name, files, classpath, depends=""):
    """Compile `files` into .bench_build/<name>.jar; return (jar, digest)."""
    jar = os.path.join(OUT, name + ".jar")
    digest = hashlib.sha256((_digest(files) + classpath + depends).encode()).hexdigest()
    if _fresh(name, digest):
        return jar, digest
    os.makedirs(OUT, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=OUT) as classes:
        cmd = ["java", "-Xss16m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", classpath] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit(f"build: compiling {name} failed")
        shutil.make_archive(jar[:-4], "zip", classes)
    os.replace(jar[:-4] + ".zip", jar)
    _stamp(name, digest)
    return jar, digest


def _archive(classpath, digest):
    """Record the classes one session start loads into ARCHIVE."""
    if _fresh("archive", digest):
        return
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with tempfile.TemporaryDirectory(dir=OUT) as work:
        with open(os.path.join(work, "inputs.json"), "w") as fh:
            fh.write("{}")
        cmd = (["java"] + JAVA_OPTS + [f"-XX:ArchiveClassesAtExit={ARCHIVE}",
               f"-Djava.io.tmpdir={work}", "-cp", classpath, "graft.perfbench.Main", "setup",
               work, "0", "0", "0", str(os.cpu_count())])
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, env=dict(os.environ, SPARK_GRAFT_WAREHOUSE_DIR=work,
                                               SPARK_GRAFT_SCRATCH_ROOT=work))
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build: recording the class-data-sharing archive failed")
    _stamp("archive", digest)


def build():
    """Build what changed; return (runtime classpath, java options, engine
    digest)."""
    engine_src = _sources("src/main/scala")
    bench_src = _sources("perfbench/scala")
    if not engine_src or not os.path.isdir(SPARK_JARS):
        raise SystemExit("build: engine sources or Spark jars not found")
    spark_cp = os.path.join(SPARK_JARS, "*")
    engine, engine_digest = _compile("engine", engine_src, spark_cp)
    bench, bench_digest = _compile("bench", bench_src, engine + os.pathsep + spark_cp,
                                   engine_digest)
    classpath = os.pathsep.join([bench, engine, spark_cp])
    _archive(classpath, bench_digest)
    return classpath, JAVA_OPTS + [f"-XX:SharedArchiveFile={ARCHIVE}"], engine_digest


if __name__ == "__main__":
    print(build()[0])

#!/usr/bin/env python3
"""Build the program and the benchmark into .bench_build/.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution, against the Spark jars, and packs the classes into
.bench_build/bench.jar. Then one short training run of the benchmark dumps
the classes it loads into a class-data-sharing archive
(.bench_build/classes.jsa), which later runs map instead of loading those
classes from the jars again. Needs SPARK_HOME, or spark-submit on PATH.
Skips all of this when the sources' hash matches the last build.

    python3 perfbench/build.py      # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "bench.jar")
ARCHIVE = os.path.join(OUT, "classes.jsa")
STAMP = os.path.join(OUT, "classes.sha256")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# C1 only: a run is dominated by Spark's fixed per-job cost, and the C2
# compiler's threads doubled a run's CPU time without making a trigger or a
# poll faster (see DESIGN.md)
JVM_FLAGS = ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
             "-Xlog:cds*=off", "-Djava.awt.headless=true", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
CORES = min(4, os.cpu_count() or 1)


def classpath(jars):
    return os.path.join(jars, "*") + os.pathsep + JAR


def run_main(cp, work, args, log_path, timeout_s, share):
    """Run perfbench.Main with `args` in a fresh work directory under
    `work`, Spark at local[CORES], everything it writes kept there; `share`
    is the archive flag. Returns (exit code, stdout), or (None, "") after
    killing the JVM at the timeout.
    """
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "run"):
        os.makedirs(os.path.join(work, d))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + JVM_FLAGS + [share]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              f"-Dderby.system.home={os.path.join(work, 'derby')}",
              "-cp", cp, "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout_s)
            return proc.returncode, out
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, ""


def share_flag():
    """The flag that maps the archive, if the training run left one."""
    return f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) else "-Xshare:auto"


def train(cp, digest):
    """One short f1_trickle run that dumps its loaded classes into ARCHIVE.
    Without the archive runs still work, only their start is slower.
    """
    work = os.path.join(OUT, "work", "train")
    code, _ = run_main(cp, work, ["f1_trickle", "0", "4", "0", os.path.join(work, "run"), digest],
                       os.path.join(OUT, "jvm-train.log"), 400, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def pack():
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), CLASSES))
    os.replace(tmp, JAR)


def build():
    """Compile, pack and train if needed; returns (classpath, source hash)."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return classpath(jars), digest
    compiler = [os.path.join(jars, f"scala-{p}-*.jar") for p in ("compiler", "library", "reflect")]
    cp = [g for pat in compiler for g in glob.glob(pat)]
    if len(cp) != 3:
        sys.exit("build: the Spark distribution lacks scala-compiler/library/reflect jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(cp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    pack()
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train(classpath(jars), digest)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return classpath(jars), digest


if __name__ == "__main__":
    print(build()[1])

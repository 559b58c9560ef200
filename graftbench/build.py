"""Offline build of graft and of the benchmark, with scalac from the Spark jars.

Three stages, each skipped when its stamp matches the sha256 of its inputs:

  1. the program: every ``src/main/scala/**/*.scala``, plus ``src/main/resources``,
     -> ``graftbench/.build/program.jar``
  2. the benchmark: every ``graftbench/src/**/*.scala`` -> ``graftbench/.build/bench.jar``
  3. a class-data-sharing archive of the classes a run loads
     (``graftbench/.build/classes.jsa``), written by one training run
     (``graftbench.Train``); runs then skip most class loading and
     verification. If training fails, the build fails: every run of every
     commit loads its classes the same way, so set-up times stay comparable.

Only a JDK 17 and the Spark distribution are needed (Spark's ``jars/`` ship
scala-compiler); nothing is resolved from a network or an ivy/coursier cache.
Usage:

    python3 graftbench/build.py      # prints the classpath on success
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
ARCHIVE = os.path.join(OUT, "classes.jsa")
SCALA = "2.13.17"
TRAIN_TIMEOUT_S = 400

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classpath, tmpdir, extra=()):
    """The benchmark JVM's command line up to the main class.

    The JIT stops at C1 with one compiler thread, and G1 gets two worker
    threads: with the default tiered C2 a single-client run kept about three
    of four cores busy compiling and collecting, so a host that lost a core
    to steal slowed the client's own thread as well. The heap is sized up
    front so that no run resizes it."""
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC",
           "-XX:TieredStopAtLevel=1", "-XX:CICompilerCount=1",
           "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", f"-Djava.io.tmpdir={tmpdir}",
           "-Dfile.encoding=UTF-8", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += list(extra)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME's, else those of the first
    `spark-submit` on PATH that belongs to a distribution shipping scalac."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
            return jars
    raise SystemExit(f"build: no Spark distribution with scala-compiler-{SCALA}.jar "
                     "(set SPARK_HOME to a Spark 4 / Scala 2.13 distribution)")


def stamp_of(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(target, stamp):
    stamp_file = target + ".stamp"
    if os.path.exists(target) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            return fh.read() == stamp
    return False


def write_stamp(target, stamp):
    with open(target + ".stamp", "w") as fh:
        fh.write(stamp)


def compile_stage(name, src_dir, classpath, jars, resources=None):
    """Compile `src_dir` (plus `resources`) into .build/<name>.jar."""
    files = sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no Scala sources under {src_dir}")
    res_files = sorted(f for f in glob.glob(os.path.join(resources, "**", "*"), recursive=True)
                       if os.path.isfile(f)) if resources else []
    jar = os.path.join(OUT, f"{name}.jar")
    stamp = stamp_of(files + res_files, classpath)
    if fresh(jar, stamp):
        return jar, stamp
    classes = os.path.join(OUT, f"{name}.classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{p}-{SCALA}.jar")
                               for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath, "-d", classes] + files
    print(f"build: compiling {len(files)} files of {name}", file=sys.stderr)
    code, _ = run_group(cmd, 900, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"build: {name} failed to compile")
    # a jar, not a directory: class-data sharing archives classes from jars only
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        entries = [(f, os.path.relpath(f, classes)) for f in
                   glob.glob(os.path.join(classes, "**", "*"), recursive=True) if os.path.isfile(f)]
        entries += [(f, os.path.relpath(f, resources)) for f in res_files]  # META-INF/services
        for path, arc in sorted(entries, key=lambda e: e[1]):
            z.write(path, arc)
    os.replace(tmp, jar)
    shutil.rmtree(classes, ignore_errors=True)
    write_stamp(jar, stamp)
    return jar, stamp


def train_archive(classpath, stamp):
    """Write the class-data-sharing archive from one training run."""
    if fresh(ARCHIVE, stamp):
        return
    for f in (ARCHIVE, ARCHIVE + ".stamp"):
        if os.path.exists(f):
            os.remove(f)
    data = os.path.join(HERE, ".run", f"train-{os.getpid()}")
    os.makedirs(os.path.join(data, "tmp"), exist_ok=True)
    print("build: training the class-data-sharing archive", file=sys.stderr)
    cmd = java_cmd(classpath, os.path.join(data, "tmp"), [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    try:
        code, _ = run_group(cmd + ["graftbench.Train", data], TRAIN_TIMEOUT_S,
                            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    if code != 0 or not os.path.isfile(ARCHIVE):
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
        why = f"passed {TRAIN_TIMEOUT_S} s" if code is None else f"exited {code}"
        raise SystemExit(f"build: class-data-sharing archive training {why}")
    write_stamp(ARCHIVE, stamp)


def build():
    """Build what changed; return (classpath, extra JVM options)."""
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    main = os.path.join(ROOT, "src", "main")
    os.makedirs(OUT, exist_ok=True)
    program, p_stamp = compile_stage("program", os.path.join(main, "scala"), jar_cp, jars,
                                     os.path.join(main, "resources"))
    bench, b_stamp = compile_stage("bench", os.path.join(HERE, "src"),
                                   os.pathsep.join([program, jar_cp]), jars)
    classpath = os.pathsep.join([bench, program, jar_cp])
    train_archive(classpath, p_stamp + b_stamp)
    return classpath, [f"-XX:SharedArchiveFile={ARCHIVE}"]


if __name__ == "__main__":
    print(build()[0])

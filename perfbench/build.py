"""Builds graft plus the benchmark's JVM side.

1. graft's main sources (`src/main/scala`) and the benchmark's own
   (`perfbench/src`) compile together with scalac against the Spark
   jars;
2. the classes and resources are packed into one jar;
3. one training run (both daily workloads, one day each, in one JVM)
   records a class-data-sharing archive of every class it loads, so a
   measured run does not spend its first seconds loading classes.

Everything lands in `.bench_build/perfbench/<hash of the sources>/`, so
an unchanged tree is built once and reused by later runs.

    python3 perfbench/build.py      # builds, prints the java command
"""

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

sys.dont_write_bytecode = True
import inputs  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = [os.path.join(ROOT, "src", "main", "resources"),
             os.path.join(HERE, "resources")]
BENCH_SRC = os.path.join(HERE, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")
TRAIN_WORKLOADS = ["warehouse_daily", "corpus_daily"]

# -XX:-UsePerfData keeps the JVM from writing its statistics file under
# /tmp; a fixed heap with ParallelGC keeps peak memory steady run to run.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    "--add-opens=java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the jars
    next to the first `bin` directory on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(":")]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise RuntimeError("no Spark distribution: set SPARK_HOME")


def sources():
    if not os.path.isdir(GRAFT_SRC):
        raise RuntimeError(f"graft sources not found at {GRAFT_SRC}")
    files = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                             recursive=True))
    resources = sorted(f for r in RESOURCES
                       for f in glob.glob(os.path.join(r, "**", "*"),
                                          recursive=True)
                       if os.path.isfile(f))
    return files, resources


def java_env(tmp):
    """The run's environment: Spark's scratch space inside `tmp`."""
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))


def java_cmd(out, tmp, extra=()):
    """The java command line for a run, given the build directory."""
    cmd = ["java", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}"] + JVM_OPTS
    archive = os.path.join(out, "perfbench.jsa")
    if os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    return cmd + list(extra) + [
        "-cp", os.pathsep.join([os.path.join(out, "perfbench.jar"),
                                os.path.join(spark_jars(), "*")]),
        "perfbench.Main"]


def compile_jar(out, files):
    jars = spark_jars()
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
         "scala.tools.nsc.Main",
         "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes] +
        files, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed ({r.returncode})")
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w") as z:
        for base in [classes] + RESOURCES:
            for f in sorted(glob.glob(os.path.join(base, "**", "*"),
                                      recursive=True)):
                if os.path.isfile(f):
                    z.write(f, os.path.relpath(f, base))
    shutil.rmtree(classes)


def train(out, sf_dir):
    """Records the class-data archive from one run of each daily
    workload. A failed training run leaves no archive; runs then load
    classes the ordinary way."""
    tmp = tempfile.mkdtemp(prefix="train-", dir=BUILD_ROOT)
    try:
        paths = []
        for w in TRAIN_WORKLOADS:
            spec = inputs.spec(w, 0, 1, 1, sf_dir, os.path.join(tmp, w))
            spec.update(trace=False, cpus=os.cpu_count(), setups=1,
                        t0_ms=0)
            paths.append(os.path.join(tmp, w + ".json"))
            with open(paths[-1], "w") as f:
                json.dump(spec, f)
        archive = os.path.join(out, "perfbench.jsa")
        r = subprocess.run(
            java_cmd(out, tmp, [f"-XX:ArchiveClassesAtExit={archive}",
                                  "-Xlog:cds=off"]) +
            ["--train"] + paths, cwd=tmp, env=java_env(tmp),
            stdout=sys.stderr, stderr=sys.stderr, timeout=600)
        if r.returncode != 0 and os.path.exists(archive):
            os.remove(archive)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def build(sf_dir):
    """Builds if needed; returns the build directory."""
    files, resources = sources()
    # the archive is only valid for the flags it was recorded with
    h = hashlib.sha256(" ".join(JVM_OPTS).encode())
    for f in files + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_ROOT, h.hexdigest()[:16])
    if not os.path.exists(os.path.join(out, "DONE")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        compile_jar(out, files)
        train(out, sf_dir)
        open(os.path.join(out, "DONE"), "w").close()
    return out


if __name__ == "__main__":
    print(" ".join(java_cmd(build(inputs.DEFAULT_SF_DIR), "<tmp>")))

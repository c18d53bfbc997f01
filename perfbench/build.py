"""Build the benchmark.

1. Compile the program's sources (src/main/scala) and the benchmark's
   (perfbench/src) with the Scala compiler that ships in the Spark
   distribution's jars, and pack the classes into bench.jar.
2. Run every workload's ops once (`perfbench.Main --train`). This writes
   the fixture tables the workloads load, and archives the classes the
   JVM loaded (a dynamic CDS archive), which every run then maps instead
   of loading and verifying thousands of Spark classes again.

Everything goes to .bench_build/perfbench/<hash>/ under the checkout,
keyed by a hash of the sources, so an unchanged tree is built once.

    python3 perfbench/build.py        # prints the build directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
MAX_CORES = 4
TRAIN_TIMEOUT_S = 600
# JDK 17 module opens Spark needs when started without spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Jar files of the Spark distribution (SPARK_HOME, else the one whose
    spark-submit is on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark distribution found (set SPARK_HOME)")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found: %s" % PROGRAM_SRC)
    out = []
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def cores():
    return max(1, min(MAX_CORES, os.cpu_count() or 1))


def java_env(work):
    """Environment of a benchmark JVM: the program's A/B knobs are read from
    the environment, so they are dropped to run on its defaults, and Spark's
    scratch space (SPARK_LOCAL_DIRS wins over spark.local.dir) stays in
    `work`."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_DEBUG"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    return env


def java_cmd(build_dir, main_args, work, cds_option):
    cp = os.pathsep.join([os.path.join(build_dir, "bench.jar")] + spark_jars())
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-Xmx" + HEAP, "-Xms" + HEAP, "-XX:-UsePerfData", cds_option,
             # JVM warnings to stderr: stdout carries the result line
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             "-Djava.io.tmpdir=" + work,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "perfbench.Main"] + main_args)


def _compile(srcs, out):
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.pathsep.join(spark_jars())
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(os.path.join(out, "bench.jar"), "w") as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def _train(out):
    work = os.path.join(out, "train-work")
    os.makedirs(work)
    cmd = java_cmd(out, ["--train", "--work", work, "--tables", os.path.join(out, "tables"),
                         "--cores", str(cores())],
                   work, "-XX:ArchiveClassesAtExit=" + os.path.join(out, "cds.jsa"))
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           env=java_env(work), cwd=ROOT, timeout=TRAIN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("training run exceeded %d s" % TRAIN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.isfile(os.path.join(out, "cds.jsa")):
        raise BuildError("training run failed:\n" + r.stdout[-4000:])


def build():
    """Return the build directory for the current sources, building if needed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__), os.path.join(HERE, "log4j2.properties")]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    out = os.path.join(BUILD_DIR, h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    if os.path.isdir(BUILD_DIR):
        for old in os.listdir(BUILD_DIR):
            if not old.startswith("work-"):
                shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    print("[perfbench] building: compiling %d source files, then a training run"
          % len(srcs), file=sys.stderr)
    try:
        _compile(srcs, out)
        _train(out)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    open(os.path.join(out, ".complete"), "w").close()
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("[perfbench] build error: %s" % e, file=sys.stderr)
        sys.exit(2)

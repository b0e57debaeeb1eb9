"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (perfbench/src) with the Scala compiler that ships in Spark's jars
(the jar directory build.sbt names as its unmanagedBase), packs them into
one jar, and records a class-data archive of a short training run.

Output goes to .bench_build/ under the checkout: classes/, app.jar and
app.jsa. A stamp of the sources' hash skips the build when nothing changed.

The archive (the JVM's AppCDS: the parsed and verified classes the
training run loaded) lets every run's JVM map Spark's and the program's
classes instead of loading them from the jars, which takes several seconds
off each run's set-up. The archive only holds classes, so it changes no
result; a JVM that finds it stale ignores it.

    python3 perfbench/build.py            # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

sys.dont_write_bytecode = True
BUILD_DIR = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
HEAP = "4g"
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    try:
        with open("build.sbt") as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        raise SystemExit("perfbench: no build.sbt with an unmanagedBase "
                         "(run from the root of a checkout)")


def sources():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    files += sorted(glob.glob("perfbench/src/*.scala"))
    return files


def classes_dir():
    return os.path.join(BUILD_DIR, "classes")


def app_jar():
    return os.path.join(BUILD_DIR, "app.jar")


def archive():
    return os.path.join(BUILD_DIR, "app.jsa")


def java(main_args, tmp, cds_flag):
    """The JVM command of every run and of the training run: the same heap,
    module opens and class path, so the archive matches."""
    return (["java"] + JAVA_OPENS + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", cds_flag, f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([app_jar(), os.path.join(spark_jars(), "*")]),
        "graftbench.Main"] + main_args)


def run_java(main_args, run_dir, cds_flag, timeout):
    """Run the JVM with its output in run_dir/jvm.log; return its exit code.
    A JVM still running at the timeout is killed and waited for."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(java(main_args, tmp, cds_flag),
                             stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: JVM exceeded its deadline")


def pack_jar():
    """classes/ and src/main/resources in one jar: the archive can only
    hold classes that come from jars."""
    tmp = app_jar() + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for root in (classes_dir(), os.path.join("src", "main", "resources")):
            for d, _, files in sorted(os.walk(root)):
                for f in sorted(files):
                    path = os.path.join(d, f)
                    z.write(path, os.path.relpath(path, root))
    os.replace(tmp, app_jar())


def train(log):
    """A short run that loads what the workloads load (a small runFused and
    the queries query_iterative times, over a small seeded table set); its
    classes are written to the archive when the JVM exits."""
    import datagen
    run_dir = os.path.abspath(os.path.join(BUILD_DIR, "train"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    try:
        datagen.write(1, 0.004, data_dir)
        print("perfbench: recording the class-data archive", file=log, flush=True)
        code = run_java(["train", "1", "0", "0", run_dir, data_dir], run_dir,
                        f"-XX:ArchiveClassesAtExit={archive()}", 600)
        if code != 0 or not os.path.exists(archive()):
            log.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            raise SystemExit("perfbench: the training run failed")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def build(log=sys.stderr):
    """Compile, pack and train if the sources changed."""
    srcs = sources()
    if not any(s.startswith("src/") for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala "
                         "(run from the root of a checkout)")
    h = hashlib.sha256()
    with open(__file__, "rb") as f:  # compiler flags and JVM flags live here
        h.update(f.read())
    for s in srcs + sorted(glob.glob("src/main/resources/**/*", recursive=True)):
        if os.path.isfile(s):
            h.update(s.encode())
            with open(s, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(BUILD_DIR, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    for stale in (stamp, app_jar(), archive()):
        if os.path.exists(stale):
            os.remove(stale)
    out = classes_dir() + ".tmp"
    subprocess.run(["rm", "-rf", out, classes_dir()], check=True)
    os.makedirs(out)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(cmd, check=True, stdout=log, stderr=log, timeout=840)
    os.rename(out, classes_dir())
    pack_jar()
    train(log)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()

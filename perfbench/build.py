"""Builds the engine and the benchmark harness from source with the Scala
compiler that ships in Spark's jar directory; no sbt, no network.

The output goes to `<build dir>/classes` and is packed into
`<build dir>/perfbench.jar`, where the build dir is $CARGO_TARGET_DIR if
set, else `.bench_build` under the current directory (the checkout root).
A stamp of every source file's path and content skips the compile when
nothing changed. The classes run from the jar because the JVM's class
data sharing archive (see run.py) takes no class directory on the class
path.

Run directly to build only:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = "src/main/scala"
ENGINE_RESOURCES = "src/main/resources"


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def cds_archive():
    """The class data sharing archive of this build; a rebuild removes it."""
    return os.path.join(build_dir(), "classes.jsa")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark on PATH that ships a
    Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources {ENGINE_SRC}/ not found; "
                         "run from the root of a checkout")
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    files += sorted(f for f in glob.glob(os.path.join(ENGINE_RESOURCES, "**"), recursive=True)
                    if os.path.isfile(f))
    if not any(f.startswith(ENGINE_SRC) for f in files):
        raise SystemExit(f"perfbench: no Scala sources under {ENGINE_SRC}/")
    return files


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the classpath that runs `graft.perfbench.Main`."""
    files = sources()
    jars = spark_jars()
    out = os.path.join(build_dir(), "classes")
    jar = os.path.join(build_dir(), "perfbench.jar")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    want = stamp(files)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want and os.path.exists(jar):
        return f"{jar}:{jars}/*"
    for f in (stamp_file, jar, cds_archive()):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f for f in files if f.endswith(".scala")) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", out, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    # resources (data source registrations) ride on the classpath as-is
    if os.path.isdir(ENGINE_RESOURCES):
        shutil.copytree(ENGINE_RESOURCES, out, dirs_exist_ok=True)
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(out):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), out))
    os.replace(jar + ".tmp", jar)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return f"{jar}:{jars}/*"


if __name__ == "__main__":
    print(build())

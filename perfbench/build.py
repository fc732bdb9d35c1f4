"""Build file of the benchmark: compiles the engine (src/main/scala)
together with the harness (perfbench/harness) with the Scala compiler
that ships in the Spark distribution, and packs the classes into
`<build dir>/classes-<hash>/engine.jar`.

A build is reused while no source file changes; the hash covers every
source path and byte. The same directory holds the JVM's class-data
archive (`app.jsa`, see `cds_flags`), which the first run of a build
writes when it exits. Run directly to build only:

    python3 perfbench/build.py [build dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_home():
    """$SPARK_HOME, else the Spark distribution whose bin/spark-submit is
    on the PATH (the one with a jars/ directory)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(os.path.join(d, "spark-submit"))))
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    raise BuildError("no Spark distribution found: set SPARK_HOME")


SPARK_HOME = spark_home()


def sources(root):
    engine = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    return engine + sorted(glob.glob(f"{HERE}/harness/*.scala"))


def classpath(out):
    return f"{out}/engine.jar:{SPARK_HOME}/jars/*"


def cds_flags(out):
    """JVM flags for the build's class-data archive: map it when it
    exists, else write it (to a part file that `cds_done` renames) when
    the JVM exits. The archive holds the parsed and verified classes the
    harness loaded, which would otherwise cost every run several seconds
    of start-up and first-query time; a missing or stale archive only
    costs that time, since the JVM then loads classes as usual."""
    jsa = os.path.join(out, "app.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"]
    return [f"-XX:ArchiveClassesAtExit={jsa}.part"]


def cds_done(out):
    if os.path.exists(os.path.join(out, "app.jsa.part")):
        os.replace(os.path.join(out, "app.jsa.part"), os.path.join(out, "app.jsa"))


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for dp, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(dp, f)
                z.write(p, os.path.relpath(p, classes))


def build(root, build_dir):
    """Return the build directory for the current sources, compiling
    them first if no build of exactly these sources exists."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out, False
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={build_dir}", "-cp", f"{SPARK_HOME}/jars/*",
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
         f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    _jar(classes, os.path.join(out, "engine.jar"))
    shutil.rmtree(classes)
    open(os.path.join(out, ".done"), "w").close()
    return out, True


if __name__ == "__main__":
    bd = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(bd, exist_ok=True)
    print(build(os.getcwd(), bd)[0])

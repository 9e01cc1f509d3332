"""Build step of the benchmark: compiles the library sources under
`src/main/scala` together with the harness under `perfbench/src` into one
jar, with the Scala compiler that ships in the Spark jar directory, and
dumps a class-data archive of the Spark, Scala and JDK classes a plain
Spark session loads. The archive holds no class of the library or the
harness: those load cold in every run, so their loading and static
initialisation stay in `setup_s`. The output is keyed by a hash of every
source file, so a second run on the same tree reuses it and an edited
tree rebuilds.

    python3 perfbench/build.py        # build (or reuse) and print the build dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BUILD_DIR = ".bench_build"


class BuildError(RuntimeError):
    pass


HEAP = "3g"  # -Xms and -Xmx of every harness JVM


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jar directory found ({jars!r}); set SPARK_HOME")
    return jars


def java_opts():
    """JDK 17 module opens Spark needs outside spark-submit."""
    pkgs = ["java.base/java.lang", "java.base/java.lang.invoke",
            "java.base/java.lang.reflect", "java.base/java.io",
            "java.base/java.net", "java.base/java.nio",
            "java.base/java.util", "java.base/java.util.concurrent",
            "java.base/java.util.concurrent.atomic",
            "java.base/sun.nio.ch", "java.base/sun.nio.cs",
            "java.base/sun.security.action", "java.base/sun.util.calendar"]
    return [f"--add-opens={p}=ALL-UNNAMED" for p in pkgs]


def java_cmd(out, tmpdir, archive_flag=None):
    """The harness JVM command prefix for build `out`. By default it maps
    the build's class-data archive of Spark's classes; the JVM runs
    without it if the archive does not match."""
    flag = archive_flag or f"-XX:SharedArchiveFile={os.path.join(out, 'spark.jsa')}"
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", flag, *java_opts(),
            f"-Djava.io.tmpdir={tmpdir}",
            "-cp", f"{os.path.join(out, 'app.jar')}{os.pathsep}{os.path.join(spark_jars(), '*')}"]


def _sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"),
            os.path.join(root, "perfbench", "src")]
    if not os.path.isdir(dirs[0]):
        raise BuildError(f"library sources not found under {dirs[0]}")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _run(cmd, what):
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"{what} failed:\n" + r.stdout[-4000:])


def ensure_built(root, log=sys.stderr):
    """Return the build directory for the current sources, building it if
    needed: `app.jar` (library + harness), `spark.jsa` (class-data
    archive of the classes a plain Spark session loads) and
    `oracle_sql.json` (the library's DuckDB oracle SQL map)."""
    srcs = _sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, BUILD_DIR, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    jars = spark_jars()
    jarlist = os.pathsep.join(sorted(
        os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar")))
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print(f"[build] compiling {len(srcs)} Scala files", file=log, flush=True)
    _run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
          "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main", "-nowarn",
          "-d", classes, "-classpath", jarlist, "@" + argfile], "scalac")
    with zipfile.ZipFile(os.path.join(out, "app.jar"), "w") as z:
        for base, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(base, f), os.path.relpath(os.path.join(base, f), classes))
    shutil.rmtree(classes)
    os.remove(argfile)
    no_archive = "-Xshare:auto"
    _run(java_cmd(out, out, no_archive) + ["graftbench.Main", "dump-oracle",
                                          os.path.join(out, "oracle_sql.json")], "oracle dump")
    print("[build] dumping the class-data archive", file=log, flush=True)
    warm = os.path.join(out, "spark-warm")
    os.makedirs(warm)
    _run(java_cmd(out, warm, f"-XX:ArchiveClassesAtExit={os.path.join(out, 'spark.jsa')}")
         + [f"-Dlog4j2.configurationFile={os.path.join(root, 'perfbench', 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "graftbench.SparkWarm", warm], "class-data dump")
    shutil.rmtree(warm)
    open(os.path.join(out, "BUILD_OK"), "w").close()
    for old in os.listdir(os.path.dirname(out)):  # builds of other sources
        if old.startswith("build-") and old != os.path.basename(out):
            shutil.rmtree(os.path.join(os.path.dirname(out), old), ignore_errors=True)
    return out


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    print(ensure_built(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

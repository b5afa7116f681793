"""Build file of the benchmark package.

Compiles the engine's main sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala 2.13 compiler that
ships in Spark's jar directory, the directory the engine's build.sbt
compiles against, and packs them with the engine's resources into
.perfbench/build/perfbench.jar. It then dumps a class-data-sharing archive
of every class one short benchmark run loads, which takes about 3 s off the
start of every later run. A content stamp skips all of it when no source
changed.

    python3 perfbench/build.py        # builds if needed; prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# what build.sbt gives a forked engine main: Spark on JDK 17 outside
# spark-submit needs these opens
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars(repo):
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(repo, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("Spark jar directory not found: set SPARK_HOME")


def sources(repo):
    engine = os.path.join(repo, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BuildError("engine sources not found under %s" % engine)
    files = []
    for base in (engine, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def java_cmd(cp, archive, scratch, main_args, dump=False):
    """The benchmark JVM. CompileThresholdScaling makes C2 compile the
    round's code during the warm-up instead of competing with timed work."""
    cds = []
    if archive:
        cds = ["-XX:%s=%s" % ("ArchiveClassesAtExit" if dump else "SharedArchiveFile", archive)]
    return (["java"] + cds + ["-XX:CompileThresholdScaling=0.2", "-Xms2g", "-Xmx2g",
                              "-Xss8m",
                              "-Dfile.encoding=UTF-8",
                              "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp")]
            + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
            + ["-cp", cp, "graft.perfbench.Main", "--root", os.path.join(scratch, "data")]
            + main_args)


def java_env(scratch):
    return dict(os.environ, LC_ALL="C.UTF-8", TMPDIR=os.path.join(scratch, "tmp"))


def build(repo=REPO):
    """Build if needed; return (classpath, class-data archive or None)."""
    jars = spark_jars(repo)
    srcs = sources(repo)
    compiler = [sorted(glob.glob(os.path.join(jars, "scala-%s-2.13*.jar" % n)))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("no Scala 2.13 compiler in %s" % jars)
    compiler = [c[-1] for c in compiler]
    resources = os.path.join(repo, "src", "main", "resources")

    h = hashlib.sha256()
    for f in srcs + compiler + glob.glob(os.path.join(resources, "**"), recursive=True):
        h.update(os.path.relpath(f, repo).encode())
        if os.path.isfile(f) and not f.endswith(".jar"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()

    out = os.path.join(repo, ".perfbench", "build")
    jar = os.path.join(out, "perfbench.jar")
    archive = os.path.join(out, "classes.jsa")
    stamp_file = os.path.join(out, "stamp")
    cp = os.pathsep.join([jar, os.path.join(jars, "*")])
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp, archive if os.path.isfile(archive) else None

    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes, "@" + argfile]
    res = subprocess.run(cmd, cwd=repo, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout.decode(errors="replace"))
        raise BuildError("compile failed (exit %d)" % res.returncode)
    jar_tool = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "jar")
    if not os.path.isfile(jar_tool):
        jar_tool = shutil.which("jar") or "jar"
    pack = [jar_tool, "cf", jar, "-C", classes, "."]
    if os.path.isdir(resources):
        pack += ["-C", resources, "."]
    subprocess.run(pack, check=True)
    shutil.rmtree(classes)

    # the archive is an optimisation only: without it runs start slower
    train = os.path.join(out, "train")
    os.makedirs(os.path.join(train, "tmp"))
    try:
        ok = subprocess.run(
            java_cmd(cp, archive, train, ["--workload", "crawl-fused", "--seconds", "1"],
                     dump=True),
            cwd=repo, env=java_env(train), stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=300).returncode == 0
    except subprocess.TimeoutExpired:
        ok = False
    shutil.rmtree(train, ignore_errors=True)
    if not ok and os.path.exists(archive):
        os.remove(archive)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, archive if os.path.isfile(archive) else None


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit("perfbench build: %s" % e)

"""Build file of the benchmark harness: compiles the program's main sources
together with the harness sources (perfbench/harness/src) into one class
directory under .bench_build, with the Scala compiler that ships among the
Spark jars. The directory is keyed by a hash of every source file, so a
checkout builds once and later runs reuse it.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars if set, otherwise the
    `unmanagedBase` the repo's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise FileNotFoundError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/src/**/*.scala"), recursive=True))
    return main, harness


def build(root):
    """Return the class directory for the sources under `root`, compiling
    them first if no build of the same sources exists. Raises when the
    program's sources are absent or do not compile."""
    main, harness = sources(root)
    if not main:
        raise FileNotFoundError(f"no program sources under {root}/src/main/scala")
    cp = os.path.join(spark_jars(root), "*")
    digest = hashlib.sha256()
    for f in main + harness:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + main + harness
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + proc.stdout[-4000:])
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
    sys.exit(0)

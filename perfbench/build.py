"""Build file of the benchmark package: compiles the program
(`src/main/scala`) together with the benchmark's own code (`perfbench/src`)
with the Scala compiler that ships in Spark's jar directory, packs the
classes into `.bench_build/perfbench/perfbench.jar`. A stamp of every
source's content skips the build when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import subprocess
import shutil
import sys
import zipfile

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
STAMP = os.path.join(BUILD_DIR, "stamp")
HEAP = "3g"

# what Spark 4 needs on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jars_dir() -> str:
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark install")
    return os.path.join(home, "jars")


def jvm_opens() -> list:
    return [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def sources() -> list:
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return files + sorted(glob.glob("perfbench/src/*.scala"))


def classpath() -> str:
    return JAR + os.pathsep + os.path.join(jars_dir(), "*")


def jvm() -> list:
    """The `java` command line every benchmark run starts with."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m"] + jvm_opens() +
            ["-Dspark.ui.enabled=false", "-cp", classpath()])


def build() -> None:
    """Compile unless the stamp says the classes are current."""
    files = sources()
    h = hashlib.sha256()
    for f in files + [__file__]:
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    jars = jars_dir()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))
                for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit("perfbench: Scala 2.13 compiler jars not found")
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.pathsep.join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES]
    res = subprocess.run(cmd + files, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(CLASSES):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, CLASSES))
    with open(STAMP, "w") as fh:
        fh.write(stamp)


if __name__ == "__main__":
    build()

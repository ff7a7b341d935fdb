#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program from source (src/main/java, src/main/scala) together
with the benchmark's own Scala sources (perfbench/src) with the JDK's javac
and the Scala compiler that ships in Spark's jars, and packs the classes
into .bench_build/perfbench/perfbench.jar. A digest of every source file,
of this file and of the jar directory is kept next to the jar, so an
unchanged checkout is not rebuilt. Every JVM runs with -XX:-UsePerfData,
so none writes outside the checkout.

    python3 perfbench/build.py      # prints the jar path
"""

import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "perfbench.jar")

# The JVM options spark-submit adds on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """$SPARK_HOME/jars; else the jars beside a spark-submit on PATH, or
    those of an installed pyspark."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            jars = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars")
            if os.path.isdir(jars):
                return jars
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin and os.path.isdir(os.path.join(os.path.dirname(spec.origin), "jars")):
        return os.path.join(os.path.dirname(spec.origin), "jars")
    sys.exit("build.py: no Spark jars found; set SPARK_HOME")


def java_tool(name):
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", name) if home else name


def jvm_command(main, args, tmpdir):
    """The benchmark JVM, with the default tiered JIT and a fixed heap."""
    cmd = [java_tool("java"), "-Xms3g", "-Xmx3g", "-Xss4m",
           "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmpdir]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", JAR + os.pathsep + os.path.join(spark_jars(), "*"), main] + args


def sources(top, ext):
    found = []
    for base, _, files in os.walk(top):
        found += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(found)


def program_present():
    return os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))


def compile_jar(java_srcs, scala_srcs):
    staging = os.path.join(OUT, "classes")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    jar_glob = os.path.join(spark_jars(), "*")
    if java_srcs:
        subprocess.run([java_tool("javac"), "-J-XX:-UsePerfData", "-encoding", "UTF-8",
                        "-nowarn", "-d", staging, "-cp", jar_glob] + java_srcs,
                       check=True, stdout=sys.stderr)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(scala_srcs) + "\n")
    subprocess.run([java_tool("java"), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_glob,
                    "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8", "-d", staging,
                    "-classpath", staging + os.pathsep + jar_glob, "@" + args_file],
                   check=True, stdout=sys.stderr)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for path in sources(staging, ""):
            z.write(path, os.path.relpath(path, staging))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(staging)


def build():
    """Builds when the sources or this build file changed."""
    java_srcs = sources(os.path.join(ROOT, "src", "main", "java"), ".java")
    scala_srcs = sources(os.path.join(ROOT, "src", "main", "scala"), ".scala") + \
        sources(os.path.join(HERE, "src"), ".scala")
    digest = hashlib.sha256()
    for path in java_srcs + scala_srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    digest.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    stamp = digest.hexdigest()

    stamp_file = os.path.join(OUT, "stamp")
    current = False
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            current = f.read().strip() == stamp
    if not current:
        os.makedirs(OUT, exist_ok=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        compile_jar(java_srcs, scala_srcs)
        with open(stamp_file, "w") as f:
            f.write(stamp + "\n")


if __name__ == "__main__":
    if not program_present():
        sys.exit("build.py: no program sources under src/main/scala")
    build()
    print(JAR)

"""Build file of the benchmark: compiles graft's main sources together
with the benchmark harness (perfbench/src) into one class directory,
with the Scala compiler and Spark jars of the local Spark install. The
build is skipped when no source changed since the last one.

    python3 perfbench/build.py [<build dir>]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root: str) -> str:
    """The jars of the Spark install named by SPARK_HOME, or else the jar
    directory the repository's build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among the Spark jars {jars} (set SPARK_HOME)")
    return jars


def sources(root: str) -> list:
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no graft sources under {root}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build(root: str, build_dir: str) -> str:
    """Returns the class directory, compiling first if a source changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars(root)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + srcs
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-20000:])
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd(), os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))

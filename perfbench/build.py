"""Build file of the benchmark: compiles the library sources
(`src/main/scala`) and the benchmark's own (`perfbench/src`) with the
Scala compiler that ships among the Spark jars, into `.bench_build`.

A build is reused while the sources, this file and the root build file
are unchanged. The Spark jars are the ones the root `build.sbt` names as
its `unmanagedBase`, and the JVM flags a run gets are the `javaOptions`
it gives its forked runs (`java_options`). sbt itself is not started:
it takes about 17 s to start and print a classpath, too long to pay on
every run.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def spark_jars_dir(root):
    """The jar directory the root build declares (`unmanagedBase`)."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt declares no unmanagedBase jar directory")
    return m.group(1)


def java_options(root):
    """The `javaOptions` of the root build: its `--add-opens` list, its
    `-D`/`-XX` flags and its heap (`SPARK_DRIVER_MEM`, or the build's
    default)."""
    with open(os.path.join(root, "build.sbt")) as f:
        sbt = f.read()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    opts = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*)\)", sbt, re.S)
    heap = re.search(r'"-Xmx\$\{sys\.env\.getOrElse\("SPARK_DRIVER_MEM", "(\w+)"\)\}"', sbt)
    if not (opens and opts and heap):
        raise RuntimeError("build.sbt: no jdk17AddOpens / javaOptions / -Xmx to take JVM flags from")
    code = re.sub(r"//[^\n]*", "", opts.group(1))
    flags = [a for p in re.findall(r'"(java\.base/[^"]+)"', opens.group(1))
             for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    flags += re.findall(r'(?<!\$)"(-[DX][^"$]+)"', code)
    flags.append("-Xmx" + os.environ.get("SPARK_DRIVER_MEM", heap.group(1)))
    return flags


def sources(root):
    out = []
    for d in SOURCE_ROOTS:
        out += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def source_id(root):
    """Content hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    for p in sources(root) + [os.path.join(root, "build.sbt"), os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(root):
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError("no library sources under src/main/scala: run from the repository root")
    jars = spark_jars_dir(root)
    out = os.path.join(root, BUILD_DIR)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "build.stamp")
    sid = source_id(root)
    classpath = f"{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read().strip() == sid:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources(root)) + "\n")
    print(f"[perfbench] compiling {len(sources(root))} sources", file=sys.stderr)
    subprocess.run(
        ["java", "-Xss16m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", classes, "@" + argfile],
        check=True, stdout=sys.stderr, timeout=800)
    with open(stamp, "w") as f:
        f.write(sid + "\n")
    return classpath


if __name__ == "__main__":
    print(build(os.getcwd()))

"""Build file of the benchmark.

Compiles the engine (``src/main/scala``) together with the benchmark's own
sources (``perfbench/src``) into ``<build dir>/perfbench/classes``, using the
Scala compiler that ships in Spark's ``jars`` directory, so a plain checkout
builds without sbt or a dependency cache. A build is skipped when neither the
sources nor the jars changed since the last one.

    python3 perfbench/build.py [build dir]      # default: .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")
BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Spark's jars directory: $SPARK_HOME, else the one spark-submit lives
    in, else the ``unmanagedBase`` the repo's build.sbt names."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars directory with a Scala compiler found")


def sources(root):
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(os.path.join(root, base)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root, build_dir):
    """Returns the classes directory, whether it was rebuilt, and the build
    key: a hash of every source and of the jar names it compiled against."""
    if not os.path.isdir(os.path.join(root, ENGINE_SRC)):
        raise SystemExit(f"perfbench: no engine sources under {ENGINE_SRC}")
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()

    out = os.path.join(build_dir, "perfbench", "classes")
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out, False, key

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"{n}-2*.jar"))[0]
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    argfile = os.path.join(build_dir, "perfbench", "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(key)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, True, key


if __name__ == "__main__":
    root = os.getcwd()
    build_dir = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else BUILD_DIR)
    os.makedirs(os.path.join(build_dir, "perfbench"), exist_ok=True)
    print(build(root, build_dir)[0])

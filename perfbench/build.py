"""Build the benchmark: compile the engine sources and the benchmark's own
Scala sources with the Scala compiler that ships with the Spark jars, into
one class directory. A stamp over every source file's path and content
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

ENGINE_SRC = os.path.join("src", "main", "scala")
ENGINE_RES = os.path.join("src", "main", "resources")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars(root="."):
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


def build_dir(root):
    return os.path.join(root, ".bench_build", "perfbench")


def classes_dir(root):
    return os.path.join(build_dir(root), "classes")


def sources(root):
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(os.path.join(root, base)):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def resources(root):
    out = []
    for dirpath, _, names in os.walk(os.path.join(root, ENGINE_RES)):
        out += [os.path.join(dirpath, n) for n in names]
    return sorted(out)


def stamp(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if needed; return the class directory. Raises on failure."""
    if not os.path.isdir(os.path.join(root, ENGINE_SRC, "graft")):
        raise RuntimeError("engine sources not found under %s" % os.path.join(root, ENGINE_SRC))
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise RuntimeError("Spark jars not found at %s (set SPARK_HOME)" % jars)
    srcs = sources(root)
    res = resources(root)
    want = stamp(srcs + res, root)
    out = classes_dir(root)
    stamp_file = os.path.join(build_dir(root), "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(root), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp, "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise RuntimeError("scalac failed with exit code %d" % r.returncode)
    for f in res:
        dst = os.path.join(out, os.path.relpath(f, os.path.join(root, ENGINE_RES)))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except Exception as e:  # noqa: BLE001 - report any build failure as exit 1
        print("perfbench build failed: %s" % e, file=sys.stderr)
        sys.exit(1)

"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own harness (graftbench/src) with the Scala compiler that
ships among the program's Spark jars, without sbt.

The jar directory is the one the program's build.sbt names as its
`unmanagedBase`. Classes land in .bench_build/classes and are reused
while the sources and the compiler command stay the same.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    """The jar directory from build.sbt's `unmanagedBase := file("...")`."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt in %s: run from the root of a checkout" % root)
    with open(sbt, encoding="utf-8") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise BuildError("missing source directory %s" % d)
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Returns the run classpath, compiling first when needed."""
    jars = spark_jars(root)
    srcs = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    out_root = os.path.join(root, ".bench_build")
    classes = os.path.join(out_root, "classes")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jars + "/*"]
    h = hashlib.sha256(" ".join(cmd).encode())
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(classes, ".stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        print("[graftbench] compiling %d sources" % len(srcs), file=sys.stderr)
        r = subprocess.run(cmd + ["-d", tmp] + srcs, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("compilation failed:\n" + r.stdout[-4000:])
        with open(os.path.join(tmp, ".stamp"), "w") as f:
            f.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return os.pathsep.join([classes, resources, jars + "/*"])


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print("[graftbench] %s" % e, file=sys.stderr)
        sys.exit(2)

"""Builds graft and the benchmark harness from source with plain scalac.

The Scala compiler and Spark ship as jars in the Spark jar directory that
the repository's build.sbt names as `unmanagedBase` (or SPARK_JARS, when
set), so no build tool or network is needed. Classes land in
<build>/classes and are rebuilt only when a source file changes.

  python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The jar directory graft itself builds against (build.sbt)."""
    if "SPARK_JARS" in os.environ:
        return os.environ["SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise FileNotFoundError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        if not os.path.isdir(d):
            raise FileNotFoundError(f"source directory {d} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(classes, jars):
    return f"{classes}{os.pathsep}{os.path.join(jars, '*')}"


def build(root, build_dir):
    """Compile if needed; return the runtime classpath."""
    srcs = sources(root)
    jar_dir = spark_jars(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classpath(classes, jar_dir)
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(jar_dir, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir}", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-cp", jars, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr, stderr=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath(classes, jar_dir)


if __name__ == "__main__":
    root = os.path.dirname(HERE)
    print(build(root, os.path.join(root, ".bench_build")))

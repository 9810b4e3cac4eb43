"""Build file of the benchmark.

Compiles graft's sources (`src/main/scala`) together with the benchmark
harness (`perfbench/scala`) using the Scala compiler that ships among
Spark's jars, into `.bench_build/classes-<digest>` at the checkout root.
The digest covers every source file, so an unchanged tree is not rebuilt
and a changed one never runs stale classes.

    python3 perfbench/build.py      # build (or confirm the build is current)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if not os.environ.get("SPARK_HOME"):
    raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
SPARK_JARS = os.path.join(os.environ["SPARK_HOME"], "jars")
SOURCE_DIRS = ("src/main/scala", "perfbench/scala")


def sources(root=ROOT):
    files = []
    for d in SOURCE_DIRS:
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files, root=ROOT):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure(root=ROOT):
    """Return (classes dir, source digest), compiling if needed."""
    if not glob.glob(os.path.join(root, "src/main/scala/graft/*.scala")):
        raise SystemExit("perfbench: graft sources not found under %s/src/main/scala" % root)
    files = sources(root)
    dig = digest(files, root)
    out = os.path.join(root, ".bench_build", "classes-" + dig[:16])
    if os.path.isdir(out):
        return out, dig
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # an explicit classpath: scalac's default one is ".", under which the
    # checkout's perfbench/scala directory would read as a package
    jars = os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-classpath", jars] + files))
    try:
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compilation failed")
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
    finally:
        os.remove(argfile)
        shutil.rmtree(tmp, ignore_errors=True)
    return out, dig


if __name__ == "__main__":
    print(ensure()[0])

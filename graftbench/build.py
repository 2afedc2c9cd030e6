"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala of the checkout) together
with the benchmark's own sources (graftbench/src) with the Scala compiler
that ships in the Spark distribution, into .bench_build/graftbench/classes.
A stamp of the sources' content skips the compile when nothing changed.

    python3 graftbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    one next to the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise RuntimeError("no Spark distribution found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise RuntimeError("no java found (set JAVA_HOME)")
    return found


def sources(root, bench):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(bench, "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise RuntimeError(f"source directory missing: {os.path.relpath(d, root)}")
    files = []
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root, bench, out_dir):
    """Returns the classes directory, compiling first if the sources changed."""
    files = sources(root, bench)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(out_dir, f"classes.tmp.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir, f"sources.{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java_bin(), "-XX:-UsePerfData", "-Xss8m", "-Xmx1536m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print(f"graftbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    try:
        proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.getcwd()
    try:
        print(build(root, here, os.path.join(root, ".bench_build", "graftbench")))
    except RuntimeError as e:
        print(f"graftbench: {e}", file=sys.stderr)
        sys.exit(1)

"""Build file of the benchmark.

Compiles the engine (`src/main/scala`, plus `src/main/resources`) and the
benchmark's JVM program (`perfbench/scala`) into `<build>/classes` with the
Scala compiler that ships in Spark's own jars, so no build tool, network
or cache outside the checkout is involved. A stamp of every source file's
content makes a second build with unchanged sources a no-op.

Usage: python3 perfbench/build.py [BUILD_DIR]   (default .bench_build)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the project's own build
    compiles against (build.sbt's unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME to the Spark distribution to build against")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    return main, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(build_dir):
    return os.path.join(build_dir, "classes") + os.pathsep + \
        os.path.join(spark_jars(), "*")


def build(build_dir):
    """Compile if the sources changed; return the run classpath."""
    main, bench = sources()
    if not main:
        raise SystemExit("no engine sources under src/main/scala: "
                         "run from the root of a checkout")
    resources = os.path.join(ROOT, "src/main/resources")
    res_files = sorted(glob.glob(os.path.join(resources, "**/*"),
                                 recursive=True))
    want = stamp(main + bench + [f for f in res_files if os.path.isfile(f)])
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == want:
        return classpath(build_dir)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars] + main + bench
    proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit(f"compile failed (exit {proc.returncode})")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classpath(build_dir)


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(os.path.abspath(out)))

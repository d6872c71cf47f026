"""Build definition for the graft benchmark harness.

Compiles the engine sources (src/main/scala) together with the harness
sources (graftbench/src) into one class directory with the Scala compiler
that ships in the Spark distribution's jars/ directory ($SPARK_HOME/jars,
or the one beside the spark-submit on PATH), so no build tool, network or
package cache is involved. The build is skipped when a stamp over every source
file's path, size and mtime matches the previous build.

    python3 graftbench/build.py          # build (or confirm up to date)

Paths are relative to the repository root, which must be the current
directory.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"
ENGINE_SRC = "src/main/scala"
ENGINE_RES = "src/main/resources"
HARNESS_SRC = "graftbench/src"


def build_dir():
    return os.path.join(".bench_build", "graftbench")


def classes_dir():
    return os.path.join(build_dir(), "classes")


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("build: set SPARK_HOME (or put spark-submit on PATH)")
    return os.path.join(home, "jars")


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(spark_jars_dir(), "*.jar")))
    if not jars:
        raise SystemExit(f"build: no jars under {spark_jars_dir()}")
    return jars


def compiler_classpath():
    names = [f"scala-{m}-{SCALA_VERSION}.jar"
             for m in ("compiler", "library", "reflect")]
    paths = [os.path.join(spark_jars_dir(), n) for n in names]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"build: missing Scala compiler jars {missing}")
    return paths


def sources():
    out = []
    for root in (ENGINE_SRC, HARNESS_SRC):
        if not os.path.isdir(root):
            raise SystemExit(f"build: source directory {root} not found "
                             "(run from the repository root)")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def runtime_classpath():
    return [classes_dir(), ENGINE_RES] + spark_classpath()


def build(log=sys.stderr):
    srcs = sources()
    want = stamp(srcs)
    stamp_file = os.path.join(build_dir(), "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return
    out = classes_dir()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print(f"build: compiling {len(srcs)} sources into {out}", file=log,
          flush=True)
    cmd = ["java", "-Xmx2g", "-Xss8m",
           "-cp", os.pathsep.join(compiler_classpath()),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(spark_classpath()),
           "-d", out] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()

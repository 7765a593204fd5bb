"""Build graft's main classes from the checkout's sources.

The classes are compiled with the Scala compiler that ships in Spark's
``jars`` directory, against the same jars the benchmark's Spark session
runs on. Output lands in ``.bench_build/classes-<hash>`` where the hash
covers every source file, so an unchanged tree compiles once and any edit
rebuilds.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SRC = os.path.join("src", "main", "scala")
COMPILER_JARS = ("scala-compiler", "scala-library", "scala-reflect")


class BuildError(RuntimeError):
    pass


def spark_jars_dir():
    from pyspark.find_spark_home import _find_spark_home
    jars = os.path.join(_find_spark_home(), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return jars


def sources(root):
    files = sorted(glob.glob(os.path.join(root, SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError(f"no Scala sources under {os.path.join(root, SRC)}")
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_built(root, build_dir):
    """Return the classes directory for the checkout at ``root``."""
    files = sources(root)
    out = os.path.join(build_dir, "classes-" + source_hash(files))
    if os.path.isdir(out):
        return out
    jars = spark_jars_dir()
    compiler_cp = []
    for name in COMPILER_JARS:
        found = sorted(glob.glob(os.path.join(jars, f"{name}-2.13*.jar")))
        if not found:
            raise BuildError(f"{name} jar not found under {jars}")
        compiler_cp.append(found[-1])
    for stale in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "scalac-args.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler_cp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise BuildError(f"scalac exited with {proc.returncode}")
    os.rename(tmp, out)
    return out

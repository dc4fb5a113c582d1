"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark driver (`perfbench/scala`) with the Scala compiler that ships
with Spark, into `<build dir>/classes`. A stamp of the sources' hash skips
the build when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout; Spark's
jars come from `$SPARK_HOME/jars`)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else those of the pyspark package."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        import pyspark
    except ImportError:
        raise SystemExit("set SPARK_HOME: no Spark installation found")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


SPARK_JARS = _spark_jars()


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_classpath():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        raise SystemExit(f"no Scala compiler among the jars in {SPARK_JARS}")
    return jars


def sources():
    found = []
    for top in ("src/main/scala", "perfbench/scala"):
        base = os.path.join(ROOT, top)
        if not os.path.isdir(base):
            raise SystemExit(f"missing source directory {top}")
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Returns the classes directory, compiling if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(spark_classpath())
    args_file = os.path.join(build_dir(), "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"scalac failed with code {r.returncode}")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return out


if __name__ == "__main__":
    print(build())

"""Build file of the benchmark package.

Compiles the engine's sources (``src/main/scala`` of the checkout) together
with the benchmark's own (``perfbench/src``) into ``<build dir>/classes``
with the Scala compiler that ships in Spark's jar directory, so no build
tool or dependency download is needed. A stamp over every source file's
path and contents makes a rebuild of unchanged sources a no-op.

    python3 perfbench/build.py            # from the checkout root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                           or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark installation with a Scala "
                         "compiler found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: engine sources not found under "
                         "src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"),
                           recursive=True))
    return engine + own


def build():
    """Compile if any source changed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", out] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


if __name__ == "__main__":
    print(build())

"""Build file of the benchmark: compiles the engine (`src/main/scala`) and the
benchmark's own Scala code (`perfbench/src`) into `.bench_build/classes-<hash>` with the
Scala compiler that ships in the Spark distribution, so a build needs no
dependency resolution and writes nothing outside the checkout.

    python3 perfbench/build.py        # build (or reuse) and print the class dir

The class directory is keyed by a hash of every source file, so an unchanged
tree reuses it and any edit rebuilds.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The `jars` directory of the Spark distribution (SPARK_HOME, else the
    one `spark-submit` on PATH belongs to)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    exe = shutil.which("spark-submit")
    if exe:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(exe))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")) and glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise RuntimeError("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    if not engine:
        raise RuntimeError("no engine sources under src/main/scala")
    if not bench:
        raise RuntimeError("no benchmark sources under perfbench/src")
    return engine + bench


def build(log=sys.stderr):
    """Returns (class dir, Spark jars dir), compiling when the sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out, jars
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"),
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        log.write(r.stdout.decode(errors="replace")[-20000:])
        raise RuntimeError(f"compilation failed (exit {r.returncode})")
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except Exception as e:  # noqa: BLE001 - report any build failure the same way
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)

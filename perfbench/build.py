"""Builds the engine and the benchmark main from source with scalac.

The engine's sources (``src/main`` of the checkout) and the benchmark's
own (``perfbench/src``) compile against the Spark jars under
``$SPARK_HOME/jars``, which also carry the Scala compiler the engine's
build uses. Output goes to ``.bench_build/perfbench/classes-<hash>``,
keyed by a hash of every source file, so an unchanged tree is built once.

Run on its own: ``python3 perfbench/build.py`` prints the class path.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        sys.exit("perfbench: set SPARK_HOME to a Spark 4.1 install (its jars/ holds the Scala compiler)")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _files(top):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def _scalac(jars, out, classpath, sources):
    os.makedirs(out)
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        sys.exit(f"perfbench: compiling {out} failed")


def build():
    """Returns the class path holding the engine and the benchmark."""
    engine_src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine_src, "scala")):
        sys.exit(f"perfbench: no engine sources under {engine_src}; run from the repository root")
    jars = spark_jars()
    engine_files = _files(engine_src)
    bench_files = _files(os.path.join(HERE, "src"))
    h = hashlib.sha256()
    for p in engine_files + bench_files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    target = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    engine, bench = os.path.join(target, "engine"), os.path.join(target, "bench")
    if not os.path.exists(os.path.join(target, "OK")):
        shutil.rmtree(target, ignore_errors=True)
        _scalac(jars, engine, jars, [p for p in engine_files if p.endswith(".scala")])
        resources = os.path.join(engine_src, "resources")
        if os.path.isdir(resources):
            shutil.copytree(resources, engine, dirs_exist_ok=True)
        _scalac(jars, bench, engine + os.pathsep + jars,
                [p for p in bench_files if p.endswith(".scala")])
        open(os.path.join(target, "OK"), "w").close()
    return os.pathsep.join([engine, bench, jars])


if __name__ == "__main__":
    print(build())

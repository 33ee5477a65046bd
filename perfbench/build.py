#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala, plus src/main/resources if present)
and then the benchmark sources (perfbench/src) with the Scala compiler
that ships in Spark's jars directory (scala.tools.nsc.Main), without sbt.
Run from the root of a checkout:

    python3 perfbench/build.py

Outputs go to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench).
Each half is rebuilt only when a hash of its sources changes.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time


def _spark_home():
    """$SPARK_HOME, else the installation that owns spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    return home


SPARK_JARS = os.path.join(_spark_home(), "jars")

# JDK 17 module opens Spark needs outside spark-submit: the list build.sbt
# passes to forked runs (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


_children = []


def spawn(cmd, **kw):
    """Starts a child in its own process group; stop_children() ends it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    return p


def stop_children(signum=None, frame=None):
    """Kills every child started by spawn() and waits for it; as a signal
    handler it then exits."""
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    if signum is not None:
        sys.exit(128 + signum)


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def out_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, base, "perfbench")


def _sources(root, pattern):
    return sorted(glob.glob(os.path.join(root, pattern), recursive=True))


def _digest(root, files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(files, classpath, dest, stamp_file, digest):
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return False
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", classpath,
           "-d", dest, "@" + argfile]
    if spawn(cmd, stdout=sys.stderr, stderr=sys.stderr).wait() != 0:
        raise SystemExit("perfbench build: scalac failed for %s" % dest)
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return True


def build(root):
    """Compiles what changed; returns the run classpath."""
    engine_src = _sources(root, "src/main/scala/**/*.scala")
    bench_src = _sources(root, "perfbench/src/**/*.scala")
    if not engine_src or not bench_src:
        raise SystemExit("perfbench build: no engine sources under src/main/scala "
                         "(run from the root of a checkout)")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit("perfbench build: Spark jars not found at " + SPARK_JARS)
    out = out_dir(root)
    os.makedirs(out, exist_ok=True)
    engine = os.path.join(out, "engine")
    bench = os.path.join(out, "bench")
    resources = _sources(root, "src/main/resources/**/*")
    resources = [f for f in resources if os.path.isfile(f)]
    engine_digest = _digest(root, engine_src + resources)
    jars = os.path.join(SPARK_JARS, "*")
    if _compile(engine_src, jars, engine, os.path.join(out, "engine.stamp"), engine_digest):
        for f in resources:
            rel = os.path.relpath(f, os.path.join(root, "src/main/resources"))
            os.makedirs(os.path.dirname(os.path.join(engine, rel)), exist_ok=True)
            shutil.copy(f, os.path.join(engine, rel))
    # the benchmark is rebuilt whenever the engine it links against changes
    _compile(bench_src, engine + os.pathsep + jars, bench,
             os.path.join(out, "bench.stamp"), _digest(root, bench_src, engine_digest))
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    t0 = time.time()
    build(os.getcwd())
    print("perfbench build: ok (%.1f s)" % (time.time() - t0), file=sys.stderr)

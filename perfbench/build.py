#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness with the Scala compiler that ships among the Spark jars,
then generates the benchmark's base tables. Everything lands under the
build directory of the checkout (``$CARGO_TARGET_DIR`` if set, else
``.bench_build``); a step is skipped when the digest of its inputs is
unchanged.

Usage: python3 perfbench/build.py        (from the root of a checkout)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
SCALE = "1.0"  # DataGen scale: 1.0 is sf0.1 (600k lineitem rows)
# JDK 17 module opens Spark needs outside spark-submit; the same list the
# repo's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")


def jar_dir():
    """The Spark jar directory: $SPARK_HOME/jars, else the unmanagedBase
    the repo's build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("no Spark jars: set SPARK_HOME or run from a graft checkout")
    return m.group(1)


def sources(top):
    return sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def source_digest():
    """Digest of graft's main sources: identifies the code a result measured."""
    return digest(sources(os.path.join(ROOT, "src", "main", "scala")))


def jvm_opts():
    """Options of every JVM the benchmark starts: the module opens, and no
    perf-data file (the JVM would write it outside the checkout)."""
    return ["-XX:-UsePerfData", *[o for p in ADD_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]]


def classpath(*dirs):
    return os.pathsep.join([os.path.join(jar_dir(), "*"), *dirs])


def _stamped(dirpath, stamp):
    try:
        with open(os.path.join(dirpath, ".stamp")) as f:
            return f.read() == stamp
    except OSError:
        return False


def _run(cmd, log):
    with open(log, "w") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=ROOT)
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BuildError(f"{cmd[0]} failed (exit {r.returncode}); log {log}:\n{tail}")


def compile_dir(srcs, dest, cp, stamp, log):
    if _stamped(dest, stamp):
        return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    _run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jar_dir(), "*"),
          "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", cp, *srcs], log)
    with open(os.path.join(dest, ".stamp"), "w") as f:
        f.write(stamp)


def build():
    """Compiles and generates what is stale; returns (classpath, data dir)."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isfile(os.path.join(main_src, "graft", "GraftSession.scala")):
        raise BuildError(f"graft sources not found under {main_src}: run from a graft checkout")
    out = out_dir()
    os.makedirs(out, exist_ok=True)
    main_cls = os.path.join(out, "classes-main")
    bench_cls = os.path.join(out, "classes-bench")
    jars = sorted(os.listdir(jar_dir()))
    main_files = sources(main_src)
    bench_files = sources(os.path.join(BENCH, "src"))
    main_stamp = digest(main_files, "\n".join(jars))
    compile_dir(main_files, main_cls, classpath(), main_stamp, os.path.join(out, "compile-main.log"))
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, main_cls, dirs_exist_ok=True)
    compile_dir(bench_files, bench_cls, classpath(main_cls), digest(bench_files, main_stamp),
                os.path.join(out, "compile-bench.log"))
    cp = classpath(main_cls, bench_cls)
    gen_files = [os.path.join(BENCH, "src", "graft", "perfbench", "DataGen.scala")]
    data = os.path.join(out, "data")
    gen_stamp = digest(gen_files, SCALE)
    if not _stamped(data, gen_stamp):
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        tmp = os.path.join(out, "work", "tmp")
        os.makedirs(tmp, exist_ok=True)
        _run(["java", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              *jvm_opts(), "-cp", cp, "graft.perfbench.DataGen", data, SCALE],
             os.path.join(out, "datagen.log"))
        with open(os.path.join(data, ".stamp"), "w") as f:
            f.write(gen_stamp)
    return cp, data


if __name__ == "__main__":
    try:
        print(build()[1])
    except BuildError as e:
        sys.exit(f"build: {e}")

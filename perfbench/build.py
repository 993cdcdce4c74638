#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala, src/main/resources) together with the
benchmark sources (perfbench/src) into .bench_build/classes with the Scala
compiler shipped in the Spark jars directory (SPARK_JARS_DIR, else the
unmanagedBase of build.sbt); the test sources
(perfbench/test) go to .bench_build/test-classes. A stamp of the source
digests skips a rebuild when nothing changed.

    python3 perfbench/build.py            # build (or reuse) the classes
    python3 perfbench/build.py --test     # also build the benchmark's tests
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars_dir():
    """The Spark jars directory: SPARK_JARS_DIR, else build.sbt's unmanagedBase."""
    if "SPARK_JARS_DIR" in os.environ:
        return os.environ["SPARK_JARS_DIR"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m is None:
        raise SystemExit("perfbench build: set SPARK_JARS_DIR (no unmanagedBase in build.sbt)")
    return m.group(1)


def sources(*dirs):
    out = []
    for d in dirs:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac_cp():
    libs = ["scala-library", "scala-compiler", "scala-reflect"]
    jars = []
    for lib in libs:
        found = glob.glob(os.path.join(spark_jars_dir(), lib + "-2.13.*.jar"))
        if not found:
            raise SystemExit("perfbench build: %s jar not found in %s" % (lib, spark_jars_dir()))
        jars.append(found[0])
    return ":".join(jars)


def compile_into(dest, files, extra_cp=""):
    tmp = dest + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars_dir(), "*") + (":" + extra_cp if extra_cp else "")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", scalac_cp(), "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp, "-d", tmp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench build: compilation failed")
    return tmp


def build(with_tests=False):
    """Returns the classpath (program + benchmark [+ tests]) to run with."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    res = os.path.join(ROOT, "src", "main", "resources")
    if not os.path.isdir(main_src):
        raise SystemExit("perfbench build: no program sources at src/main/scala")
    files = sources(main_src, os.path.join(BENCH, "src"))
    res_files = sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True))
    stamp = digest(files + [f for f in res_files if os.path.isfile(f)])
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        tmp = compile_into(classes, files)
        with open(os.path.join(tmp, ".stamp"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(classes, ignore_errors=True)
        os.replace(tmp, classes)
    cp = [classes, res]
    if with_tests:
        tests = sources(os.path.join(BENCH, "test"))
        tclasses = os.path.join(OUT, "test-classes")
        tstamp = stamp + digest(tests)
        tstamp_file = os.path.join(tclasses, ".stamp")
        if not (os.path.exists(tstamp_file) and open(tstamp_file).read() == tstamp):
            tmp = compile_into(tclasses, tests, classes)
            with open(os.path.join(tmp, ".stamp"), "w") as fh:
                fh.write(tstamp)
            shutil.rmtree(tclasses, ignore_errors=True)
            os.replace(tmp, tclasses)
        cp.append(tclasses)
    return cp + [os.path.join(spark_jars_dir(), "*")], stamp


if __name__ == "__main__":
    cp, stamp = build("--test" in sys.argv)
    print("built %s" % stamp)

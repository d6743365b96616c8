#!/usr/bin/env python3
"""Layered benchmark for the PCAP-to-tables engine and its standing indexes.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Workloads: ingest_many_files, ingest_one_capture, index_serve_maintain
(see perfbench/README.md). The first call compiles the engine
(src/main/scala) and the benchmark (perfbench/src) with the Scala compiler
that ships in Spark's jars, into .bench_build/perfbench; later calls reuse
the classes while the sources are unchanged. The last line on stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(1)


def spark_jars():
    """Spark's jars: $SPARK_HOME, else the first distribution on the PATH
    whose spark-submit sits next to a jars dir with a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_if_stale(name, srcs, classpath, jars, extra_stamp=""):
    """Compile `srcs` into BUILD/name unless its stamp matches; returns
    (output dir, stamp)."""
    out = os.path.join(BUILD, name)
    st = stamp(srcs, extra_stamp)
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return out, st
    tmp = out + ".tmp-%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    sys.stderr.write("perfbench: compiling %s (%d files)\n" % (name, len(srcs)))
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compiling %s failed" % name)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(st)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, st


def build():
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_src:
        fail("engine sources not found under src/main/scala; run from the repository root")
    bench_src = sources(os.path.join(BENCH, "src"))
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    main_out, main_stamp = compile_if_stale("main", main_src, jar_cp, jars)
    bench_out, _ = compile_if_stale("bench", bench_src, os.pathsep.join([main_out, jar_cp]), jars,
                                    extra_stamp=main_stamp)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([bench_out, main_out, resources, jar_cp])


def main(argv):
    selftest = "--selftest" in argv
    if not selftest and "--workload" not in argv:
        fail("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> | --selftest")
    classpath = build()
    tmp = os.path.join(ROOT, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["java", "-Xmx3g", "-Xss4m", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    main_class = "perfbench.SelfTest" if selftest else "perfbench.Main"
    # inputs, Spark scratch space and outputs of this run; removed even
    # when the run is killed
    work = os.path.join(ROOT, ".bench_build", "work", "run-%d" % os.getpid())
    args = [a for a in argv if a != "--selftest"] + ["--work", work]
    # a SIGTERM unwinds through the finally below, so the JVM is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(jvm + ["-cp", classpath, main_class] + args)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])

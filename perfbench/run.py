#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload long_pages --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. Build outputs, inputs and spans go under
`.bench_build/perfbench/`. The Spark jars (which include the Scala
compiler) come from `$SPARK_HOME/jars`, or else from the directory the
root build.sbt names as `unmanagedBase`. The last line of standard output
is the result JSON of `perfbench.Main`.

The build ends with one short untimed run that records the classes it
loads in a class-data-sharing archive; every measured run maps it instead
of loading Spark's classes one by one, which halves the time a cold JVM
takes to reach its first Spark job. No metric includes JVM start.
"""
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "1g"
# A fixed young generation instead of G1's adaptive one: a lap then sees
# about a dozen young collections instead of two or three, so the largest heap
# left after one (peak_heap_mb) no longer depends on where few of them fell.
YOUNG = "128m"
# Compile thresholds 5-10x below the JDK's defaults. At the defaults the JIT
# needed about twelve laps, longer than a run can afford, before a lap's CPU
# stopped falling; C2 still compiles every hot method, only sooner. The
# compiler threads are fixed so that perfbench.Main can leave their CPU out.
JIT = ["-XX:-UseDynamicNumberOfCompilerThreads",
       "-XX:Tier3InvocationThreshold=100", "-XX:Tier4InvocationThreshold=1000",
       "-XX:Tier4CompileThreshold=1500", "-XX:Tier4BackEdgeThreshold=4000"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# root build.sbt, from Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    die("no Spark jars: set SPARK_HOME or run from a checkout whose build.sbt names them")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp_of(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in (f for f in files if os.path.isfile(f)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jar_up(src_dir, jar):
    """Zip a directory tree into `jar` (a class-data-sharing archive needs
    jars, not directories, on the classpath)."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(src_dir)):
            for f in sorted(files):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, src_dir))
    os.replace(tmp, jar)


def up_to_date(jar, stamp):
    return (os.path.isfile(jar) and os.path.isfile(jar + ".stamp")
            and open(jar + ".stamp").read() == stamp)


def mark(jar, stamp):
    with open(jar + ".stamp", "w") as fh:
        fh.write(stamp)


def compile_into(name, srcs, deps, jars):
    """Compile `srcs` against the (jar, stamp) pairs `deps` into
    OUT/<name>.jar unless its stamp says it is current; returns
    (jar, stamp)."""
    jar = os.path.join(OUT, name + ".jar")
    classpath = [d[0] for d in deps]
    stamp = stamp_of(srcs, "".join(d[1] for d in deps))
    if up_to_date(jar, stamp):
        return jar, stamp
    classes = os.path.join(OUT, name + ".classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join([os.path.join(jars, "*")] + classpath)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp] + srcs
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr)
    if run_child(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr) != 0:
        die(f"compiling {name} failed")
    jar_up(classes, jar)
    shutil.rmtree(classes)
    mark(jar, stamp)
    return jar, stamp


def run_child(cmd, timeout, stdout=None):
    """Run `cmd`, killing it (and waiting for it) on timeout or on a signal."""
    p = subprocess.Popen(cmd, stdout=stdout, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: timed out after {timeout}s", file=sys.stderr)
        stop()


def java_cmd(jars, cp, main_class, args, jvm=()):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+AlwaysPreTouch",
             "-Xlog:disable", "-Xlog:all=error:stderr"] + JIT + list(jvm) +
            [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
             f"-Dperfbench.work={os.path.join(OUT, 'work')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]), main_class] + list(args))


def build(jars, with_tests=False):
    """Returns the classpath jars and the JVM flags that map this build's
    class-data-sharing archive."""
    engine = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not engine:
        die("engine sources (src/main/scala) not found: run from the root of a checkout")
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    main = compile_into("engine", engine, [], jars)
    bench = compile_into("bench", sources(os.path.join(HERE, "src")), [main], jars)
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    res = os.path.join(OUT, "resources.jar")
    s3 = stamp_of(sorted(glob.glob(os.path.join(res_dir, "**", "*"), recursive=True)))
    if not up_to_date(res, s3):
        jar_up(res_dir, res)
        mark(res, s3)
    cp = [bench[0], main[0], res]
    if with_tests:
        cp.insert(0, compile_into("tests", sources(os.path.join(HERE, "test")), [bench, main], jars)[0])
        return cp, []
    stamp = hashlib.sha256((main[1] + bench[1] + s3 + HEAP + YOUNG + " ".join(JIT)).encode()).hexdigest()[:16]
    archive = os.path.join(OUT, f"cds-{stamp}.jsa")
    if not os.path.isfile(archive):
        for old in glob.glob(os.path.join(OUT, "cds-*.jsa")):
            os.remove(old)
        print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
        dump = java_cmd(jars, cp, "perfbench.Main",
                        ["--workload", "dup_skew", "--seed", "0", "--seconds", "1", "--trace", "1"],
                        [f"-XX:ArchiveClassesAtExit={archive}"])
        if run_child(dump, BUILD_TIMEOUT_S, stdout=subprocess.DEVNULL) != 0 or not os.path.isfile(archive):
            die("recording the class-data-sharing archive failed")
    return cp, [f"-XX:SharedArchiveFile={archive}"]


def main():
    args = sys.argv[1:]
    self_test = args == ["--self-test"]
    jars = spark_jars()
    cp, cds = build(jars, with_tests=self_test)
    cmd = java_cmd(jars, cp, "perfbench.SelfTest" if self_test else "perfbench.Main",
                   [] if self_test else args, cds)
    sys.exit(run_child(cmd, 600 if self_test else RUN_TIMEOUT_S))


if __name__ == "__main__":
    main()

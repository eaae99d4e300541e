#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one JSON result line.

    python3 perfbench/run.py --workload feature_build --seed 1 --seconds 3 --trace 0

Run from the root of a checkout. The first call builds into `.bench_build/`:
it compiles the engine (`src/main/scala`) and the benchmark (`perfbench/src`)
with the Scala compiler that ships in the Spark jar directory, packs each into
a jar, and writes a class-data archive (JDK AppCDS) from one JVM that runs a
small step of every listed workload. Later calls reuse all three while the sources
are unchanged. The build happens before the JVM under test starts, so it is
never part of `setup_s`.

Each run gets a fresh directory under `.bench_build/runs/` (inputs,
warehouse, checkpoints, outputs, JVM temp) that is removed when the run ends.
The last line of stdout is the result object; everything else (Spark's log)
goes to stderr.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile

WORKLOADS = ("feature_build", "train_walkforward", "query_mix", "stream_replay")
ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CORES = min(4, os.cpu_count() or 1)

SCALA_VERSION = "2.13.17"
# A fixed-size, pre-touched heap: heap resizing stays out of the unit times,
# and peak_rss_mb does not depend on how much of the heap a run happened to
# touch (its spread over ten seeds was 0.125 without pre-touch, 0.003 with it).
HEAP = "2g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def spark_jars():
    """The jar directory build.sbt compiles the engine against (its
    `unmanagedBase`)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m or not os.path.isdir(m.group(1)):
        fail("no Spark jar directory: run from a checkout root whose build.sbt sets unmanagedBase")
    return m.group(1)


def compile_tree(name, sources, classpath, compiler):
    """scalac `sources` into .bench_build/<name>/classes and pack them into
    .bench_build/<name>/<name>.jar, unless the stamp (hash of the sources and
    the classpath) says the jar is already there. Returns (jar, stamp)."""
    h = hashlib.sha256()
    for p in classpath + sources:
        h.update(p.encode())
        if p in sources:
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD_DIR, name)
    stamp = os.path.join(out, "stamp")
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, name + ".jar")
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar, h.hexdigest()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    print(f"[perfbench] compiling {name} ({len(sources)} files)", file=sys.stderr)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-classpath", ":".join(classpath), "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail(f"compiling {name} failed")
    # the class-data archive takes classes from jars only, not directories
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return jar, h.hexdigest()


def jvm(classpath, tmp, args, extra=()):
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
             # no hsperfdata file in the system temp directory
             "-XX:-UsePerfData",
             # JVM warnings (class-data archive ones among them) go to stderr,
             # never to the stdout that carries the result
             "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={tmp}",
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH_DIR, "log4j2.properties")]
            + list(extra)
            + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", ":".join(classpath), "graftbench.Main"] + args)


def class_archive(classpath, key, cores):
    """The class-data archive for this build, written on first use by a JVM
    that loads every listed workload's classes. Without it each run spent about 9 s
    more loading Spark's classes before its first timed unit. Returns None
    if the archive cannot be written; runs then load classes from the jars."""
    d = os.path.join(BUILD_DIR, "cds")
    path = os.path.join(d, f"app-{key[:16]}.jsa")
    if os.path.exists(path):
        return path
    shutil.rmtree(d, ignore_errors=True)
    work = os.path.join(d, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    print("[perfbench] writing the class-data archive", file=sys.stderr)
    with open(os.path.join(d, "archive.log"), "w") as log:
        try:
            r = subprocess.run(
                jvm(classpath, tmp, ["--workload", "classlist", "--cores", str(cores), "--workdir", work],
                    [f"-XX:ArchiveClassesAtExit={path}.part"]),
                stdout=log, stderr=log, cwd=work, timeout=600,
                env=dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp))
            ok = r.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok or not os.path.exists(path + ".part"):
        print(f"[perfbench] no class-data archive (see {d}/archive.log)", file=sys.stderr)
        return None
    os.rename(path + ".part", path)
    return path


def build(with_archive=True):
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        fail(f"no engine sources under {engine_src}; run from a checkout root")
    spark = spark_jars()
    jars = sorted(os.path.join(spark, j) for j in os.listdir(spark) if j.endswith(".jar"))
    compiler = [os.path.join(spark, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    engine, engine_key = compile_tree("engine", scala_sources(engine_src), jars, compiler)
    bench, bench_key = compile_tree("bench", scala_sources(os.path.join(BENCH_DIR, "src")),
                                    [engine] + jars, compiler)
    classpath = [bench, engine] + jars
    key = hashlib.sha256((engine_key + bench_key).encode()).hexdigest()
    return classpath, class_archive(classpath, key, CORES) if with_archive else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("selftest",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, archive = build(with_archive=args.workload != "selftest")
    cores = CORES
    os.makedirs(os.path.join(BUILD_DIR, "runs"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(BUILD_DIR, "runs"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = jvm(classpath, tmp,
              ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--cores", str(cores), "--workdir", work],
              [f"-XX:SharedArchiveFile={archive}"] if archive else [])
    # two malloc arenas, as usual for JVMs: with one per thread, the native
    # part of the peak resident set varied with thread timing
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=tmp, MALLOC_ARENA_MAX="2")
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                              env=env, cwd=work, text=True, timeout=170)
    except subprocess.TimeoutExpired:
        fail("JVM did not finish within 170 s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")]
    sys.stderr.write(proc.stdout)
    if proc.returncode != 0 or not lines:
        fail(f"JVM exited {proc.returncode} without a result")
    result = json.loads(lines[-1][len("RESULT "):])
    print(json.dumps(result))
    if args.workload == "selftest" and not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Paper-workload benchmark: build, then run one workload.

    python3 lakebench/run.py --workload sql_read_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Compiles the engine (src/main) and the
benchmark sources (lakebench/src) with the Scala compiler that ships in
the Spark distribution's jars ($SPARK_HOME/jars, else the directory
build.sbt compiles against), into jars under $CARGO_TARGET_DIR (default
.bench_build), rebuilding only when a source changes. After a build, a
short training run writes the JVM class-data archive every run maps. Then
runs one workload in one JVM and prints its result object as the last
line of stdout. See lakebench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
WORKLOADS = ("ingest_backfill", "sql_read_mix")
TRAIN_WORKLOAD = "sql_read_mix"

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = os.path.join(home, "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if not m:
            fail("set SPARK_HOME: the build needs the Spark jars")
        jars = m.group(1)
    if not os.path.isdir(jars):
        fail(f"no Spark jars in {jars}")
    return jars


def sources(*bases):
    """Every file under `bases`, as (path relative to the root, absolute path)."""
    out = []
    for base in bases:
        for d, _, names in os.walk(os.path.join(ROOT, base)):
            for n in names:
                p = os.path.join(d, n)
                out.append((os.path.relpath(p, ROOT), p))
    return sorted(out)


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for rel, p in files:
        h.update(rel.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def compile_stage(name, files, dig, classpath, out_dir, jars, resources=None):
    """scalac `files` (plus the `resources` directory) into <out_dir>/<name>.jar,
    unless its stamp matches `dig`."""
    classes = os.path.join(out_dir, name)
    jar = classes + ".jar"
    stamp = classes + ".sha256"
    if os.path.exists(stamp) and open(stamp).read().strip() == dig and os.path.exists(jar):
        return jar
    compiler = [os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                for m in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.exists(j):
            fail(f"missing {j}")
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = classes + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(p for rel, p in files if rel.endswith(".scala")) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.pathsep.join(classpath), "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        fail(f"compiling {name} failed (exit {r.returncode})")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    # a jar, not a directory, on the class path: the JVM's class-data
    # archive (see main) only covers classes loaded from jars
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    with open(stamp, "w") as f:
        f.write(dig + "\n")
    print(f"lakebench: compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar


def build(out_dir, jars):
    """Engine classes (src/main) then benchmark classes compiled against them."""
    engine_files = sources("src/main/scala", "src/main/resources")
    bench_files = sources("lakebench/src")
    if not any(rel.endswith(".scala") for rel, _ in engine_files):
        fail("no engine sources under src/main/scala: run from the repository root of a full checkout")
    if not bench_files:
        fail("no benchmark sources under lakebench/src")
    all_jars = os.path.join(jars, "*")
    engine_dig = digest(engine_files)
    engine = compile_stage("engine-classes", engine_files, engine_dig, [all_jars], out_dir, jars,
                           resources=os.path.join(ROOT, "src/main/resources"))
    bench_dig = digest(bench_files, engine_dig)
    bench = compile_stage("bench-classes", bench_files, bench_dig, [engine, all_jars], out_dir, jars)
    return [engine, bench], engine_dig, bench_dig


def commit_id(engine_dig):
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "engine-sources-sha256:" + engine_dig[:16]
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "engine-sources-sha256:" + engine_dig[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    jars = spark_jars()

    out_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    bench_dir = os.path.join(out_dir, "lakebench")
    os.makedirs(bench_dir, exist_ok=True)
    classes, dig, bench_dig = build(bench_dir, jars)

    # fixed heap and a stop-the-world collector with two threads: no heap
    # resizing and no concurrent GC threads competing with the measured work
    jvm = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classes + [os.path.join(jars, "*")])])
    work = os.path.join(bench_dir, "work")
    results = os.path.join(bench_dir, "results")

    def bench(opts, workload, seed, seconds, trace, result):
        return run_jvm(jvm + opts, ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                                    "--trace", str(trace), "--work", work, "--out", result,
                                    "--commit", commit_id(dig), "--heap", HEAP], work)

    # class-data archive of the classes a run loads, mapped by every run:
    # JVM and Spark start-up then spend far less time loading classes.
    # Once per build, a short training run of a fixed workload writes it,
    # so every measured run of every workload maps the same archive
    cds = os.path.join(bench_dir, f"classes-{bench_dig[:16]}.jsa")
    if not os.path.exists(cds):
        t0 = time.time()
        code, _ = bench([f"-XX:ArchiveClassesAtExit={cds}.tmp"], TRAIN_WORKLOAD, 0, 1, 0,
                        os.path.join(results, "training.json"))
        if code != 0 or not os.path.exists(cds + ".tmp"):
            fail(f"class-data training run failed (exit {code})")
        os.replace(cds + ".tmp", cds)
        print(f"lakebench: wrote class-data archive in {time.time() - t0:.1f} s", file=sys.stderr)

    code, out = bench([f"-XX:SharedArchiveFile={cds}"], a.workload, a.seed, a.seconds, a.trace,
                      os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if code != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited {code} without a result")
    print(lines[-1])


def run_jvm(cmd, args, work):
    """Run lakebench.Main in a fresh `work` directory; returns (exit code,
    stdout). The JVM is killed, and waited for, on timeout or on SIGTERM
    or SIGINT."""
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    proc = subprocess.Popen(cmd + [f"-Djava.io.tmpdir={tmp}", "lakebench.Main"] + args, cwd=work,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""searchspark benchmark runner.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles the program and the
benchmark mains from source with the Spark distribution's scalac, and
archives the classes a run loads (a JVM class-data-sharing archive, so
each run's JVM starts in ~3 s instead of ~6 s); both are reused while no source changes. Each run then
starts one fresh JVM for the workload, checks every answer, and prints
one JSON object as the last line of stdout: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones
of BENCHMARK.json, with --trace 1 the per-layer ones. See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing next to the sources

ROOT = os.getcwd()
JVM_TIMEOUT_S = 165
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution ($SPARK_HOME, else the one whose
    spark-submit is on the PATH): the ones the repository's build.sbt
    compiles against."""
    home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(shutil.which("spark-submit") or "."))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        die("no Spark distribution: set SPARK_HOME or put spark-submit on the PATH")
    return jars


def sources():
    """Every Scala source the build compiles, relative to the root, sorted."""
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files if f.endswith(".scala")]
    return sorted(out)


def target_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def build():
    """Compile once per source state; returns the runtime classpath.

    scalac from the Spark distribution compiles the program's sources and
    the benchmark mains into one jar (a JVM class-data-sharing archive can
    only hold classes loaded from jars). Nothing is written outside the
    target directory."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no src/main/scala here: run from the root of a searchspark checkout")
    jars = spark_jars()
    scala = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", os.path.basename(j))]
    if len(scala) != 3:
        die("no Scala compiler, library and reflect jars in the Spark distribution")
    target = target_dir()
    jar = os.path.join(target, "perfbench.jar")
    cp = os.pathsep.join([jar] + jars)
    srcs = sources()
    h = hashlib.sha256(cp.encode())
    for f in srcs:
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(target, "stamp")
    if os.path.exists(stamp) and os.path.exists(jar):
        with open(stamp) as fh:
            if fh.read() == h.hexdigest():
                return cp
    shutil.rmtree(target, ignore_errors=True)
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp)
    args = os.path.join(target, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(os.path.join(ROOT, f) for f in srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} sources (first run in this checkout)", file=sys.stderr)
    p = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", os.pathsep.join(scala), "scala.tools.nsc.Main", "-nowarn",
                        "-classpath", os.pathsep.join(jars), "-d", jar, "@" + args],
                       cwd=target, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if p.returncode != 0 or not os.path.exists(jar):
        die("build failed")
    # one run of search_hot on tiny inputs, archiving the classes it loads
    archive = os.path.join(target, "classes.jsa")
    print("perfbench: archiving classes", file=sys.stderr)
    with Work("classes") as work:
        run_jvm(cp, work, ["--workload", "classes", "--seed", "1", "--seconds", "0.5", "--trace", "0"],
                dump=archive)
    if not os.path.exists(archive):
        die("class archive not written")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return cp


class Work:
    """A run's scratch directory under .bench_work, removed when it ends."""

    def __init__(self, name):
        self.path = os.path.join(ROOT, ".bench_work", f"{name}-{os.getpid()}")

    def __enter__(self):
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        return self.path

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)


def run_jvm(cp, work, args, dump=None):
    """Runs perfbench.Main in a fresh JVM; with `dump`, writes the class
    archive there at exit, otherwise starts from the archive."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    archive = os.path.join(target_dir(), "classes.jsa")
    share = ([f"-XX:ArchiveClassesAtExit={dump}"] if dump
             else [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else [])
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:MaxGCPauseMillis=50", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=error:stderr"] + share + [
            f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")] + opens
           + ["-cp", cp, "perfbench.Main"] + args + ["--work", work])
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die(f"workload JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:  # on every way out, the JVM is gone before the runner goes on
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        die(f"workload JVM exited {proc.returncode} without a result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    # a runner stopped with SIGTERM unwinds, so its JVM is killed and its
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except OSError:
        die("no BENCHMARK.json here: run from the root of a searchspark checkout")
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")
    cp = build()

    with Work(a.workload) as work:
        res = run_jvm(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace)])
        if os.path.isdir(os.path.join(work, "ops_out")):
            import ops_oracle  # DuckDB, needed only by traced runs
            checked, mismatches = ops_oracle.check(os.path.join(work, "ops_tables"),
                                                   os.path.join(work, "ops_out"))
            res["attempted"] += checked
            res["failed"] += len(mismatches)
            res["errors"] += mismatches

    for e in res["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    metrics = {}
    if a.trace:
        for m in spec["per_layer"]:
            # a layer the workload does not exercise did no work: 0
            metrics[m["name"]] = {"value": res["layer"].get(m["name"], 0.0), "unit": m["unit"]}
    else:
        for m in spec["end_to_end"]:
            if res["e2e"].get(m["name"]) is None:
                die(f"workload produced no {m['name']}")
            metrics[m["name"]] = {"value": res["e2e"][m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()

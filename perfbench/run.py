#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a graft checkout:

    python3 perfbench/run.py --workload reference_batch --seed 1 --seconds 10 --trace 0

It compiles graft (`src/main/scala`) together with the benchmark harness
(`perfbench/src`) with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`, else the one build.sbt names), generates the input tables (`gendata.py`), then runs the
harness in a fresh JVM for the workload. Build output, data and scratch
files go to `$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`)
and are reused by later runs while the sources are unchanged. The last
line on stdout is the result JSON; progress and failures go to stderr.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("reference_batch", "llm_pipeline", "transpile")
# Scale of the generated tables (lineitem has 6M * SF rows).
SF = 0.01
HEAP = "4g"
RUN_TIMEOUT_S = 170
ADD_OPENS = """java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio
    java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs
    sun.security.action sun.util.calendar""".split()


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars found (looked in '{jars}'); set SPARK_HOME")
    return jars


def out_dir(root):
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, base, "perfbench")


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not any(p.endswith("/graft/SparkEntry.scala") for p in graft):
        fail(f"graft sources not found under {root}/src/main/scala; run from a graft checkout")
    return graft + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(srcs, out):
    """Compile graft + harness into out/classes unless the stamp matches."""
    jars = spark_jars()
    compiler = sorted(j for n in ("compiler", "library", "reflect")
                      for j in glob.glob(os.path.join(jars, f"scala-{n}-*.jar")))
    stamp = digest(srcs, " ".join(os.path.basename(j) for j in compiler))
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=sys.stderr)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}", "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def data(out):
    """Generate the input tables once per generator version and scale."""
    gen = os.path.join(HERE, "gendata.py")
    d = os.path.join(out, "data", digest([gen], str(SF))[:12])
    if not os.path.isdir(d):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        if subprocess.run([sys.executable, gen, d, str(SF)], stdout=sys.stderr).returncode != 0:
            fail("input generation failed")
    return d


def java(classes, main_class, args, work):
    """The command line that runs `main_class` on graft's classpath."""
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classes + ":" + os.path.join(spark_jars(), "*"), main_class] + args


def jvm(cmd, log_path, timeout, env=None):
    """Run a JVM command; returns (exit code, stdout lines)."""
    env = {k: v for k, v in (env or os.environ).items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, text=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print(f"[perfbench] harness exceeded {timeout}s; killed", file=sys.stderr)
            return 1, []
    with open(log_path) as log:
        for line in log:
            if line.startswith("[graftbench]"):
                sys.stderr.write(line)
    return proc.returncode, stdout.splitlines()


def prepare(root, workload):
    srcs = sources(root)
    out = out_dir(root)
    os.makedirs(out, exist_ok=True)
    classes = build(srcs, out)
    d = data(out)
    work = os.path.join(out, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return classes, d, work


def harness_args(workload, seed, seconds, trace, d, work):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", d, "--work", work,
            "--lists", os.path.join(HERE, "workloads"), "--pins", os.path.join(HERE, "pins.json")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    classes, d, work = prepare(root, a.workload)
    cmd = java(classes, "graftbench.Main", harness_args(a.workload, a.seed, a.seconds, a.trace, d, work), work)
    code, lines = jvm(cmd, os.path.join(work, "harness.log"), RUN_TIMEOUT_S)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if code != 0 or not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"harness exited {code} without a result; see {work}/harness.log")
    print(json.dumps(result))


if __name__ == "__main__":
    main()

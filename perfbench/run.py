#!/usr/bin/env python3
"""Run one seeded benchmark workload against the engine built from source.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the benchmark mains (perfbench/scala) with
the Scala compiler that ships in Spark's jars ($SPARK_HOME/jars), into
.perfbench/classes; later runs reuse it while the sources are unchanged.
Each run is one fresh JVM on local[nproc]. Everything the run writes stays
under .perfbench/ in the checkout.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the full trace to .perfbench/traces/). --smoke 1 runs the
workload at a tiny size, for tests.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".perfbench")
CLASSES = os.path.join(OUT, "classes")
WORKLOADS = ("serve", "ingest", "tile_pipeline")
# a run must end within 180 s of its start, build time excepted
RUN_LIMIT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler found; set SPARK_HOME")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala; run from the root of a checkout")
    return engine + sorted(glob.glob(os.path.join(BENCH, "scala", "**", "*.scala"), recursive=True))


def build(jars):
    """Compile engine + benchmark once per source state; returns the JVM options."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "classes.stamp")
    opts_file = os.path.join(OUT, "jvm-options.txt")
    cp = os.path.join(jars, "*")
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.exists(opts_file)):
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(OUT, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        rc = subprocess.call(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                              "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile],
                             stdout=sys.stderr)
        if rc != 0:
            fail(f"compile failed (exit {rc})")
        opts = subprocess.run(["java", "-XX:-UsePerfData", "-cp", CLASSES + os.pathsep + cp, "perfbench.JvmOptions"],
                              check=True, capture_output=True, text=True).stdout.split()
        with open(opts_file, "w") as f:
            f.write("\n".join(opts) + "\n")
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(opts_file).read().split()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    opts = build(jars)
    start = time.time()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    os.makedirs(work)
    trace_out = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}.json")
    cmd = (["java"] + opts +
           [f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--smoke", str(a.smoke), "--work", work,
            "--trace-out", trace_out])
    # keep Spark's scratch space inside the checkout even if the caller set one
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=max(1.0, RUN_LIMIT_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark runner: builds the engine and the harness from source,
runs one workload in one JVM, and prints the harness's JSON result as the
last line of stdout.

Usage (from the repository root):

    python3 perfbench/run.py --workload gedi_extract --seed 1 --seconds 10 --trace 0

Workloads: gedi_extract, board_sample (see perfbench/README.md).
`--trace 1` prints the per-layer metrics instead of the end-to-end ones and
writes the run's spans under .bench_out/.

Maintenance modes (not used by timed runs): `--calibrate` runs every
catalog query once, rewrites perfbench/board_expect.json and dumps every
query's output; `--dump-pool` dumps only the board_sample pool's outputs.
Follow either with `python3 perfbench/oracle_xcheck.py` for the DuckDB
cross-check of the dumped queries.

The build uses only the Scala compiler and Spark jars shipped in Spark's
jars directory ($SPARK_HOME/jars, else next to `spark-submit` on PATH; no
sbt, no network). Compiled classes go to $CARGO_TARGET_DIR (default
.bench_build); the engine's and the harness's classes are each reused
while their sources are unchanged. Everything a run writes stays inside
the working directory.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, "perfbench")
REPO_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(BENCH_DIR, "src")
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
OUT_DIR = os.path.join(ROOT, ".bench_out")
SPARK_HOME = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
    os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
WORKLOADS = ("gedi_extract", "board_sample")
# JVM budget: the harness stops itself well inside this; the kill is a
# backstop so a wedged run never outlives the 180 s contract.
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {SPARK_JARS}")
    return jars


def scalac(classpath, srcs, out):
    """One plain scalac invocation (the compiler ships with Spark's jars)."""
    compiler = [j for j in spark_jars()
                if os.path.basename(j).startswith(("scala-compiler-", "scala-library-",
                                                   "scala-reflect-"))]
    if len(compiler) < 3:
        raise SystemExit(f"scala compiler jars missing under {SPARK_JARS}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"scalac failed ({r.returncode}) for {out}")


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile src/main/scala, then the harness against it. Each tree is
    skipped while its stamp (hash of its sources, and for the harness also
    of the engine's) matches the last build."""
    repo = sources(REPO_SRC)
    harness = sources(HARNESS_SRC)
    if not repo or not harness:
        raise SystemExit("missing sources: run from a graft checkout "
                         "(src/main/scala and perfbench/src)")
    repo_stamp = stamp(repo)
    stamps = {"classes": repo_stamp, "bench-classes": stamp(harness) + repo_stamp}
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    jars = spark_jars()
    for name, cp in (("classes", jars),
                     ("bench-classes", [os.path.join(BUILD, "classes")] + jars)):
        out = os.path.join(BUILD, name)
        stamp_file = out + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamps[name]:
            continue
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        # compile beside the live output and swap, so a failed build never
        # leaves a half-written class tree behind
        srcs = repo if name == "classes" else harness
        scalac(cp, srcs, out + ".new")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(out + ".new", out)
        with open(stamp_file, "w") as f:
            f.write(stamps[name])
        log(f"built {name} in {time.time() - t0:.1f} s")
    return [os.path.join(BUILD, "classes"), os.path.join(BUILD, "bench-classes")]


def spark_cores():
    """Half the CPUs this process may use. The JVM's own threads (driver,
    GC, JIT) need CPUs beside the tasks: on a 4-CPU shared VM, local[4]
    spread about twice as wide from run to run as local[2]."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", action="store_true")
    ap.add_argument("--dump-pool", action="store_true")
    args = ap.parse_args()
    maintenance = args.calibrate or args.dump_pool
    if not maintenance and not args.workload:
        ap.error("--workload is required")

    classpath = build() + [os.path.join(SPARK_JARS, "*")]
    work = os.path.join(WORK_ROOT, f"{args.workload or 'maintenance'}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(OUT_DIR, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "graftbench.Main",
              "--workload", args.workload or "board_sample",
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(spark_cores()),
              "--work", work, "--out", OUT_DIR,
              "--expect", os.path.join(BENCH_DIR, "board_expect.json")]
           + (["--calibrate"] if args.calibrate else [])
           + (["--dump-pool"] if args.dump_pool else []))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True, env=env)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("harness stopped")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=None if maintenance else JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"harness failed (exit {proc.returncode})")
    if maintenance:
        print(lines[-1])
        return
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed harness result: {lines[-1][:200]}")
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {m["name"]: m["unit"] for m in declared["per_layer" if args.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(f"harness metrics differ from BENCHMARK.json: "
                         f"{sorted(set(got.items()) ^ set(want.items()))[:5]}")
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()

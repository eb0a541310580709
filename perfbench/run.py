#!/usr/bin/env python3
"""Layered benchmark of the graft engine: batch queries and REST serving.

Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 8 --trace 0

It builds the engine together with the benchmark's JVM driver
(`perfbench/build.sbt`, output under `.bench_build/`), makes the
workload's inputs from the seed, runs the workload in one JVM on
`local[nproc]`, checks every output, and prints one JSON object as the
last line of standard output. `--trace 0` reports the end-to-end
metrics named in BENCHMARK.json, `--trace 1` the per-layer ones. A
line before it carries host facts, sample counts and every metric.
See perfbench/README.md.
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

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(WORK, "target", "scala-2.13", "classes")
WORKLOADS = ("batch_sf001", "serve_read", "serve_write")
JVM_TIMEOUT_S = 165
# The batch tables are made from a fixed data seed so that query outputs
# can be pinned (perfbench/pins_batch_sf0.01.txt); the workload seed
# permutes the query order.
BATCH_SF, BATCH_DATA_SEED = "0.01", 42


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compile engine + driver with sbt unless the sources are unchanged."""
    srcs = (glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
            + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
            + [os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties")])
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = digest(srcs)
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return stamp
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                              "compile"], cwd=HERE, env=env, stdout=out,
                             stderr=subprocess.STDOUT, timeout=800)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return stamp


def batch_data():
    import gen_tables
    out = os.path.join(WORK, "data", f"sf{BATCH_SF}-seed{BATCH_DATA_SEED}-"
                       + digest([gen_tables.__file__])[:12])
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.generate(tmp, float(BATCH_SF), BATCH_DATA_SEED)
        os.rename(tmp, out)
    return out


def serve_data(seed):
    import gen_snapshot
    out = os.path.join(WORK, f"serve-{seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    gen_snapshot.generate(out, seed)
    return out


def run_jvm(args, data):
    out = os.path.join(WORK, f"result-{args.workload}-{os.getpid()}.json")
    log = os.path.join(WORK, f"jvm-{args.workload}.log")
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: growing it on demand adds collections whose timing
    # varies from run to run
    cmd = (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}"]
           + [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([CLASSES, os.path.join(spark_home(), "jars", "*")]),
              "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", WORK, "--out", out,
              "--pins", os.path.join(HERE, f"pins_batch_sf{BATCH_SF}.txt"),
              "--write-pins", "1" if args.write_pins else "0"])
    # Spark's scratch space stays inside the checkout (spark.local.dir)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s; log in {log}", 1)
        finally:
            # also on SIGTERM or Ctrl-C: the JVM never outlives this script
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"workload exited with {rc}; log in {log}", 1)
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true",
                    help="record the batch outputs as the new pins")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found: run from the root of a checkout")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found: run from the root of a checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    with open(spec_path) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    sys.path.insert(0, HERE)

    t0 = time.time()
    stamp = build()
    build_s = time.time() - t0
    if args.workload == "batch_sf001":
        res = run_jvm(args, batch_data())
    else:
        data = serve_data(args.seed)
        try:
            res = run_jvm(args, data)
        finally:
            shutil.rmtree(data, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        fail(f"workload did not report {missing}", 1)
    res["host"]["source_sha256"] = stamp[:16]
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "build_s": round(build_s, 3), "host": res["host"],
                      "notes": res["notes"], "errors": res["errors"],
                      "all_metrics": got}))
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: got[m["name"]] for m in wanted}}))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark from
source into the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`), runs the workload in a fresh JVM at local[<cores>]
(default: all) on its inputs, checks the outputs and
prints one JSON object as the last line of stdout: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Metric names
and units come from BENCHMARK.json. Every finished sample is appended to
`<run dir>/samples.jsonl` as it completes; every finished run appends its
full metric set to `<build dir>/history.jsonl`.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

# The batch workload's fixed corpora, directories under data/: the
# reference test corpus (seed 42) at two scale factors. The stream
# workload generates its events from the seed. `--tiny` (the self-test)
# uses the smaller corpus for both and a twentieth of the streaming rates.
CORPORA = {"light": "sf0.001", "heavy": "sf0.01"}
TINY_STREAM_SCALE = 0.05
WORKLOADS = ("batch", "stream")
DEADLINE_S = 170
# fixed, not grown on demand, so heap resizing does not differ between runs
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME`, else the first
    `spark-submit` on PATH that belongs to a distribution with a Scala
    compiler among its jars."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    fail("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    if not main:
        fail("no engine sources under src/main/scala: run from the repository root")
    return main, bench


def scalac(jars, out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")])] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"scalac failed ({len(files)} files)")


def build(root, build_dir, jars):
    """Compile engine + benchmark once per source tree; reuse after."""
    main, bench = sources(root)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    final = os.path.join(build_dir, f"classes-{key}")
    if os.path.exists(os.path.join(final, "OK")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    scalac(jars, os.path.join(tmp, "engine"), [], main)
    scalac(jars, os.path.join(tmp, "bench"), [os.path.join(tmp, "engine")], bench)
    open(os.path.join(tmp, "OK"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    print(f"perfbench: built {final} in {time.time() - t0:.1f} s", file=sys.stderr)
    return final


def run_jvm(args, classes, jars, corpora, run_dir):
    cmd = (["java", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([os.path.join(classes, "bench"),
                                      os.path.join(classes, "engine"),
                                      os.path.join(jars, "*")]),
              "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), corpora, run_dir,
              str(TINY_STREAM_SCALE if args.tiny else 1.0), str(args.cores)])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        t_spawn = time.time()
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            fail(f"stopped by signal {signum}; samples kept in {run_dir}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (t_spawn - START)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded the {DEADLINE_S} s deadline; samples kept in {run_dir}")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"JVM exited with {rc}; samples kept in {run_dir}")
    return t_spawn


def cpu_steal_s():
    """Host CPU time stolen from this machine so far (a virtual machine's
    noisy-neighbour signal), from /proc/stat; 0 where it is not readable."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test size")
    ap.add_argument("--cores", type=int, default=os.cpu_count(),
                    help="Spark task slots, local[<cores>]; 1 gives the single-thread baseline")
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build(root, build_dir, jars)

    run_dir = os.path.join(build_dir, "runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-c{args.cores}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    sfs = {part: CORPORA["light"] if args.tiny else sf for part, sf in CORPORA.items()}
    corpora = ",".join(f"{part}={os.path.join(HERE, 'data', sf)}" for part, sf in sfs.items())

    steal0 = cpu_steal_s()
    t_spawn = run_jvm(args, classes, jars, corpora, run_dir)
    steal = cpu_steal_s() - steal0
    recs = metrics.load(os.path.join(run_dir, "samples.jsonl"))
    checks = metrics.batch_checks(recs, run_dir, oracle.stored()) \
        if args.workload == "batch" else []
    res = metrics.compute(args.workload, recs, t_spawn, checks, spec)
    trace = res.pop("trace")
    if trace:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(trace, f)
    res["run"] = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "cores": args.cores, "tiny": args.tiny,
                  "build": os.path.basename(classes), "dir": run_dir,
                  "cpu_steal_s": steal, "wall_s": time.time() - t_spawn,
                  "env": res.pop("env")}
    with open(os.path.join(build_dir, "history.jsonl"), "a") as f:
        f.write(json.dumps(res) + "\n")

    for name, (value, unit, n) in sorted(res["all"].items()):
        print(f"{args.workload:14s} {name:40s} {value:14.4f} {unit:6s} n={n}")
    for finding in res["findings"]:
        print(f"perfbench: FINDING {finding}", file=sys.stderr)
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                       for m in want}}
    print(json.dumps(out))
    if res["correct"]:  # keep the samples, spans and results; drop bulky state
        for d in ("ckpt-state", "ckpt-ledger", "ledgers", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    sys.exit(0 if res["correct"] else 1)


START = time.time()
if __name__ == "__main__":
    main()

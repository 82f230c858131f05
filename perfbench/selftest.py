#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 corpora, a few hundred
stream events). Run from the repository root:

    python3 perfbench/selftest.py

It checks that
  1. every workload, traced and untraced, prints as its last line exactly
     the metrics BENCHMARK.json names, each with its unit, and passes its
     correctness checks;
  2. a wrong result is caught: one query's stored oracle digest is
     replaced, and the compare must flag exactly that query;
  3. a run stopped part-way keeps its sample log, parseable up to the
     last finished sample.
Exits non-zero on the first failure.
"""
import copy
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

BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def run(workload, trace, seed=1, seconds=2):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--tiny"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}"
    return json.loads(r.stdout.strip().splitlines()[-1])


def check_metrics(spec):
    for workload in ("batch", "stream"):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(workload, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            assert got == want, f"{workload} trace={trace}: {set(want) ^ set(got)}"
            assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
            print(f"ok   {workload} trace={trace}: {len(got)} metrics with units")


def check_wrong_result_caught():
    run_dir = os.path.join(BUILD, "runs", f"batch-s1-t0-c{os.cpu_count()}")
    recs = metrics.load(os.path.join(run_dir, "samples.jsonl"))
    digests = oracle.stored()
    assert all(ok for _, ok, _ in metrics.batch_checks(recs, run_dir, digests))
    victim = "q_filter"
    bad = copy.deepcopy(digests)
    bad["sf0.001"][victim]["sha256"] = "0" * 64
    flagged = [n for n, ok, _ in metrics.batch_checks(recs, run_dir, bad) if not ok]
    assert flagged == [victim], flagged
    print(f"ok   a wrong oracle digest for {victim} is caught")


def check_stopped_run_keeps_samples():
    run_dir = os.path.join(BUILD, "runs", f"stream-s2-t0-c{os.cpu_count()}")
    samples = os.path.join(run_dir, "samples.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)  # no stale log from an earlier run
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream",
           "--seed", "2", "--seconds", "20", "--trace", "0", "--tiny"]
    p = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    deadline = time.time() + 150
    while time.time() < deadline:
        if os.path.exists(samples) and any(r["kind"] == "first_timed"
                                           for r in metrics.load(samples)):
            break
        time.sleep(0.5)
    time.sleep(3)
    p.send_signal(signal.SIGTERM)
    rc = p.wait(timeout=60)
    recs = metrics.load(samples)
    kinds = {r["kind"] for r in recs}
    assert rc != 0 and {"env", "first_timed", "chunk"} <= kinds and "end" not in kinds, \
        (rc, kinds)
    print(f"ok   a run stopped part-way keeps {len(recs)} samples")


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    check_metrics(spec)
    check_wrong_result_caught()
    check_stopped_run_keeps_samples()
    print("selftest passed")


if __name__ == "__main__":
    main()

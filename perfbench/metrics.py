"""Turn one run's samples.jsonl into the benchmark's metrics.

Only this module derives numbers; the JVM side records raw samples. A
percentile is linear interpolation between closest ranks.
"""
import json
import os
import statistics

BUCKETS = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
           "commitOffsets")


def load(path):
    """Records of a sample log; a torn last line (killed run) is dropped."""
    recs = []
    with open(path) as f:
        for line in f:
            try:
                recs.append(json.loads(line))
            except json.JSONDecodeError:
                break
    return recs


def pct(values, q):
    v = sorted(values)
    if not v:
        return 0.0
    i = (len(v) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (i - lo)


def kind(recs, k):
    return [r for r in recs if r["kind"] == k]


def one(recs, k):
    found = kind(recs, k)
    if not found:
        raise SystemExit(f"perfbench: the run recorded no '{k}' record")
    return found[-1]


def batch_checks(recs, run_dir, digests):
    """Compare every query's untimed result with its stored oracle digest
    (see oracle.py). Returns (name, ok, detail) per query."""
    import oracle
    out = []
    for r in kind(recs, "check_run"):
        name = r["name"]
        if r.get("error"):
            out.append((name, False, f"crashed: {r['error'][:200]}"))
            continue
        want = digests.get(r["corpus"], {}).get(name)
        if want is None:
            out.append((name, False, f"no stored oracle digest for {r['corpus']}"))
            continue
        got = oracle.digest_parquet(os.path.join(run_dir, "results", name, "*.parquet"))
        out.append((name, got == want, f"{got['rows']} rows" if got == want
                    else f"digest mismatch: spark {got['rows']} rows, oracle {want['rows']} rows"))
    return out


def _layer_sums(recs, timed):
    """Scheduler counters summed over the tags `timed` accepts."""
    tot = {}
    for rec in kind(recs, "layers"):
        for tag, counters in rec["by_tag"].items():
            if timed(tag):
                for k, v in counters.items():
                    tot[k] = tot.get(k, 0) + v
    return tot


def _sched(layer, tot, per):
    g = lambda k: tot.get(k, 0) / per  # noqa: E731
    layer.update({
        "spark.sched.jobs": g("jobs"), "spark.sched.stages": g("stages"),
        "spark.sched.tasks": g("tasks"),
        "spark.sched.task_overhead_s": g("task_overhead_ms") / 1e3,
        "spark.sched.single_task_stages": g("single_task_stages"),
        "spark.exec.cpu_s": g("cpu_ns") / 1e9, "spark.exec.run_s": g("run_ms") / 1e3,
        "spark.exec.gc_s": g("gc_ms") / 1e3,
        "spark.shuffle.write_bytes": g("shuffle_write_bytes"),
        "spark.shuffle.read_bytes": g("shuffle_read_bytes"),
        "spark.shuffle.fetch_wait_s": g("fetch_wait_ms") / 1e3,
        "spark.spill.disk_bytes": g("spill_disk_bytes"),
        "spark.result.bytes": g("result_bytes"),
        "sources.scan_bytes": g("scan_bytes"), "sources.scan_rows": g("scan_rows")})


def _batch(recs, checks, layer, named):
    qs = kind(recs, "query")
    ok = [q for q in qs if not q.get("error")]
    win = one(recs, "window")
    window_s = (win["end_ns"] - win["start_ns"]) / 1e9
    passes = max(1, win["passes"])
    lat = [q["construct_ms"] + q["execute_ms"] for q in ok]
    by = {}
    for q in ok:
        by.setdefault(q["name"], []).append(q)
    med = lambda name, f: statistics.median(f(q) for q in by[name])  # noqa: E731
    total = {n: med(n, lambda q: (q["construct_ms"] + q["execute_ms"]) / 1e3) for n in by}
    named["batch_total_s"] = (sum(total.values()), "s", len(ok))
    named["query_p50_s"] = (pct(lat, 0.5) / 1e3, "s", len(lat))
    if len(lat) >= 100:
        named["query_p90_s"] = (pct(lat, 0.9) / 1e3, "s", len(lat))
    for n, v in total.items():
        layer[f"entry.{n}_s"] = v
    for m in {q["module"] for q in ok}:
        layer[f"entry.{m}_s"] = sum(v for n, v in total.items() if by[n][0]["module"] == m)
    for key, field in (("entry.construct_s", "construct_ms"), ("entry.execute_s", "execute_ms"),
                       ("spark.plan.analysis_s", "analysis_ms"),
                       ("spark.plan.optimization_s", "optimization_ms"),
                       ("spark.plan.planning_s", "planning_ms")):
        layer[key] = sum(med(n, lambda q: q[field]) for n in by) / 1e3
    layer["spark.plan.codegen_classes"] = sum(q["codegen_classes"] for q in ok) / passes
    layer["spark.plan.codegen_compile_s"] = sum(q["codegen_compile_ms"] for q in ok) / passes / 1e3
    tot = _layer_sums(recs, lambda t: t.endswith("#construct") or t.endswith("#execute"))
    _sched(layer, tot, passes)
    layer["entry.construct_jobs"] = _layer_sums(
        recs, lambda t: t.endswith("#construct")).get("jobs", 0) / passes
    for w in kind(recs, "warns"):
        layer["warn.window_no_partition"] = w["window_no_partition"] / (passes + 1)
    failed = len(qs) - len(ok) + sum(1 for c in checks if not c[1])
    named["latency_p90_ms"] = (pct(lat, 0.9), "ms", len(lat))
    named["queries_per_s"] = (len(qs) / window_s, "1/s", len(qs))
    # part 1: the light queries; part 2: the heavy ones
    light = [q for q in ok if q["module"] != "heavy"]
    heavy = [q for q in ok if q["module"] == "heavy"]
    heavy_names = sorted({q["name"] for q in heavy})
    wall = lambda part: sum(q["construct_ms"] + q["execute_ms"] for q in part) / 1e3  # noqa: E731
    e2e = {"latency_p50_ms": pct([q["construct_ms"] + q["execute_ms"] for q in light], 0.5),
           "throughput_per_s": len(light) / wall(light),
           "part2_latency_ms": statistics.mean(total[n] for n in heavy_names) * 1e3,
           "part2_throughput_per_s": len(heavy) / wall(heavy),
           "cpu_ms_per_op": win["cpu_ns"] / 1e6 / len(qs)}
    counts = {"latency_p50_ms": len(light), "throughput_per_s": len(light),
              "part2_latency_ms": len(heavy), "part2_throughput_per_s": len(heavy),
              "cpu_ms_per_op": len(qs)}
    return e2e, counts, len(qs) + len(checks), failed


STATE, LEDGER = "perfbench_state", "perfbench_ledger"


def _event_latency(recs, stream, t_first_ms):
    """Per offered row of the paced phase: from its due time to the commit
    of the first micro-batch whose end offset covers it."""
    prog = [p for p in kind(recs, "progress")
            if p["stream"] == stream and p["start_ms"] >= t_first_ms]
    lat, lost = [], 0
    for c in kind(recs, "chunk"):
        if c["stream"] != stream or c["phase"] != "paced":
            continue
        commits = [p["commit_ms"] for p in prog if p["end_offset"] >= c["offset"]]
        if commits:
            lat.extend([min(commits) - c["due_ms"]] * c["rows"])
        else:
            lost += 1
    return lat, lost, prog


def _stream(recs, layer, named):
    t_first_ms = one(recs, "first_timed")["t_ns"] / 1e6
    lat, lost, prog = _event_latency(recs, STATE, t_first_ms)
    ledger_lat, ledger_lost, ledger_prog = _event_latency(recs, LEDGER, t_first_ms)
    busy = [p for p in prog if p["rows"] > 0]
    # backlog chunks drain one at a time; the median chunk time keeps one
    # slow chunk (a late JIT compile, a GC) from setting the rate
    drain = {}
    for q in (STATE, LEDGER):
        ds = [d for d in kind(recs, "drain") if d["stream"] == q]
        drain[q] = (sum(d["rows"] for d in ds),
                    len(ds) * statistics.median((d["end_ns"] - d["start_ns"]) / 1e9 for d in ds))
    named["stream_drain_rows_per_s"] = (drain[STATE][0] / drain[STATE][1], "1/s",
                                        drain[STATE][0])
    named["ledger_drain_docs_per_s"] = (drain[LEDGER][0] / drain[LEDGER][1], "1/s",
                                        drain[LEDGER][0])
    named["event_latency_p50_ms"] = (pct(lat, 0.5), "ms", len(lat))
    named["event_latency_p90_ms"] = (pct(lat, 0.9), "ms", len(lat))
    named["ledger_event_latency_p50_ms"] = (pct(ledger_lat, 0.5), "ms", len(ledger_lat))
    named["ledger_event_latency_p90_ms"] = (pct(ledger_lat, 0.9), "ms", len(ledger_lat))
    dur = lambda k: [p["duration_ms"].get(k, 0) for p in busy]  # noqa: E731
    chunks = [c for c in kind(recs, "chunk") if c["phase"] == "paced"]
    layer.update({
        "streaming.batches": len(busy),
        "streaming.trigger_ms": pct(dur("triggerExecution"), 0.5),
        "streaming.add_batch_ms": pct(dur("addBatch"), 0.5),
        "streaming.query_planning_ms": pct(dur("queryPlanning"), 0.5),
        "streaming.wal_commit_ms": pct(dur("walCommit"), 0.5),
        "streaming.commit_offsets_ms": pct(dur("commitOffsets"), 0.5),
        "streaming.rows_per_batch": pct([p["rows"] for p in busy], 0.5),
        "state.rows_total": busy[-1]["state_rows_total"] if busy else 0,
        "state.memory_bytes": busy[-1]["state_memory_bytes"] if busy else 0,
        "state.commit_ms_p50": pct([p["state_commit_ms"] for p in busy], 0.5),
        "state.all_updates_ms_p50": pct([p["state_all_updates_ms"] for p in busy], 0.5),
        "state.rows_dropped_by_watermark":
            sum(p["state_rows_dropped_by_watermark"] for p in prog),
        "source.lag_rows_max": max([p["lag_rows"] for p in prog + ledger_prog] or [0]),
        "gen.late_ms_max": max([c["sent_ms"] - c["due_ms"] for c in chunks] or [0])})
    looks = kind(recs, "lookup")
    due_lat = [lk["end_ns"] / 1e6 - lk["due_ms"] for lk in looks]
    svc = lambda op: [(lk["end_ns"] - lk["start_ns"]) / 1e6  # noqa: E731
                      for lk in looks if lk["op"] == op]
    named["lookup_p50_ms"] = (pct(due_lat, 0.5), "ms", len(looks))
    named["lookup_p90_ms"] = (pct(due_lat, 0.9), "ms", len(looks))
    layer.update({
        "stateview.lookup_p50_ms": pct(due_lat, 0.5),
        "stateview.get_ms_p50": pct(svc("get"), 0.5),
        "stateview.range_ms_p50": pct(svc("range"), 0.5),
        "stateview.rows_returned": sum(lk["rows"] for lk in looks)})
    steps = [s for s in kind(recs, "ledger") if s["start_ns"] / 1e6 >= t_first_ms]
    layer.update({
        "streaming.ledger.merge_ms_p50": pct([(s["end_ns"] - s["start_ns"]) / 1e6
                                              for s in steps], 0.5),
        "streaming.ledger.hwm_read_ms_p50": pct([s["hwm_ns"] / 1e6 for s in steps], 0.5),
        "streaming.ledger.write_ms_p50": pct([(s["write_ns"] + s["reread_ns"]) / 1e6
                                              for s in steps], 0.5),
        "streaming.ledger.rows": one(recs, "ledger_size")["line_rows"],
        "streaming.ledger.jobs_per_batch": _layer_sums(
            recs, lambda t: t.startswith("ledger#")).get("jobs", 0)
        / max(1, len(kind(recs, "ledger")))})
    _sched(layer, _layer_sums(recs, lambda t: True), 1)
    for w in kind(recs, "warns"):
        layer["warn.window_no_partition"] = w["window_no_partition"]
    errs = sum(1 for lk in looks if lk.get("error"))
    checks = kind(recs, "check")
    failed = errs + lost + ledger_lost + sum(1 for c in checks if not c["ok"])
    attempted = len(busy) + len(looks) + len(checks) + len(chunks)
    offered = sum(c["rows"] for c in kind(recs, "chunk") if c["phase"] != "warmup")
    # part 1: the state query; part 2: the ledger query
    e2e = {"latency_p50_ms": pct(lat, 0.5),
           "throughput_per_s": named["stream_drain_rows_per_s"][0],
           "part2_latency_ms": pct(ledger_lat, 0.5),
           "part2_throughput_per_s": named["ledger_drain_docs_per_s"][0],
           "cpu_ms_per_op": one(recs, "window_end")["cpu_ns"] / 1e6 / offered}
    counts = {"latency_p50_ms": len(lat), "throughput_per_s": drain[STATE][0],
              "part2_latency_ms": len(ledger_lat), "part2_throughput_per_s": drain[LEDGER][0],
              "cpu_ms_per_op": offered}
    return e2e, counts, attempted, failed


def spans(workload, recs):
    """Spans rebuilt from the samples: the timed window, each query
    (construct, execute) or micro-batch (its durationMs buckets in
    trigger order, ledger steps inside addBatch), and lookups."""
    out = []

    def add(name, layer, parent, s, e):
        out.append({"id": len(out) + 1, "parent": parent, "name": name, "layer": layer,
                    "start_ms": s, "end_ms": e})
        return len(out)

    if workload == "batch":
        win = one(recs, "window")
        root = add(workload, "workload", 0, win["start_ns"] / 1e6, win["end_ns"] / 1e6)
        for q in kind(recs, "query"):
            s = q["start_ns"] / 1e6
            m = s + q["construct_ms"]
            e = m + q["execute_ms"]
            qid = add(q["name"], "query", root, s, e)
            add("construct", "entry.construct", qid, s, m)
            add("execute", "entry.execute", qid, m, e)
        return out
    t0 = one(recs, "first_timed")["t_ns"] / 1e6
    t1 = one(recs, "window_end")["t_ns"] / 1e6
    root = add(workload, "workload", 0, t0, t1)
    steps = kind(recs, "ledger")
    for stream in (STATE, LEDGER):
        # a query's own span: the time no micro-batch covers is the query
        # waiting for input
        qid = add(stream, f"source.wait.{stream}", root, t0, t1)
        for p in kind(recs, "progress"):
            s = p["start_ms"]
            if p["stream"] != stream or s < t0:
                continue
            bid = add(f"batch {p['batch_id']}", "streaming.trigger", qid,
                      s, s + p["duration_ms"].get("triggerExecution", 0))
            at = s
            for b in BUCKETS:
                d = p["duration_ms"].get(b, 0)
                cid = add(b, f"streaming.{b}", bid, at, at + d)
                if b == "addBatch" and stream == LEDGER:
                    for st in steps:
                        a = st["start_ns"] / 1e6
                        if at <= a < at + d:
                            sid = add(f"ledger {st['batch_id']}", "streaming.ledger", cid,
                                      a, st["end_ns"] / 1e6)
                            h = a + st["hwm_ns"] / 1e6
                            w = h + st["write_ns"] / 1e6
                            add("hwm+merge", "streaming.ledger.hwm_read", sid, a, h)
                            add("write", "streaming.ledger.write", sid, h, w)
                            add("reread", "streaming.ledger.reread", sid, w, st["end_ns"] / 1e6)
                at += d
    for lk in kind(recs, "lookup"):
        add(lk["op"], f"stateview.{lk['op']}", 0, lk["start_ns"] / 1e6, lk["end_ns"] / 1e6)
    return out


def self_times(sp):
    """layer -> [span time, self time, count]; self time is a span's
    duration minus the time its children cover. Gaps the workload span
    does not cover with a child are its self time: harness work for a
    batch run, the engine waiting for input for a streaming run."""
    kids = {}
    for s in sp:
        kids.setdefault(s["parent"], []).append(s)
    table = {}
    for s in sp:
        d = max(0.0, s["end_ms"] - s["start_ms"])
        covered = sum(max(0.0, min(c["end_ms"], s["end_ms"]) - max(c["start_ms"], s["start_ms"]))
                      for c in kids.get(s["id"], []))
        row = table.setdefault(s["layer"], [0.0, 0.0, 0])
        row[0] += d
        row[1] += max(0.0, d - covered)
        row[2] += 1
    return table


def coverage(workload, table):
    """Share of the timed wall-clock that named layers account for: all of
    it but the time no named child covers. For a batch run that is the
    workload's own self time (harness work between queries). A streaming
    run has one timeline per query; there it is each trigger's time
    outside its durationMs buckets (a query's own self time is the named
    layer `source.wait`: waiting for input)."""
    if workload == "batch":
        wall, unnamed = table["workload"][0], table["workload"][1]
    else:
        wall = sum(v[0] for k, v in table.items() if k.startswith("source.wait."))
        unnamed = table.get("streaming.trigger", [0, 0])[1]
    return max(0.0, 1.0 - unnamed / wall) if wall else 0.0


def compute(workload, recs, t_spawn, checks, spec):
    env = one(recs, "env")
    t_first = one(recs, "first_timed")["t_ns"] / 1e9
    end = one(recs, "end")
    layer = {m["name"]: 0.0 for m in spec["per_layer"]}
    named = {}
    if workload == "batch":
        e2e, counts, attempted, failed = _batch(recs, checks, layer, named)
        ok_checks = all(c[1] for c in checks) and len(checks) > 0
        findings = [f"{n}: {d}" for n, ok, d in checks if not ok]
    else:
        e2e, counts, attempted, failed = _stream(recs, layer, named)
        cs = kind(recs, "check")
        ok_checks = bool(cs) and all(c["ok"] for c in cs)
        findings = [f"{c['name']}: {c}" for c in cs if not c["ok"]]
    trace = None
    if env.get("trace"):
        sp = spans(workload, recs)
        table = self_times(sp)
        layer["trace.coverage"] = coverage(workload, table)
        trace = {"spans": sp, "self_time_ms": table, "coverage": layer["trace.coverage"]}
    e2e["setup_s"] = t_first - t_spawn
    layer["jvm.rss_peak_mb"] = end["rss_peak_kb"] / 1024.0
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    allm = dict(named)
    for k, v in list(e2e.items()) + list(layer.items()):
        unit = units.get(k) or ("s" if k.endswith("_s") else "?")
        allm[k] = (v, unit, counts.get(k, 1))
    return {"correct": ok_checks and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {**e2e, **layer}, "all": allm, "findings": findings, "env": env,
            "trace": trace}

"""Turns one run's raw record (written by the bench JVM) into metrics.

End-to-end metrics come from untraced runs; per-layer metrics, layer self
times and the tracing overhead come from traced runs, in which every other
operation is traced (see README.md for the definitions).
"""

import bisect
import re

from . import stats

CATALOG_ENTRIES = [
    "q_raw_filter", "q_group_by", "q_count_distinct", "q_dist_pmf", "q_topk",
    "q_ann_index_incr", "q_dedup_substr_stream", "q_kcore",
    "q_linkage", "q_tf_dot_pairs", "q_dedup_ngram",
    "q_star_join",
]

LAYERS = ["bench", "control", "runner", "stream", "catalog", "spark"]

SPARK_KEYS = [
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("scan_stages", "count"),
    ("task_run_ms", "ms"), ("task_cpu_ms", "ms"), ("gc_ms", "ms"), ("job_span_ms", "ms"),
    ("driver_ms", "ms"), ("parallelism", "ratio"), ("plan_ms", "ms"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"), ("result_bytes", "bytes"),
]
RUNNER_KEYS = [
    ("batch_ms", "ms"), ("records_per_batch", "count"), ("active_queries", "count"),
    ("clips_per_batch", "count"), ("register_ms", "ms"), ("finish_ms", "ms"),
    ("fail_clips", "count"), ("sink_errors", "count"), ("filter_latency_ms", "ms"),
]
STREAM_KEYS = [
    ("batch_ms", "ms"), ("add_batch_ms", "ms"), ("trigger_overhead_ms", "ms"),
    ("rows_per_batch", "count"), ("lag_ms", "ms"), ("backlog_rows", "count"),
]
CONTROL_KEYS = [("bql_parse_us", "us"), ("handle_ms", "ms"), ("gen_late_ms", "ms"),
                ("admit_ms_p95", "ms")]
CATALOG_KEYS = [("wall_ms", "ms"), ("build_ms", "ms"), ("jobs", "count"), ("driver_ms", "ms")]
JVM_KEYS = [("heap_mb", "MB"), ("gc_ms", "ms"), ("jit_ms", "ms")]

END_TO_END = [("setup_s", "s"), ("op_ms_p50", "ms"), ("work_s", "s")]


def per_layer_names():
    """Every per-layer metric name with its unit, in report order."""
    out = [("spark." + k, u) for k, u in SPARK_KEYS]
    out += [("runner." + k, u) for k, u in RUNNER_KEYS]
    out += [("stream." + k, u) for k, u in STREAM_KEYS]
    out += [("control." + k, u) for k, u in CONTROL_KEYS]
    out += [("catalog.%s.%s" % (e, k), u) for e in CATALOG_ENTRIES for k, u in CATALOG_KEYS]
    out += [("jvm." + k, u) for k, u in JVM_KEYS]
    out += [("self_ms." + l, "ms") for l in LAYERS]
    out += [("tail.op_ms_p95", "ms")]
    out += [("trace.overhead_ms", "ms"), ("trace.overhead_pct", "%")]
    return out


# ------------------------------------------------------------- end to end

def operations(workload, r, durations=None):
    """Per-operation latencies (ms): `processBatch` per batch on
    runner_mixed, result emission minus due instant on runner_live, one
    entry's build + collect on catalog."""
    if workload == "runner_mixed":
        return [o["batch_ms"] for o in r["ops"]]
    if workload == "runner_live":
        return live_result_latencies(r, durations)
    return [e["build_ms"] + e["collect_ms"] for p in r["passes"] for e in p]


def end_to_end(workload, r, setup_start_ms, batch_records=None, durations=None):
    setup_s = (r["ready_ms"] - setup_start_ms) / 1000.0
    op = operations(workload, r, durations)
    samples = {"op": len(op)}
    if workload == "runner_mixed":
        work = sum(op) / 1000.0 / (len(op) * batch_records) * 1e5
    elif workload == "runner_live":
        # the interquartile mean over the ~15 micro-batches of a run, so a
        # few slow batches do not swing it; a median would move in steps of
        # the whole-millisecond trigger times
        per_row = [p["durations"].get("triggerExecution", 0) / 1000.0 / p["rows"] * 1e5
                   for p in r["progress"]
                   if in_window(r, p["start_ms"] - r["t0_ms"]) and p["rows"] > 0]
        if not per_row:
            raise RuntimeError("no stream records were processed in the measured window")
        work = stats.interquartile_mean(per_row)
        samples["batches"] = len(per_row)
    else:
        work = stats.percentile([sum(e["build_ms"] + e["collect_ms"] for e in p) / 1000.0
                                 for p in r["passes"]], 50)[0]
    values = {"setup_s": setup_s, "work_s": work, "op_ms_p50": stats.percentile(op, 50)[0]}
    return values, samples


def admissions(workload, r):
    """Admission latencies (ms): `handleMessage` return minus scheduled
    send time on runner_live, the REGISTER call on runner_mixed."""
    if workload == "runner_live":
        return [s["end_ms"] - s["at_ms"] for s in r["sent"] if in_window(r, s["at_ms"])]
    if workload == "runner_mixed":
        return [x for o in r["ops"] for x in o["admit_ms"]]
    return []


def in_window(r, rel_ms):
    return r["warm_ms"] <= rel_ms < r["end_ms"]


def live_result_latencies(r, durations, block_parity=None):
    """Emission time minus due instant for results due in the measured
    window: `receive + k * window` for the k-th window result, `receive +
    duration` for COMPLETE. RAW early fills (COMPLETE before the due
    instant), KILLs and the end-of-run forced finishes have no due instant."""
    out = []
    for c in r["clips"]:
        if c["forced"] or c["receive_ms"] < 0:
            continue
        if c["signal"] is None and c["window"] > 0:
            due = c["receive_ms"] + 1000 * c["window"]
        elif c["signal"] == "COMPLETE":
            due = c["receive_ms"] + durations[c["id"]]
            if c["at_ms"] < due:
                continue
        else:
            continue
        if not in_window(r, due):
            continue
        if block_parity is not None and (due // 2000) % 2 != block_parity:
            continue
        out.append(c["at_ms"] - due)
    return out


# ------------------------------------------------------------ correctness

def live_check(r, kinds):
    """Per-query problems: exactly one terminal clip per submitted query,
    no FAIL for these (valid) queries, and gap-free window numbers."""
    terminal = {}
    windows = {}
    for c in r["clips"]:
        if c["signal"] in ("COMPLETE", "KILL", "FAIL"):
            terminal.setdefault(c["id"], []).append(c["signal"])
        elif c["window"] > 0:
            windows.setdefault(c["id"], []).append(c["window"])
    submitted = [s["id"] for s in r["sent"] if s["kind"] != "KILL"]
    problems = {}
    for qid in submitted:
        t = terminal.get(qid, [])
        if len(t) != 1:
            problems[qid] = "%d terminal clips %s" % (len(t), t)
        elif t[0] == "FAIL":
            problems[qid] = "valid %s query failed" % kinds.get(qid)
        w = windows.get(qid, [])
        if w != list(range(1, len(w) + 1)):
            problems[qid] = "window numbers %s" % w[:20]
    for s in r["sent"]:
        if s["fail"] and s["kind"] != "KILL":
            problems[s["id"]] = "registration failed"
    return len(submitted), problems


# -------------------------------------------------------------- per layer

def _jobs_with_stages(trace):
    stages = {s["stage"]: s for s in trace.get("stages", [])}
    owner = {}
    jobs = []
    for j in trace.get("jobs", []):
        own = [stages[s] for s in j["stages"] if s in stages and s not in owner]
        for s in own:
            owner[s["stage"]] = j["job"]
        jobs.append(dict(j, own=own))
    return jobs


def _attribute(items, intervals, key):
    """Group items by the interval (id, start_us, end_us) containing
    key(item) (in us), with 1 ms tolerance for millisecond timestamps."""
    out = {i[0]: [] for i in intervals}
    for it in items:
        t = key(it)
        for oid, s, e in intervals:
            if s - 1000 <= t <= e + 1000:
                out[oid].append(it)
                break
    return out


def _spark_values(jobs, plans, wall_ms):
    own = [s for j in jobs for s in j["own"]]
    span_ms = stats.union_length([(j["start_ms"], j["end_ms"]) for j in jobs])
    run_ms = sum(s["run_ms"] for s in own)
    return {
        "jobs": len(jobs),
        "stages": sum(1 for s in own if s["tasks"] > 0),
        "tasks": sum(s["tasks"] for s in own),
        "scan_stages": sum(1 for s in own if s.get("scans", 0) > 0),
        "task_run_ms": run_ms,
        "task_cpu_ms": sum(s["cpu_ns"] for s in own) / 1e6,
        "gc_ms": sum(s["gc_ms"] for s in own),
        "job_span_ms": span_ms,
        "driver_ms": wall_ms - span_ms,
        "parallelism": run_ms / span_ms if span_ms > 0 else 0.0,
        "plan_ms": sum(p["plan_ms"] for p in plans),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in own),
        "shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in own),
        "spill_bytes": sum(s["spill_bytes"] for s in own),
        "result_bytes": sum(s["result_bytes"] for s in own),
    }


def _mean_dicts(ds):
    keys = ds[0].keys() if ds else []
    return {k: stats.mean(d[k] for d in ds) for k in keys}


def _self_times(spans, jobs):
    """Self time per layer (ms): each span's duration minus what its
    children cover. Spark jobs become spans parented to the innermost
    non-control span containing their start."""
    job_spans = [{"id": ("job", j["job"]), "layer": "spark", "start_us": j["start_ms"] * 1000,
                  "end_us": j["end_ms"] * 1000, "parent": None} for j in jobs]
    hosts = [s for s in spans if s["layer"] != "control"]
    parents = stats.assign_parents([(j["start_us"], j["end_us"]) for j in job_spans],
                                   [(h["start_us"], h["end_us"]) for h in hosts])
    for j, p in zip(job_spans, parents):
        j["parent"] = hosts[p]["id"] if p is not None else None
    everything = list(spans) + job_spans
    children = {}
    for s in everything:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    # a layer's self time is the union of its spans' uncovered parts, so
    # concurrent spans of one layer (overlapping jobs) count once
    own = {l: [] for l in LAYERS}
    for s in everything:
        own[s["layer"]] += stats.self_intervals((s["start_us"], s["end_us"]),
                                                children.get(s["id"], []))
    return {l: stats.union_length(v) / 1000.0 for l, v in own.items()}


def per_layer(workload, r, durations=None):
    trace = r["trace"]
    spans = trace.get("spans", [])
    counts = trace.get("counts", [])
    jobs = _jobs_with_stages(trace)
    m = {name: 0.0 for name, _ in per_layer_names()}
    adm = admissions(workload, r)
    if adm:
        m["control.admit_ms_p95"] = stats.percentile(adm, 95)[0]
    # the tail over untraced operations, so tracing does not lengthen it
    if workload == "runner_live":
        untraced = live_result_latencies(r, durations, block_parity=0)
    else:
        untraced = operations(workload, _untraced(workload, r))
    m["tail.op_ms_p95"] = stats.percentile(untraced, 95)[0]
    for k, _ in JVM_KEYS:
        m["jvm." + k] = r["jvm"][k]
    if workload == "runner_mixed":
        _mixed_layers(r, spans, counts, jobs, trace, m)
    elif workload == "runner_live":
        _live_layers(r, spans, jobs, trace, m, durations)
    else:
        _catalog_layers(r, spans, jobs, trace, m)
    return m


def _untraced(workload, r):
    """A closed-loop run record restricted to its untraced operations."""
    if workload == "runner_mixed":
        return dict(r, ops=[o for o in r["ops"] if not o["traced"]])
    return dict(r, passes=[[e for e in p if not e["traced"]] for p in r["passes"]])


def _op_spans(spans, layer, name=None):
    return {s["op"]: s for s in spans if s["layer"] == layer and (name is None or s["name"] == name)}


def _overhead(m, traced, untraced):
    m["trace.overhead_ms"] = traced - untraced
    m["trace.overhead_pct"] = 100.0 * (traced - untraced) / untraced if untraced else 0.0


def _mixed_layers(r, spans, counts, jobs, trace, m):
    steps = _op_spans(spans, "bench", "step")
    batches = _op_spans(spans, "runner", "processBatch")
    ops = sorted(steps)
    intervals = [(o, steps[o]["start_us"], steps[o]["end_us"]) for o in ops]
    by_op = _attribute(jobs, intervals, lambda j: j["start_ms"] * 1000)
    plans = _attribute(trace.get("plans", []), intervals, lambda p: p["end_ms"] * 1000)
    walls = {o: (batches[o]["end_us"] - batches[o]["start_us"]) / 1000.0 for o in ops}
    sv = _mean_dicts([_spark_values(by_op[o], plans[o], walls[o]) for o in ops])
    for k, v in sv.items():
        m["spark." + k] = v
    m["runner.batch_ms"] = stats.mean(walls.values())
    for k in ("records_per_batch", "active_queries", "clips_per_batch", "fail_clips",
              "sink_errors", "filter_latency_ms"):
        m["runner." + k] = stats.mean(c["value"] for c in counts if c["name"] == "runner." + k)
    regs = [(s["end_us"] - s["start_us"]) / 1000.0 for s in spans if s["name"] == "handleMessage"]
    m["runner.register_ms"] = m["control.handle_ms"] = stats.mean(regs)
    m["runner.finish_ms"] = r["finish_ms"]
    traced_spans = [s for s in spans if s["op"] in steps]
    st = _self_times(traced_spans, [j for o in ops for j in by_op[o]])
    for l in LAYERS:
        m["self_ms." + l] = st[l] / max(1, len(ops))
    t = [o["batch_ms"] for o in r["ops"] if o["traced"]]
    u = [o["batch_ms"] for o in r["ops"] if not o["traced"]]
    _overhead(m, stats.percentile(t, 50)[0], stats.percentile(u, 50)[0])


def _catalog_layers(r, spans, jobs, trace, m):
    samples = [e for p in r["passes"] for e in p]
    entry_spans = {s["op"]: s for s in spans if s["layer"] == "bench"}
    intervals = [(o, s["start_us"], s["end_us"]) for o, s in sorted(entry_spans.items())]
    by_op = _attribute(jobs, intervals, lambda j: j["start_ms"] * 1000)
    plans = _attribute(trace.get("plans", []), intervals, lambda p: p["end_ms"] * 1000)
    per_entry = {}
    for e in samples:
        if not e["traced"] or e["op"] not in entry_spans:
            continue
        wall = e["build_ms"] + e["collect_ms"]
        sv = _spark_values(by_op[e["op"]], plans[e["op"]], wall)
        own = [s for s in spans if s["op"] == e["op"]]
        st = _self_times(own, by_op[e["op"]])
        per_entry.setdefault(e["entry"], []).append((wall, e["build_ms"], sv, st))
    spark_sum = {k: 0.0 for k, _ in SPARK_KEYS}
    self_sum = {l: 0.0 for l in LAYERS}
    for name, rows in per_entry.items():
        sv = _mean_dicts([x[2] for x in rows])
        st = _mean_dicts([x[3] for x in rows])
        m["catalog.%s.wall_ms" % name] = stats.mean(x[0] for x in rows)
        m["catalog.%s.build_ms" % name] = stats.mean(x[1] for x in rows)
        m["catalog.%s.jobs" % name] = sv["jobs"]
        m["catalog.%s.driver_ms" % name] = sv["driver_ms"]
        for k in spark_sum:
            spark_sum[k] += sv[k]
        for l in LAYERS:
            self_sum[l] += st[l]
    if spark_sum["job_span_ms"] > 0:
        spark_sum["parallelism"] = spark_sum["task_run_ms"] / spark_sum["job_span_ms"]
    for k, v in spark_sum.items():
        m["spark." + k] = v
    for l in LAYERS:
        m["self_ms." + l] = self_sum[l]
    by_entry = {}
    for e in samples:
        by_entry.setdefault(e["entry"], {}).setdefault(e["traced"], []).append(
            e["build_ms"] + e["collect_ms"])
    t = sum(stats.mean(v.get(True, [])) for v in by_entry.values())
    u = sum(stats.mean(v.get(False, [])) for v in by_entry.values())
    _overhead(m, t, u)


RATE_OFFSET = re.compile(r"^\s*(\d+)\s*$")


def _live_layers(r, spans, jobs, trace, m, durations):
    t0 = r["t0_ms"]
    rate = r["rows_per_second"]

    def traced_at(rel_ms):
        return in_window(r, rel_ms) and (rel_ms // 2000) % 2 == 1

    progress = [p for p in trace.get("progress", []) if traced_at(p["start_ms"] - t0)]
    batch_ops = []
    for p in progress:
        d = p["durations"]
        start = p["start_ms"] * 1000
        end = start + d.get("triggerExecution", 0) * 1000
        add_end = end - d.get("commitOffsets", 0) * 1000
        add_start = add_end - d.get("addBatch", 0) * 1000
        batch_ops.append((p, start, end, add_start, add_end))
    n = max(1, len(batch_ops))
    if batch_ops:
        m["stream.batch_ms"] = stats.mean(p["durations"].get("triggerExecution", 0) for p, *_ in batch_ops)
        m["stream.add_batch_ms"] = stats.mean(p["durations"].get("addBatch", 0) for p, *_ in batch_ops)
        m["stream.trigger_overhead_ms"] = m["stream.batch_ms"] - m["stream.add_batch_ms"]
        m["stream.rows_per_batch"] = stats.mean(p["rows"] for p, *_ in batch_ops)
        lags, backlog = [], []
        for p, start, end, _, _ in batch_ops:
            off = RATE_OFFSET.match(str(p.get("end_offset") or ""))
            if off is None:
                continue
            # the rate source's offset counts whole seconds since the query
            # started; rows of second s are created during that second
            data_end_ms = r["stream_start_ms"] + 1000 * int(off.group(1))
            lags.append(end / 1000.0 - data_end_ms)
            backlog.append(max(0.0, (start / 1000.0 - data_end_ms) / 1000.0 * rate))
        m["stream.lag_ms"] = stats.mean(lags)
        m["stream.backlog_rows"] = stats.mean(backlog)
    m["runner.batch_ms"] = m["stream.add_batch_ms"]
    m["runner.records_per_batch"] = m["stream.rows_per_batch"]
    # active queries at each traced batch: admitted minus finished so far
    admitted = sorted(s["end_ms"] for s in r["sent"] if s["kind"] != "KILL")
    finished = sorted(c["at_ms"] for c in r["clips"] if c["signal"] in ("COMPLETE", "KILL", "FAIL"))
    act = []
    for p, *_ in batch_ops:
        rel = p["start_ms"] - t0
        act.append(_count_le(admitted, rel) - _count_le(finished, rel))
    m["runner.active_queries"] = stats.mean(act)
    clips = [c for c in r["clips"] if traced_at(c["at_ms"])]
    m["runner.clips_per_batch"] = len(clips) / n
    m["runner.fail_clips"] = sum(1 for c in clips if c["signal"] == "FAIL") / n
    m["runner.sink_errors"] = r["sink_errors"]
    m["runner.finish_ms"] = r["finish_ms"]
    handles = [s for s in spans if s["layer"] == "control"]
    reg = [(s["end_us"] - s["start_us"]) / 1000.0 for s in handles]
    m["control.handle_ms"] = stats.mean(reg)
    traced_sends = [s for s in r["sent"] if s["traced"]]
    m["runner.register_ms"] = stats.mean(
        s["end_ms"] - s["start_ms"] for s in traced_sends if s["kind"] != "KILL")
    m["control.gen_late_ms"] = stats.mean(s["start_ms"] - s["at_ms"] for s in traced_sends)
    m["control.bql_parse_us"] = stats.mean(r["bql_parse_us"])
    intervals = [(i, s, e) for i, (_, s, e, _, _) in enumerate(batch_ops)]
    by_op = _attribute([j for j in jobs if j.get("streaming")], intervals,
                       lambda j: j["start_ms"] * 1000)
    plans = _attribute(trace.get("plans", []), intervals, lambda p: p["end_ms"] * 1000)
    if batch_ops:
        sv = _mean_dicts([_spark_values(by_op[i], plans[i], (e - s) / 1000.0)
                          for i, s, e in intervals])
        for k, v in sv.items():
            m["spark." + k] = v
    synth = []
    for i, (p, s, e, a0, a1) in enumerate(batch_ops):
        synth.append({"id": ("stream", i), "layer": "stream", "start_us": s, "end_us": e,
                      "parent": None})
        synth.append({"id": ("runner", i), "layer": "runner", "start_us": a0, "end_us": a1,
                      "parent": ("stream", i)})
    traced_handles = [dict(h, parent=None) for h in handles]
    st = _self_times(synth + traced_handles, [j for i in by_op for j in by_op[i]])
    for l in LAYERS:
        m["self_ms." + l] = st[l] / n
    t = live_result_latencies(r, durations, block_parity=1)
    u = live_result_latencies(r, durations, block_parity=0)
    _overhead(m, stats.percentile(t, 50)[0], stats.percentile(u, 50)[0])


def _count_le(sorted_xs, x):
    return bisect.bisect_right(sorted_xs, x)

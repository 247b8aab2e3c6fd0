#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload runner_mixed --seed 1 --seconds 20 --trace 0

Builds the bench program from source on first use (sbt, offline), generates
the workload's inputs from the seed, runs the bench JVM, checks the engine's
outputs, and prints `{"correct", "attempted", "failed", "metrics"}` as the
last line of stdout: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from bench import build, gen, metrics, oracle  # noqa: E402

WORKLOADS = ("runner_mixed", "runner_live", "catalog")
# Spark gets all cores but one, at most 4: both runner workloads are bound by
# driver-side threads (stream execution, ticker, sender, JIT), whose share of
# CPU otherwise swings from run to run
CPUS = max(1, min(4, (os.cpu_count() or 2) - 1))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")

# runner_mixed: sf0.1 events replayed as 20,000-record batches under 1000 queries
MIXED_EVENTS = 100_000
MIXED_BATCH = 20_000
MIXED_ACTIVE = 1000
MIXED_POOL = 2000          # replacement queries per shape; reused cyclically
MIXED_WARM_BATCHES = 8     # batch times settle after ~8 (1.6 replays of the table)
# runner_live: open loop over the rate source
LIVE_RATE = 20_000
LIVE_WARM_S = 15.0
# catalog: fixed tables (the seed is not used), warmed on a 1/10 copy
CATALOG_SEED = 42
CATALOG_SF = 0.1
CATALOG_WARM_SF = 0.01

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    sys.stderr.write("[perfbench] %s\n" % msg)
    sys.stderr.flush()


def prepare(workload, seed, seconds, trace, work):
    """Generates the workload's inputs under `work`; returns the bench
    config plus what the analysis needs (durations, kinds)."""
    cfg = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
           "cpus": CPUS, "work_dir": work, "out_file": os.path.join(work, "result.json")}
    extra = {}
    data = os.path.join(work, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "runner_mixed":
        ev = gen.events(seed, MIXED_EVENTS)
        files = []
        for i in range(0, MIXED_EVENTS, MIXED_BATCH):
            path = os.path.join(data, "batch-%02d.parquet" % (i // MIXED_BATCH))
            gen.write(ev.slice(i, MIXED_BATCH), path)
            files.append(path)
        qpath = os.path.join(data, "queries.tsv")
        gen.write_rows(gen.mixed_queries(seed, MIXED_ACTIVE, MIXED_POOL), qpath)
        cfg.update(batches=files, queries=qpath, active_queries=MIXED_ACTIVE,
                   batch_records=MIXED_BATCH, warm_batches=MIXED_WARM_BATCHES)
    elif workload == "runner_live":
        horizon = int((LIVE_WARM_S + seconds) * 1000)
        msgs = gen.live_schedule(seed, horizon)
        spath = os.path.join(data, "schedule.tsv")
        gen.write_rows(msgs, spath)
        durations, kinds = {}, {}
        for at, qid, kind, js in msgs:
            if kind != "KILL":
                kinds[qid] = kind
                durations[qid] = int(re.search(r"DURATION (\d+)", json.loads(js)["bql"]).group(1))
        extra.update(durations=durations, kinds=kinds)
        cfg.update(schedule=spath, warm_seconds=LIVE_WARM_S, rows_per_second=LIVE_RATE,
                   trigger_ms=200, tick_ms=50)
    else:
        full, warm = os.path.join(data, "sf"), os.path.join(data, "warm")
        gen.write_tables(gen.star_tables(CATALOG_SEED, CATALOG_SF), full)
        gen.write_tables(gen.star_tables(CATALOG_SEED, CATALOG_WARM_SF), warm)
        cfg.update(entries=metrics.CATALOG_ENTRIES, data_dir=full, warm_dir=warm,
                   result_dir=os.path.join(work, "results"))
    path = os.path.join(work, "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    return path, cfg, extra


def run_jvm(classpath, config_path, work, timeout_s):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would otherwise write it to the system temp dir
    cmd = [java, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", config_path]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise RuntimeError("bench JVM failed (%s)" % code)


def check(workload, r, cfg, extra):
    """(attempted, failed, problems) for the run's outputs."""
    if workload == "runner_mixed":
        bad = [c for c in r["checks"] if not c["ok"]]
        pairs = {(c["shape"], c["residue"]) for c in r["checks"]}
        problems = ["%s (shape %d, residue %d): %s" % (c["id"], c["shape"], c["residue"], c["detail"])
                    for c in bad]
        missing = len(pairs) < gen.MIXED_SHAPES * gen.MIXED_RESIDUES
        if missing:
            problems.append("only %d (shape, residue) pairs completed and were checked" % len(pairs))
        fails = sum(o["fail_clips"] for o in r["ops"])
        if fails:
            problems.append("%d FAIL clips during the measured batches" % fails)
        log("checked %d queries in %d (shape, residue) pairs over batches %s in %.1f s" % (
            len(r["checks"]), len(pairs), sorted({c["end_batch"] for c in r["checks"]}),
            r["check_ms"] / 1000))
        attempted = len(r["ops"]) + len(r["checks"])
        return attempted, len(bad) + fails + missing, problems
    if workload == "runner_live":
        n, probs = metrics.live_check(r, extra["kinds"])
        return n, len(probs), ["%s: %s" % kv for kv in sorted(probs.items())[:20]]
    data_key = gen_fingerprint()
    res = oracle.check_entries(r["oracle_sql"], cfg["result_dir"], cfg["data_dir"],
                               os.path.join(BUILD_DIR, "oracle-cache"), data_key)
    bad = {k: v for k, v in res.items() if v is not None}
    attempted = sum(len(p) for p in r["passes"])
    return attempted, len(bad), ["%s: %s" % kv for kv in sorted(bad.items())]


def gen_fingerprint():
    with open(gen.__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(src + b"%d/%r" % (CATALOG_SEED, CATALOG_SF)).hexdigest()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build.ensure_built(ROOT, BUILD_DIR)
    setup_start_ms = time.time() * 1000.0
    work = os.path.join(BUILD_DIR, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        config_path, cfg, extra = prepare(a.workload, a.seed, a.seconds, a.trace, work)
        inputs_ms = time.time() * 1000.0
        # a run ends within 180 s of its start, builds aside
        elapsed = time.time() - setup_start_ms / 1000.0
        run_jvm(classpath, config_path, work, timeout_s=165 - elapsed)
        jvm_end_ms = time.time() * 1000.0
        with open(cfg["out_file"]) as f:
            r = json.load(f)
        log("setup: inputs %.1f s, JVM start %.1f s, session and warm-up %.1f s" % (
            (inputs_ms - setup_start_ms) / 1000, (r["jvm_start_ms"] - inputs_ms) / 1000,
            (r["ready_ms"] - r["jvm_start_ms"]) / 1000))
        if "warm_batch_ms" in r:
            log("warm-up batches (ms): %s" % [round(x) for x in r["warm_batch_ms"]])
        attempted, failed, problems = check(a.workload, r, cfg, extra)
        log("after set-up: JVM run %.1f s, JVM exit %.1f s, checks %.1f s" % (
            (r["done_ms"] - r["ready_ms"]) / 1000, (jvm_end_ms - r["done_ms"]) / 1000,
            time.time() - jvm_end_ms / 1000))
        for p in problems:
            log("check: " + p)
        if a.trace:
            values = metrics.per_layer(a.workload, r, extra.get("durations"))
            units = dict(metrics.per_layer_names())
        else:
            values, samples = metrics.end_to_end(a.workload, r, setup_start_ms,
                                                 cfg.get("batch_records"), extra.get("durations"))
            units = dict(metrics.END_TO_END)
            log("samples: %s" % samples)
        bad = [k for k in units if not math.isfinite(values[k])]
        if bad:
            raise RuntimeError("no value measured for %s" % bad)
        out = {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
               "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # no result line on any failure
        log("error: %s: %s" % (type(e).__name__, e))
        sys.exit(1)

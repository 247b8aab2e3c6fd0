"""Seeded input generation: parquet tables and query/arrival schedules.

Everything the engine sees in a run comes from here, so the same seed
always yields the same inputs. Tables follow the shapes and value ranges
of the project's TPC-H-like fixture (an `events` stream table plus
region/nation/customer/supplier/part/orders/lineitem, `documents` and
`embeddings`), drawn from numpy's PCG64 generator.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

# Rows per table at scale factor 1; a table at scale s has round(n * s).
SF1_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
            "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
            "documents": 50_000, "embeddings": 20_000}

US_PER_DAY = 86_400_000_000


def rng_for(seed, stream):
    """Independent generator per (seed, stream name)."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _ts(rng, n, start, days, sort=False):
    """Microsecond timestamps uniform over `days` days from `start`."""
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days * US_PER_DAY, n, dtype=np.int64)
    if sort:
        us = np.sort(us)
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _day_ts(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days, n, dtype=np.int64) * US_PER_DAY
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def events(seed, n):
    rng = rng_for(seed, "events")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(rng, n, "2024-01-01", 30, sort=True),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(seed, n):
    rng = rng_for(seed, "documents")
    vocab = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    # 5% planted near-duplicates: another document's text plus one word
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(seed, n, dim=64):
    rng = rng_for(seed, "embeddings")
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def star_tables(seed, sf):
    rows = {k: max(1, round(v * sf)) for k, v in SF1_ROWS.items()}
    r = lambda name: rng_for(seed, name)
    nc, ns, np_, no, nl = (rows["customer"], rows["supplier"], rows["part"],
                           rows["orders"], rows["lineitem"])
    out = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
                            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
    }
    g = r("customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(nc)]),
        "c_nationkey": pa.array(g.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(g, nc, -999.99, 9999.99)),
        "c_mktsegment": _pick(g, SEGMENTS, nc)})
    g = r("supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(ns)]),
        "s_nationkey": pa.array(g.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(g, ns, -999.99, 9999.99))})
    g = r("part")
    names = ["%s %s" % (a, b) for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": _pick(g, names, np_),
        "p_brand": pa.array(["Brand#%d" % b for b in g.integers(1, 26, np_)]),
        "p_type": _pick(g, PART_TYPES, np_),
        "p_size": pa.array(g.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(np_) % 1000) / 10.0)})
    g = r("orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(g.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(g, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(g, no, 1000.0, 500000.0)),
        "o_orderdate": _day_ts(g, no, "1995-01-01", 2404),
        "o_orderpriority": _pick(g, PRIORITIES, no)})
    g = r("lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(g.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(g.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(g.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(g.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(g.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(g, nl, 900.0, 105000.0)),
        "l_discount": pa.array(g.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(g.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(g, ["A", "N", "R"], nl),
        "l_linestatus": _pick(g, ["F", "O"], nl),
        "l_shipdate": _day_ts(g, nl, "1995-01-02", 2498)})
    out["events"] = events(seed, rows["events"])
    out["documents"] = documents(seed, rows["documents"])
    out["embeddings"] = embeddings(seed, rows["embeddings"])
    return out


def write(table, path):
    """One file, one row group: Spark reads it as a single partition."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_tables(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        write(t, os.path.join(out_dir, name + ".parquet"))


# ---------------------------------------------------------------- runner_mixed

MIXED_SHAPES = 6
MIXED_RESIDUES = 7  # filters user_id % 7 = r
_COUNT_SUM = [{"op": "COUNT", "name": "cnt"}, {"op": "SUM", "field": "value", "name": "sv"}]
MIXED_AGGS = [
    {"type": "GROUP_ALL", "ops": _COUNT_SUM},
    {"type": "COUNT_DISTINCT", "fields": ["user_id"], "lgK": 14},
    {"type": "TOP_K", "fields": [{"field": "event_type", "as": "et"}], "k": 3,
     "countName": "cnt", "maxMapSize": 64},
    {"type": "DISTRIBUTION", "field": "value", "dtype": "QUANTILE",
     "points": [0.1, 0.5, 0.9], "k": 1024},
    {"type": "RAW", "size": 100},
    {"type": "GROUP_BY", "fields": [{"field": "event_type", "as": "et"}], "ops": _COUNT_SUM,
     "entries": 32},
]


def mixed_message(qid, shape, residue, batches):
    """REGISTER control message for one query of the b11 mix: shape 0-5
    over the filter `user_id % 7 = residue`, lasting `batches` seconds of
    the manual clock (one second per batch)."""
    query = {"id": qid,
             "filter": {"op": "EQUALS",
                        "left": {"op": "MOD", "left": {"field": "user_id"},
                                  "right": {"value": MIXED_RESIDUES}},
                        "right": {"value": residue}},
             "aggregation": MIXED_AGGS[shape],
             "durationMs": batches * 1000}
    return json.dumps({"type": "REGISTER", "query": query})


def mixed_queries(seed, active, pool_per_shape, max_batches=10):
    """Initial `active` queries (slot i has shape i % 6) followed by a pool
    of replacements per shape. Each row: (id, shape, residue, batches,
    message)."""
    rng = rng_for(seed, "mixed-queries")
    shapes = [i % MIXED_SHAPES for i in range(active)]
    shapes += [s for s in range(MIXED_SHAPES) for _ in range(pool_per_shape)]
    residues = rng.integers(0, MIXED_RESIDUES, len(shapes))
    batches = rng.integers(1, max_batches + 1, len(shapes))
    rows = []
    for i, (shape, res, b) in enumerate(zip(shapes, residues, batches)):
        qid = "m%d" % i
        rows.append((qid, shape, int(res), int(b), mixed_message(qid, shape, int(res), int(b))))
    return rows


# ----------------------------------------------------------------- runner_live

# The live mix per block of 20 submissions, shuffled within the block so every
# stretch of the schedule carries the same shares: 60% user_id = u, 15%
# value > t, 10% TIME windows, 10% RAW, 5% TOP K.
LIVE_BLOCK = ["eq"] * 12 + ["range"] * 3 + ["window"] * 2 + ["raw"] * 2 + ["topk"]


def live_bql(kind, rng, duration_ms):
    d = " DURATION %d" % duration_ms
    if kind == "eq":
        return ("SELECT COUNT(*) AS cnt, SUM(value) AS sv FROM STREAM WHERE user_id = %d"
                % rng.integers(0, 1500)) + d
    if kind == "range":
        return ("SELECT COUNT(*) AS cnt FROM STREAM WHERE value > %.2f"
                % (rng.integers(0, 56000) / 100.0)) + d
    if kind == "window":
        return ("SELECT COUNT(*) AS cnt, SUM(value) AS sv FROM STREAM WHERE event_type = '%s'"
                " WINDOWING EVERY 1000 TIME" % EVENT_TYPES[rng.integers(0, 5)]) + d
    if kind == "raw":
        return ("SELECT * FROM STREAM WHERE user_id = %d LIMIT 5" % rng.integers(0, 1500)) + d
    return "SELECT TOP(3, event_type) FROM STREAM" + d


def _residual_life_ms(rng, lo, hi):
    """Remaining life of a query alive at a random instant, for durations
    uniform on [lo, hi]: density proportional to P(D > x)."""
    while True:
        x = rng.uniform(0, hi)
        if x <= lo or rng.uniform() < (hi - x) / (hi - lo):
            return max(1, int(x))


def live_schedule(seed, horizon_ms, rate_per_s=100.0, dur_ms=(5000, 20000)):
    """Control messages as (at_ms, id, kind, json) sorted by time. The
    run starts in steady state: the queries a Poisson(rate) arrival
    process would have alive at time 0 are submitted at time 0 with their
    residual durations; then arrivals follow at `rate_per_s`."""
    rng = rng_for(seed, "live-schedule")
    msgs = []
    n = 0
    block = []

    def submit(at, duration):
        nonlocal n, block
        if not block:
            block = list(rng.permutation(LIVE_BLOCK))
            # one KILL per block: 5% of the queries
            block = [(k, i == 0) for i, k in enumerate(block)]
            block = [block[i] for i in rng.permutation(len(block))]
        kind, killed = block.pop()
        qid = "l%d" % n
        n += 1
        bql = live_bql(kind, rng, duration)
        msgs.append((at, qid, kind, json.dumps({"type": "REGISTER_BQL", "id": qid, "bql": bql})))
        if killed:
            kill_at = at + int(duration * rng.uniform(0.2, 0.9))
            msgs.append((kill_at, qid, "KILL", json.dumps({"type": "KILL", "id": qid})))

    mean_life_s = (dur_ms[0] + dur_ms[1]) / 2000.0
    for _ in range(int(rng.poisson(rate_per_s * mean_life_s))):
        submit(0, _residual_life_ms(rng, *dur_ms))
    t = 0.0
    while True:
        t += rng.exponential(1000.0 / rate_per_s)
        if t >= horizon_ms:
            break
        submit(int(t), int(rng.integers(dur_ms[0], dur_ms[1] + 1)))
    msgs.sort(key=lambda m: m[0])
    return msgs


def write_rows(rows, path):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")

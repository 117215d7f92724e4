"""Seeded input generators for the benchmark's three workloads.

Every input the engine sees is made here, from the workload seed alone:

* ``gen_tables``   the star-schema tables plus ``events``, ``documents`` and
                   ``embeddings`` that the batch battery reads, one parquet
                   file each, with the column types and value domains of the
                   engine's reference test data;
* ``gen_stream``   the event slices the recon pipeline's load generator
                   publishes (CSV files in the ``events`` schema) and a
                   manifest saying which slice belongs to which phase;
* ``gen_table_rw`` the seed rows of the table the read/write client works on
                   and its fixed operation sequence.

The same seed gives byte-identical files; ``tests/test_gen.py`` pins that.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "plate", "ring", "screw", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]


def _rng(seed, stream):
    # One independent generator per (seed, table): adding a column to one
    # table never shifts the values of another.
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "D").astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, ndays, n) * US_PER_DAY


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def gen_tables(seed, out_dir, sf=0.1):
    """Writes the ten battery tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")

    r = _rng(seed, 1)
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)}), f"{out_dir}/customer.parquet")

    r = _rng(seed, 2)
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)}), f"{out_dir}/supplier.parquet")

    r = _rng(seed, 3)
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": keys,
        "p_name": _pick(r, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)}), f"{out_dir}/part.parquet")

    r = _rng(seed, 4)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days(r, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)}), f"{out_dir}/orders.parquet")

    r = _rng(seed, 5)
    _write(pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": np.round(r.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _ts(_days(r, "1995-01-02", 2499, n_line))}), f"{out_dir}/lineitem.parquet")

    r = _rng(seed, 6)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(t0 + r.integers(0, 30 * US_PER_DAY, n_ev))),
        "user_id": r.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])}),
        f"{out_dir}/events.parquet")

    r = _rng(seed, 7)
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:
            # near-duplicate: an earlier document plus one extra token
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), int(r.integers(10, 100)))))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(r, LANGS, n_doc, LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}), f"{out_dir}/documents.parquet")

    r = _rng(seed, 8)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": r.integers(0, 10, n_emb).astype(np.int32)}), f"{out_dir}/embeddings.parquet")


def _zipf_users(rng, n, users, s):
    # Bounded Zipf over `users` ids; the rank -> id map is a seeded shuffle
    # so the hot users are not simply the smallest ids.
    p = 1.0 / np.arange(1, users + 1) ** s
    ids = rng.permutation(users).astype(np.int64)
    return ids[rng.choice(users, n, p=p / p.sum())]


# The recon stream reproduces the reference ``events`` table that the
# engine's own streaming tests replay (sf0.1 of its test data: 100,000 events
# over 30 days, user ids 0..1499, the five event types about 20% each,
# ``value`` exponential with mean 50, ``props`` {"k": 0..99}), with two
# changes the benchmark asks for: user ids are Zipf-skewed, and events arrive
# out of order within the watermark. See PREDICTIONS.md, "Inputs".
REF_EVENTS_PER_HOUR = 100_000 / (30 * 24)
REF_USERS = 1500
VALUE_MEAN = 50.0
# YCSB's default request skew (its zipfian constant), used for both the
# recon users and the table_rw keys.
ZIPF_S = 0.99


def gen_stream(seed, out_dir, warm_events, schedule, users=REF_USERS, zipf_s=ZIPF_S,
               per_hour=REF_EVENTS_PER_HOUR, disorder_s=300, warm_files=4):
    """Writes the recon pipeline's event slices to ``<out_dir>/slices``.

    Events form one Poisson stream in event time at ``per_hour`` events per
    event-hour, so join state covers the same event-time span at every
    publishing rate. Each event has a uniform type out of the five (the
    pipeline keeps ``signup`` as leg A and ``purchase`` as leg B) and a
    Zipf-skewed user. The stream is cut, in event-time order, into the
    warm-up block (``warm_events`` events in ``warm_files`` files, published
    at once at set-up) and then one slice per ``schedule`` entry
    ``(phase, due_ms, events)``: the slice is published ``due_ms`` after the
    measured window opens. Within a slice events are shuffled and each one's
    timestamp is moved back by up to ``disorder_s`` seconds, less than the
    engine's 10-minute watermark, so no event is ever late.

    ``manifest.json`` lists every slice's file, phase, due time, event count
    and event-id range.
    """
    rng = _rng(seed, 20)
    slice_dir = os.path.join(out_dir, "slices")
    os.makedirs(slice_dir, exist_ok=True)
    total = warm_events + sum(n for _, _, n in schedule)
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = t0 + np.cumsum(rng.exponential(3_600_000_000 / per_hour, total)).astype(np.int64)
    uid = _zipf_users(rng, total, users, zipf_s)
    etype = rng.integers(0, len(EVENT_TYPES), total)
    value = np.round(rng.exponential(VALUE_MEAN, total), 2)
    props = rng.integers(0, 100, total)

    cuts = np.linspace(0, warm_events, warm_files + 1).astype(int)
    bounds = [(cuts[i], cuts[i + 1], "warm", -1) for i in range(warm_files)]
    start = warm_events
    for phase, due_ms, n in schedule:
        bounds.append((start, start + n, phase, int(due_ms)))
        start += n
    manifest = []
    for i, (lo, hi, phase, due_ms) in enumerate(bounds):
        idx = lo + rng.permutation(hi - lo)
        jitter = rng.integers(0, disorder_s * 1_000_000, hi - lo)
        stamps = np.datetime_as_string((ts[idx] - jitter).astype("datetime64[us]"), unit="us")
        name = f"slice-{i:06d}.csv"
        with open(os.path.join(slice_dir, name), "w", newline="") as f:
            f.writelines(
                f'{k},{t.replace("T", " ")},{uid[k]},{EVENT_TYPES[etype[k]]},{value[k]},"{{""k"": {props[k]}}}"\n'
                for k, t in zip(idx.tolist(), stamps))
        manifest.append({"file": name, "phase": phase, "due_ms": due_ms, "events": int(hi - lo),
                         "first_id": int(lo), "last_id": int(hi - 1)})
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"slices": manifest}, f, indent=1)
    return manifest


# table_rw's operation cycle. Its reads and writes are 1:1 and its point
# reads and keyed updates come in pairs, as in YCSB's core workload A (50%
# reads, 50% updates); one append and one full scan per cycle make the
# insert and scan paths show too, and one compaction per cycle keeps the
# file count level.
CYCLE = ["lookup", "merge", "lookup", "merge", "append", "scan", "compact"]
# The seeded table has the size and value domain of the reference sf0.1
# customer table: 15,000 keys, account balances in [-999.99, 9999.99].
RW_KEYS = 15_000


def gen_table_rw(seed, out_dir, keys=RW_KEYS, ops=1_400, batch=50, zipf_s=ZIPF_S):
    """Writes the read/write client's seed rows and operation sequence.

    ``seed.parquet`` holds one row per key ``0 <= k < keys`` (the seeded
    table). ``ops.jsonl`` is the client's fixed mix, ``CYCLE`` repeated:
    point lookups and keyed merges of ``batch`` existing keys, both on Zipf
    keys; appends of ``batch`` new keys; full snapshot reads; and a
    compaction. The seed picks the keys and values; the fixed cycle gives
    every whole number of cycles the same mix.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, 30)
    _write(pa.table({
        "k": np.arange(keys, dtype=np.int64),
        "amount": _money(rng, -999.99, 9999.99, keys),
        "note": [f"seed-{int(x)}" for x in rng.integers(0, 1 << 30, keys)]}),
        os.path.join(out_dir, "seed.parquet"))

    hot = rng.permutation(keys).astype(np.int64)
    p = 1.0 / np.arange(1, keys + 1) ** zipf_s
    p /= p.sum()
    next_key = keys
    with open(os.path.join(out_dir, "ops.jsonl"), "w") as f:
        for i in range(ops):
            kind = CYCLE[i % len(CYCLE)]
            op = {"op": kind}
            if kind == "append":
                op["keys"] = list(range(next_key, next_key + batch))
                next_key += batch
            elif kind == "merge":
                op["keys"] = sorted(set(int(x) for x in hot[rng.choice(keys, batch, p=p)]))
            elif kind == "lookup":
                op["key"] = int(hot[rng.choice(keys, p=p)])
            if "keys" in op:
                op["amount"] = [float(x) for x in _money(rng, -999.99, 9999.99, len(op["keys"]))]
            f.write(json.dumps(op, separators=(",", ":")) + "\n")

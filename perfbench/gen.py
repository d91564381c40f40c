"""Seeded input generator.

Batch tables follow the schemas, key relationships and value domains of
FIXTURES.md section B (the TPC-H-like star schema plus events, documents and
embeddings); row counts scale with the size factor the same way the
fixtures do. The stream input is a sequence of 1-5 word sentences with
Zipf-skewed words and bounded out-of-order event times.

The same (seed, size) always gives byte-identical files.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200 * 10**6          # 2024-01-01 UTC, events start here
DAY_US = 86400 * 10**6
D1995 = 9131                       # 1995-01-01 as days since the epoch
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_SHARE = [0.14, 0.44, 0.15, 0.13, 0.14]
DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, first_day, last_day, n):
    return (rng.integers(first_day, last_day + 1, n) * DAY_US).astype("int64")


def batch_tables(seed, sf):
    """Returns {table name: pyarrow.Table} for size factor `sf`."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_evt = int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    ts = pa.timestamp("us")
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days_us(rng, D1995, D1995 + 2403, n_ord), ts),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(_days_us(rng, D1995 + 1, D1995 + 2498, n_line), ts)})
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(T0_US + np.sort(rng.integers(0, 30 * DAY_US, n_evt)), ts),
        "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_evt), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.clip(np.round(rng.exponential(50.0, n_evt), 2), 0.01, 490.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n):
    """Word soup over a 30-word vocabulary with per-language word weights;
    5% of documents repeat an earlier one with " dup" appended, which gives
    the dedup family near-duplicates to find."""
    weights = {l: rng.uniform(0.7, 1.3, len(DOC_VOCAB)) for l in LANGS}
    langs = rng.choice(LANGS, n, p=LANG_SHARE)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
            continue
        w = weights[langs[i]]
        words = rng.choice(DOC_VOCAB, rng.integers(10, 100), p=w / w.sum())
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _embeddings(rng, n, dim=64, classes=10):
    """Unit vectors around one weak direction per label."""
    centers = rng.normal(size=(classes, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, classes, n)
    v = 0.14 * centers[labels] + rng.normal(0.0, 0.124, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def stream_events(seed, n, vocab, zipf_s, events_per_s, jitter_ms):
    """Returns (event-time ms, sentence) pairs in arrival order.

    Event time advances `events_per_s` events per event-second; each event
    arrives up to `jitter_ms` late, so arrival is out of order but never by
    more than the jitter (keep it below the watermark delay)."""
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, vocab + 1, dtype="float64")
    p = ranks ** -zipf_s
    p /= p.sum()
    words = [f"w{i}" for i in range(vocab)]
    lens = rng.integers(1, 6, n)
    picks = rng.choice(vocab, int(lens.sum()), p=p)
    base = T0_US // 1000 + (np.arange(n) * 1000) // events_per_s
    ts = base - rng.integers(0, jitter_ms + 1, n)
    out, k = [], 0
    for i in range(n):
        out.append((int(ts[i]), " ".join(words[j] for j in picks[k:k + lens[i]])))
        k += lens[i]
    return out


def materialize(root, seed, sf, stream=None):
    """Writes the inputs for (seed, sf) under `root` once and returns the
    directory. `stream` holds the stream generator's parameters, or None."""
    params = hashlib.md5(json.dumps(stream, sort_keys=True).encode()).hexdigest()[:8]
    tag = f"sf{sf}-seed{seed}" + (f"-stream{params}" if stream else "")
    final = os.path.join(root, tag)
    if os.path.exists(os.path.join(final, "_DONE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if stream:
        rows = stream_events(seed, **stream)
        with open(os.path.join(tmp, "stream_events.tsv"), "w") as f:
            f.writelines(f"{t}\t{s}\n" for t, s in rows)
    else:
        for name, table in batch_tables(seed, sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final

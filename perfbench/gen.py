"""Seeded input generation.

Every table the workloads read is generated here from `--seed` with
numpy and written with pyarrow, in the schema of the TPC-H-ish star plus
`events`, `documents` and `embeddings` that `graft.Tables.load` reads.
The same seed gives byte-identical inputs; sizes are fixed per workload,
so a change of seed moves values, never volume.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

EPOCH_ORDERS = np.datetime64("1995-01-01", "us")
EPOCH_EVENTS = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def rng_for(seed, name):
    """An independent stream per (seed, table), so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, sum(map(ord, name)) * 7919 + len(name)])


def write(table: pa.Table, path: str, files: int = 1):
    """Write `table` as a parquet directory of `files` part files."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // files))
    for i, lo in enumerate(range(0, max(n, 1), step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _pick(r, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)],
                    pa.string())


def dims(seed, n_cust, n_supp, n_part):
    r = rng_for(seed, "dims")
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": pa.array(REGIONS)})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})
    adj = r.integers(0, len(PART_ADJ), n_part)
    noun = r.integers(0, len(PART_NOUN), n_part)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part}


def orders_lineitem(seed, n_orders, n_cust, n_supp, n_part, days=2400,
                    key0=0, day0=0, tag="ol"):
    """Orders with 1..7 lines each. `key0`/`day0` offset keys and dates so
    nightly slices can be generated independently and stay disjoint."""
    r = rng_for(seed, tag)
    okey = np.arange(key0, key0 + n_orders, dtype=np.int64)
    oday = day0 + r.integers(0, days, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(okey, pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": _pick(r, ["P", "O", "F"], n_orders),
        "o_totalprice": pa.array(_money(r, 1000, 500000, n_orders)),
        "o_orderdate": pa.array(EPOCH_ORDERS + oday.astype("timedelta64[D]"),
                                pa.timestamp("us")),
        "o_orderpriority": _pick(r, PRIORITIES, n_orders)})
    lines = r.integers(1, 8, n_orders)
    n = int(lines.sum())
    lok = np.repeat(okey, lines)
    lday = np.repeat(oday, lines) + r.integers(1, 121, n)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]) if n else np.zeros(0)
    qty = r.integers(1, 51, n).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(r, 901, 104999, n)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": pa.array(EPOCH_ORDERS + lday.astype("timedelta64[D]"),
                               pa.timestamp("us"))})
    return orders, lineitem


def events(seed, n, n_users, days=30):
    r = rng_for(seed, "events")
    ts = np.sort(r.integers(0, days * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_EVENTS + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})


def texts(r, n, lo=10, hi=100):
    words = np.asarray(VOCAB, dtype=object)
    lens = r.integers(lo, hi + 1, n)
    flat = words[r.integers(0, len(VOCAB), int(lens.sum()))]
    out, i = [], 0
    for k in lens:
        out.append(" ".join(flat[i:i + k]))
        i += k
    return out


def documents(seed, n, exact_rate=0.0, near_rate=0.0, excerpt_rate=0.0,
              id0=0, tag="documents"):
    """`n` base documents plus planted exact copies, near copies (one word
    in ten replaced) and excerpts (a contiguous half) of base documents.
    Returns (table, planted) where `planted` maps kind -> [(copy_id,
    source_id)]."""
    r = rng_for(seed, tag)
    base = texts(r, n)
    ids = list(range(id0, id0 + n))
    txt = list(base)
    planted = {"exact": [], "near": [], "excerpt": []}
    nxt = id0 + n
    for kind, rate in (("exact", exact_rate), ("near", near_rate),
                       ("excerpt", excerpt_rate)):
        k = int(round(n * rate))
        for src in r.choice(n, k, replace=False) if k else []:
            w = base[src].split()
            if kind == "near":
                for j in range(0, len(w), 10):
                    w[(j + int(r.integers(0, 10))) % len(w)] = VOCAB[int(r.integers(0, len(VOCAB)))]
            elif kind == "excerpt":
                w = w[len(w) // 4: len(w) // 4 + max(len(w) // 2, 5)]
            ids.append(nxt)
            txt.append(" ".join(w))
            planted[kind].append((nxt, id0 + int(src)))
            nxt += 1
    order = r.permutation(len(ids))
    ids = [ids[i] for i in order]
    txt = [txt[i] for i in order]
    m = len(ids)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(txt),
        "lang": _pick(r, LANGS, m, LANG_P),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, m)]),
        "n_chars": pa.array([len(t) for t in txt], pa.int64())})
    return table, planted


def embeddings(seed, n, dim=EMB_DIM, labels=10):
    r = rng_for(seed, "embeddings")
    centers = r.normal(0, 1, (labels, dim))
    lab = r.integers(0, labels, n)
    v = centers[lab] + r.normal(0, 1.2, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


def day_string(day):
    return (dt.date(1995, 1, 1) + dt.timedelta(days=int(day))).strftime("%Y%m%d")


def derived(seed, tag, src_ids, src_texts, n_new, n_exact, n_near, n_excerpt=0,
            id0=10_000_000, extra=()):
    """A batch drawn against an existing corpus: `n_new` fresh documents
    plus exact copies, near copies and excerpts of seed-chosen corpus
    documents, and `extra` texts appended as-is. Returns (table, planted)
    with planted kind -> [(batch_id, corpus_id)] and "new"/"extra" ->
    [batch_id]."""
    r = rng_for(seed, tag)
    ids, txt = [], []
    planted = {"new": [], "exact": [], "near": [], "excerpt": [], "extra": []}
    nxt = id0
    for t in texts(r, n_new):
        ids.append(nxt); txt.append(t); planted["new"].append(nxt); nxt += 1
    picks = r.choice(len(src_ids), n_exact + n_near + n_excerpt, replace=False)
    for k, p in enumerate(picks):
        w = src_texts[p].split()
        if k < n_exact:
            kind = "exact"
        elif k < n_exact + n_near:
            kind = "near"
            for j in range(0, len(w), 10):
                w[(j + int(r.integers(0, 10))) % len(w)] = VOCAB[int(r.integers(0, len(VOCAB)))]
        else:
            kind = "excerpt"
            w = w[len(w) // 4: len(w) // 4 + max(len(w) // 2, 5)]
        ids.append(nxt); txt.append(" ".join(w))
        planted[kind].append((nxt, int(src_ids[p]))); nxt += 1
    for t in extra:
        ids.append(nxt); txt.append(t); planted["extra"].append(nxt); nxt += 1
    order = r.permutation(len(ids))
    ids = [ids[i] for i in order]
    txt = [txt[i] for i in order]
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(txt)}), planted

"""Seeded input tables for the benchmark.

For the batch workloads, the ten tables that `graft.Tables` loads (same
names, columns and parquet physical types as the fixture tables the engine
is tested on) at the sf0.01 shape. For cep-stream, the event payloads it
appends to the in-process broker: an events table at the sf0.1 shape (the
engine's bench scale: 100k events of 1 500 users over 30 days, the five
event types in equal shares, as in the sf0.1 fixture), replayed in ts
order. The same seed gives byte-identical inputs; the engine only ever sees
these files.
"""
import os

import numpy as np
import pandas as pd

# Row counts of the sf0.01 fixture shape, and the events of the sf0.1 one.
N_EVENTS, N_USERS = 10_000, 150
N_STREAM_EVENTS, N_STREAM_USERS = 100_000, 1_500
N_DOCS, N_VECS, DIM = 500, 500, 64
N_CUST, N_SUPP, N_PART, N_ORDERS, N_LINES = 1_500, 100, 2_000, 15_000, 60_000

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
VOCAB.remove("dup")  # reserved for the near-duplicate marker
LANGS, LANG_P = ["en", "es", "zh", "de", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14]
EV_START = np.datetime64("2024-01-01T00:00:00", "us")
EV_SPAN_US = 30 * 24 * 3600 * 10**6


def _ts(start, offsets_us):
    return (np.datetime64(start, "us") + offsets_us.astype("timedelta64[us]"))


def events(rng, n=N_EVENTS, users=N_USERS):
    off = np.sort(rng.choice(EV_SPAN_US, size=n, replace=False))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EV_START + off.astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    return pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng):
    centers = rng.normal(0.0, 0.15, (10, DIM))
    label = rng.integers(0, 10, N_VECS).astype(np.int32)
    x = centers[label] + rng.normal(0.0, 1.0 / np.sqrt(DIM), (N_VECS, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in x],
        "label": label,
    })


def tpch(rng):
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = pd.DataFrame({
        "c_custkey": np.arange(N_CUST, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], N_CUST)})
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2)})
    adj = ["blue", "cold", "hot", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
    part = pd.DataFrame({
        "p_partkey": np.arange(N_PART, dtype=np.int64),
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(adj, N_PART),
                                              rng.choice(noun, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2)})
    day_us = 24 * 3600 * 10**6
    orders = pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORDERS, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, N_ORDERS) * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)})
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINES, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINES, dtype=np.int64),
        "l_suppkey": rng.integers(0, N_SUPP, N_LINES, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINES).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, N_LINES), 2),
        "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINES),
        "l_linestatus": rng.choice(["F", "O"], N_LINES),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, N_LINES) * day_us)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def stream_payloads(ev, rng, n):
    """`n` delimited payloads and two sentinels. The payloads are the events
    table replayed in ts order, lap after lap; each lap is shifted past the
    previous one by the table's span plus a seeded gap of 1-48 hours, and
    its ids by the lap number times the table size, so ids stay unique and
    timestamps increase. The sentinels lie 13 hours past the last payload,
    beyond the longest WITHIN of the standing queries, so their watermark
    finalizes every pending timer."""
    base_us = (ev["ts"].values - EV_START).astype(np.int64)
    out, shift_us, lap = [], 0, 0
    while len(out) < n:
        ts = EV_START + (base_us + shift_us).astype("timedelta64[us]")
        ids = ev["event_id"].values + lap * len(ev)
        for i, t, u, e, v in zip(ids, ts, ev["user_id"].values,
                                 ev["event_type"].values, ev["value"].values):
            out.append(f"{i},{_fmt(t)},{u},{e},{float(v)!r}")
        lap += 1
        shift_us += EV_SPAN_US + int(rng.integers(1, 49)) * 3600 * 10**6
    out = out[:n]
    last_id, last_ts = int(out[-1].split(",")[0]), out[-1].split(",")[1]
    t = np.datetime64(last_ts.replace(" ", "T"), "us") + np.timedelta64(13, "h")
    users = int(ev["user_id"].max()) + 1
    for k in range(2):
        out.append(f"{last_id + 1 + k},{_fmt(t + np.timedelta64(k, 's'))},"
                   f"{users},view,1.0")
    return out


def _fmt(t):
    s = str(t).replace("T", " ")
    return s if "." in s else s + ".000000"


def generate(out_dir, seed, n_stream):
    """The batch tables, or with `n_stream` > 0 only that many stream
    payloads (and the sentinels) in `stream.csv`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    if n_stream:
        ev = events(rng, N_STREAM_EVENTS, N_STREAM_USERS)
        with open(os.path.join(out_dir, "stream.csv"), "w") as f:
            f.write("\n".join(stream_payloads(ev, rng, n_stream)))
            f.write("\n")
        return
    tables = {"events": events(rng), "documents": documents(rng),
              "embeddings": embeddings(rng)}
    tables.update(tpch(rng))
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

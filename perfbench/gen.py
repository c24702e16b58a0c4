"""Seeded input generator for the two benchmark workloads.

Writes the ten parquet tables the library's readers expect (the same
schemas as the repository's testdata: region nation customer supplier part orders
lineitem events documents embeddings) plus, for `ingest`, the day batches
the closed-loop client lands one by one. Everything is a pure function of
(workload, seed, size), so the same arguments give byte-identical inputs.

    python3 perfbench/gen.py --workload research --seed 7 --out DIR

What each workload varies, and why, is recorded in SIZES below and in
BENCHMARK.json / perfbench/README.md.
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ("key agg row scan slow fast table value part hash a the line sort window "
         "batch spark order data column join small customer query big filter merge "
         "stream group vector").split()
LANGS = ["en", "es", "fr", "de", "zh"]
DIM = 64
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
DAY_US = 86_400 * 1_000_000

# Input sizes per workload. research varies history length against symbol
# count (long per-symbol histories so 50-day windows fill), the planted
# near-duplicate rate and the embedding cluster count; ingest varies batch
# size against base-store size (each batch is ~1% of the store).
SIZES = {
    "research": dict(symbols=30, days=160, ticks=2, orders=1200, lines=4,
                     docs=1000, dup_rate=0.05, dup_cluster=3, holdout_copy=0.02,
                     vecs=600, clusters=12, vec_dup_rate=0.02),
    "ingest": dict(symbols=200, days=30, ticks=4, orders=1000, lines=4,
                   docs=200, vecs=800, clusters=10,
                   batches=3, batch_events=240, batch_vecs=20, forget_every=2),
}


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _dims(rng, out, n_cust, n_orders, lines_per_order, start_us, span_days):
    """TPC-H-shaped dimension and fact tables keyed on the symbol universe
    (customer = symbol, supplier = insider filer)."""
    _write(out, "region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    n_supp = 100
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    n_part = 2000
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"][i]
                   for i in rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.uniform(0, 1100, n_part), 2)})
    odate = start_us + rng.integers(0, span_days, n_orders) * DAY_US
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    nl = rng.integers(1, 2 * lines_per_order, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), nl)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nl]).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, nl) + rng.integers(1, 120, n_li) * DAY_US
    _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship)})


def _events(rng, n_sym, days, ticks, first_id=0, first_day=0):
    """Per-symbol random-walk prices: `ticks` events per symbol-day whose
    day's last value is the close. Each symbol alternates between up and
    down drift regimes so crossover, breakout and mean-reversion signals
    fire in both directions."""
    n = n_sym * days * ticks
    sym = np.repeat(np.arange(n_sym, dtype=np.int64), days * ticks)
    day = np.tile(np.repeat(np.arange(first_day, first_day + days), ticks), n_sym)
    regime_len = rng.integers(15, 60, n_sym)
    drift = np.where((np.arange(days)[None, :] // regime_len[:, None]) % 2 == 0, 1.0, -1.0)
    drift = drift * rng.uniform(0.002, 0.006, n_sym)[:, None]
    steps = drift + rng.normal(0, 1, (n_sym, days)) * rng.uniform(0.01, 0.03, n_sym)[:, None]
    close = rng.uniform(10, 200, n_sym)[:, None] * np.exp(np.cumsum(steps, axis=1))
    intraday = 1.0 + rng.normal(0, 0.004, (n_sym, days, ticks))
    intraday[:, :, -1] = 1.0
    value = np.round((close[:, :, None] * intraday).reshape(-1), 2)
    sec = np.sort(rng.integers(34_200, 57_600, (n_sym, days, ticks)), axis=2).reshape(-1)
    ts = EPOCH_US + day.astype(np.int64) * DAY_US + sec.astype(np.int64) * 1_000_000 \
        + rng.integers(0, 1_000_000, n)
    order = np.lexsort((sym, ts))
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(ts[order]),
        "user_id": sym[order],
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": value[order],
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)]}


def _doc(rng, n_words):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def _documents(rng, out, n_docs, dup_rate=0.0, dup_cluster=3, holdout_copy=0.0):
    """Random-vocabulary documents with planted near-duplicate clusters:
    a `dup_rate` share of documents are edited copies (a few tokens
    substituted) of a cluster head, and a `holdout_copy` share copy a
    holdout-split document so decontamination has real hits. Returns the
    planted near-duplicate pairs (head, copy)."""
    texts, planted = [], []
    heads = set()
    i = 0
    while i < n_docs:
        if i > dup_cluster and rng.random() < dup_rate / dup_cluster:
            head = int(rng.integers(0, i))
            while head in heads or texts[head] is None:
                head = int(rng.integers(0, i))
            heads.add(head)
            words = texts[head].split()
            for _ in range(min(dup_cluster, n_docs - i)):
                w = list(words)
                for j in rng.integers(0, len(w), max(1, len(w) // 25)):
                    w[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                texts.append(" ".join(w))
                planted.append((head, i))
                i += 1
            continue
        if i > 40 and rng.random() < holdout_copy:
            src = int(rng.integers(0, i // 20)) * 20 + 19
            if src < i:
                texts.append(texts[src])
                i += 1
                continue
        t = _doc(rng, int(rng.integers(20, 90)))
        r = rng.random()
        if r < 0.03:
            t += f" contact user{i}@example.com"
        elif r < 0.05:
            t += f" host 10.0.{i % 250}.{(i * 7) % 250}"
        texts.append(t)
        i += 1
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return planted


def _vectors(rng, n, centers, first_id=0, dup_rate=0.0):
    """Unit vectors scattered around known cluster centers, with a
    `dup_rate` share planted as near-copies of an earlier vector."""
    lab = rng.integers(0, len(centers), n)
    v = centers[lab] + rng.normal(0, 0.25, (n, DIM))
    for i in range(1, n):
        if rng.random() < dup_rate:
            v[i] = v[int(rng.integers(0, i))] + rng.normal(0, 0.01, DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {"vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(lab, pa.int32())}


def _centers(rng, k):
    c = rng.normal(0, 1, (k, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def generate(workload, seed, out):
    cfg = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    os.makedirs(out, exist_ok=True)
    _dims(rng, out, cfg["symbols"], cfg["orders"], cfg["lines"], EPOCH_US,
          max(cfg["days"], 30))
    _write(out, "events", _events(rng, cfg["symbols"], cfg["days"], cfg["ticks"]))
    planted = _documents(rng, out, cfg["docs"], cfg.get("dup_rate", 0.0),
                         cfg.get("dup_cluster", 3), cfg.get("holdout_copy", 0.0))
    centers = _centers(rng, cfg["clusters"])
    _write(out, "embeddings", _vectors(rng, cfg["vecs"], centers,
                                       dup_rate=cfg.get("vec_dup_rate", 0.0)))
    meta = {"workload": workload, "seed": seed, "sizes": cfg,
            "planted_pairs": planted}
    if workload == "ingest":
        # day batches after the base history: each one a few hundred events
        # across a random subset of symbols, plus a few new vectors
        bdir = os.path.join(out, "batches")
        os.makedirs(bdir, exist_ok=True)
        next_id = cfg["symbols"] * cfg["days"] * cfg["ticks"]
        next_vec = cfg["vecs"]
        for b in range(cfg["batches"]):
            n_sym = max(1, cfg["batch_events"] // cfg["ticks"])
            syms = np.sort(rng.choice(cfg["symbols"], size=min(n_sym, cfg["symbols"]),
                                      replace=False))
            ev = _events(rng, len(syms), 1, cfg["ticks"], first_id=next_id,
                         first_day=cfg["days"] + b)
            ev["user_id"] = syms[ev["user_id"]]
            next_id += len(ev["event_id"])
            pq.write_table(pa.table(ev), os.path.join(bdir, f"events_{b:04d}.parquet"))
            pq.write_table(pa.table(_vectors(rng, cfg["batch_vecs"], centers, first_id=next_vec)),
                           os.path.join(bdir, f"vecs_{b:04d}.parquet"))
            next_vec += cfg["batch_vecs"]
        # symbols forgotten at each maintenance point (right to be forgotten)
        n_maint = cfg["batches"] // cfg["forget_every"]
        forget = [sorted(int(s) for s in rng.choice(cfg["symbols"], 3, replace=False))
                  for _ in range(n_maint)]
        with open(os.path.join(out, "ingest.properties"), "w") as f:
            f.write(f"symbols={cfg['symbols']}\nforget_every={cfg['forget_every']}\n")
            for i, keys in enumerate(forget):
                f.write(f"forget.{i}={','.join(map(str, keys))}\n")
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()

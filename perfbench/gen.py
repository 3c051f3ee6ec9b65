"""Seeded input generator for the benchmark.

Two kinds of input are made here, both a pure function of the seed:

* ``make_tables``: the ten-table corpus the gated queries read (TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``), with the
  same column names, parquet physical types and value domains as the
  engine's test corpus, at a chosen scale factor.
* ``make_arrivals``: partner CSV drops for the ingest workload, cut from the
  generated ``orders`` table, with a fixed share of malformed lines in a
  fixed share of the files, and the notification manifests (including
  duplicate notifications) that announce them.

Ground truth is never taken from the engine: ``oracle.check_ingest``
recomputes what an ingest run must end with from the generated files alone.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
SEGMENTS = ["MACHINERY", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
PART_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]
LANGS = ["en", "es", "de", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH = datetime.datetime(1970, 1, 1)


def _us(dt):
    return int((dt - EPOCH).total_seconds()) * 1_000_000


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir, seed, sf, only=None):
    """Write the ten parquet tables for scale factor ``sf`` under ``out_dir``
    (or only the tables named in ``only``; the others are still drawn, so a
    table's content never depends on which tables are written)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else int(50_000 * sf)
    n_vecs = 500 if sf <= 0.01 else int(20_000 * sf)

    def write(name, cols):
        if only is None or name in only:
            pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist()})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    write("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})

    o_lo = _us(datetime.datetime(1995, 1, 1))
    o_days = (datetime.datetime(2001, 8, 1) - datetime.datetime(1995, 1, 1)).days
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_lo + rng.integers(0, o_days + 1, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist()})

    l_lo = _us(datetime.datetime(1995, 1, 2))
    l_days = (datetime.datetime(2001, 11, 4) - datetime.datetime(1995, 1, 2)).days
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_line).tolist(),
        "l_shipdate": _ts(l_lo + rng.integers(0, l_days + 1, n_line) * DAY_US)})

    ev_lo = _us(datetime.datetime(2024, 1, 1))
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64)
    write("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(np.minimum(ev_lo + np.cumsum(gaps), ev_lo + 30 * DAY_US - 1)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": _money(rng, 0.01, 500.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(10, 100, n_docs)]
    write("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs).tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.normal(size=(n_vecs, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


# ---- ingest arrivals -------------------------------------------------------

CSV_HEADER = "id,name,qty,price,ship_date"
# Each malformed line breaks the declared schema a different way; all are
# corrupt records under Spark's PERMISSIVE CSV parse.
MALFORMED = ["{id},{name},not_a_number,1.00,1999-01-01",
             "{id},{name},3,4.50",
             "{id},{name},3,4.50,1999-01-01,surplus"]


def make_arrivals(orders_path, out_dir, seed, n_backlog, n_arrive,
                  rows_per_file, dirty_every, bad_per_dirty, dup_every):
    """Cut partner CSV drops from ``orders``.

    Returns a plan (also written to ``plan.json``): one entry per file with
    its path, whether it is dirty (carries malformed lines), the malformed
    lines, and the manifest lines that announce it. A clean file whose index
    is a multiple of ``dup_every`` also re-announces the clean file before it
    (at-least-once delivery). A row's ``qty``/``price``/``ship_date`` come
    from its order's priority, total price and order date, and ``id`` is
    the order key; the seed draws the orders without replacement, so a key
    is in at most one file.
    """
    rng = np.random.default_rng(seed + 7919)
    t = pq.read_table(orders_path).to_pydict()
    n = len(t["o_orderkey"])
    files = []
    os.makedirs(os.path.join(out_dir, "drops"), exist_ok=True)
    perm = rng.permutation(n)
    for i in range(n_backlog + n_arrive):
        idx = perm[i * rows_per_file:(i + 1) * rows_per_file]
        dirty = dirty_every > 0 and i % dirty_every == dirty_every - 1
        lines, bad = [CSV_HEADER], []
        for j, r in enumerate(idx):
            day = t["o_orderdate"][r].date().isoformat()
            qty = int(t["o_orderpriority"][r][0])
            lines.append(f"{t['o_orderkey'][r]},{t['o_orderstatus'][r]}-"
                         f"{t['o_custkey'][r]},{qty},{t['o_totalprice'][r]:.2f},{day}")
            if dirty and j < bad_per_dirty:
                b = MALFORMED[j % len(MALFORMED)].format(
                    id=t["o_orderkey"][r], name=f"bad{i}-{j}")
                lines.append(b)
                bad.append(b)
        path = os.path.join(out_dir, "drops", f"drop_{i:04d}", "feed.csv")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        files.append({"path": os.path.abspath(path), "dirty": bool(dirty), "bad": bad,
                      "rows": len(idx), "backlog": i < n_backlog,
                      "bytes": os.path.getsize(path)})
    # Notification lines per file: a clean file is announced once, and one
    # whose index is a multiple of dup_every also re-announces the clean file
    # before it (a duplicate delivery the loader must absorb).
    prev_clean = None
    for k, f in enumerate(files):
        f["notify"] = []
        if f["dirty"]:
            continue
        f["notify"].append(f["path"])
        if prev_clean is not None and dup_every > 0 and k % dup_every == 0:
            f["notify"].append(prev_clean)
        prev_clean = f["path"]
    with open(os.path.join(out_dir, "plan.json"), "w") as fh:
        json.dump(files, fh)
    return files

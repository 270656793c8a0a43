"""Seeded input generator for the benchmark workloads.

Writes the TPC-H-ish corpus the engine's queries read (the same tables,
column names and types as the project's test data) plus the nightly
warehouse job's raw source payloads. The same seed always writes the same
bytes; a different seed writes different rows.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value hash batch "
         "sort data big filter dup key agg scan slow table part a merge window order "
         "column join vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"), row_group_size=1 << 30)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus(out, rng, scale):
    """The ten corpus tables; `scale` 1.0 is sized like sf0.01."""
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", 2499, rng, n_li)})
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(10, int(150 * scale)), n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i % 50 == 49:  # planted exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i % 50 == 24:  # planted near duplicate: one word replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))))
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    emb = rng.normal(0.0, 1.0, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


N_SQ_ITEMS, N_SH_ITEMS, N_QB_ITEMS, N_PROFILES = 50, 80, 60, 12


def _iso(seconds):
    return (dt.datetime(1970, 1, 1) + dt.timedelta(seconds=int(seconds))).strftime("%Y-%m-%dT%H:%M:%SZ")


def _json_parts(path, rows, files):
    os.makedirs(path, exist_ok=True)
    for f in range(files):
        with open(os.path.join(path, f"part-{f:05d}.json"), "w") as fh:
            for r in rows[f::files]:
                fh.write(json.dumps(r, separators=(",", ":")) + "\n")


def zolo_dims(out, rng):
    """items.csv and coffee_profiles.csv: every source id maps to a profile."""
    os.makedirs(out, exist_ok=True)
    weights = [0.25, 0.75, 1.0, 5.0]
    with open(os.path.join(out, "items.csv"), "w") as fh:
        fh.write("product_name,variant_name,zolo_id,square_id,quickbooks_id,shopify_id,"
                 "category_name,form,weight,profile_id\n")
        for k in range(max(N_SQ_ITEMS, N_SH_ITEMS, N_QB_ITEMS)):
            sq = f"V{k}" if k < N_SQ_ITEMS else ""
            qb = f"I{k}" if k < N_QB_ITEMS else ""
            sh = str(7000000 + k) if k < N_SH_ITEMS else ""
            fh.write(f"Product {k % 17},variant {k},{k + 1},{sq},{qb},{sh},coffee,whole bean,"
                     f"{weights[int(rng.integers(0, 4))]},{int(rng.integers(1, N_PROFILES + 1))}\n")
    with open(os.path.join(out, "coffee_profiles.csv"), "w") as fh:
        fh.write("profile_id,profile_name,roast_level,active,single_origin,c1_origin,c1_process,"
                 "c1_percent,c2_origin,c2_process,c2_percent,c3_origin,c3_process,c3_percent\n")
        for p in range(1, N_PROFILES + 1):
            active = 0 if p % 6 == 0 else 1
            fh.write(f"{p},Profile {p},medium,{active},0,Brazil,natural,60.0,Colombia,washed,40.0,,,\n")


def _payloads(rng, n, t0, t1, id0):
    """n Square payments, Shopify orders and QuickBooks invoices."""
    sq, sh, qb = [], [], []
    for i in range(n):
        ident = id0 + i
        lines = int(rng.integers(1, 4))
        sq.append({
            "id": f"sq-{ident}", "created_at": _iso(int(rng.integers(t0, t1))),
            "device": {"name": f"Reg {ident % 4 + 1}"},
            "itemizations": [{
                "quantity": float(rng.integers(1, 4)),
                "item_variation_name": f"var-{v}",
                "item_detail": {"item_variation_id": f"V{v}"},
                "total_money": {"amount": 25 * int(rng.integers(4, 404))},
                "modifiers": [{"name": "extra shot"}] if j % 2 == 0 else []}
                for j, v in enumerate(rng.integers(0, N_SQ_ITEMS, lines))],
            "tender": [{"tendered_money": {"amount": 25 * int(rng.integers(20, 220))},
                        "change_back_money": {"amount": 25 * int(rng.integers(0, 20))}}]})
        sh.append({
            "id": 1000000 + ident, "created_at": _iso(int(rng.integers(t0, t1))),
            "line_items": [{"quantity": str(int(rng.integers(1, 4))), "variant_id": 7000000 + int(v),
                            "price": f"{rng.integers(4, 84) * 0.25:.2f}"}
                           for v in rng.integers(0, N_SH_ITEMS, lines)],
            "shipping_lines": [] if ident % 5 == 0 else [{"price": f"{rng.integers(4, 40) * 0.25:.2f}"}]})
        qb.append({
            "DocNumber": f"INV-{ident}", "TxnDate": _iso(int(rng.integers(t0, t1)))[:10],
            "CustomerRef": {"value": f"c{int(rng.integers(0, 200))}"},
            "Line": [{**({"Id": str(j + 1)} if j % 4 != 3 else {}),
                      "SalesItemLineDetail": {"ItemRef": {"value": f"I{v}"},
                                              "Qty": float(rng.integers(1, 6)),
                                              "UnitPrice": float(rng.integers(4, 364)) * 0.25}}
                     for j, v in enumerate(rng.integers(0, N_QB_ITEMS, lines))]})
    return sq, sh, qb


def _customers(rng, t0):
    return [{"Id": f"c{c}", "CompanyName": f"Cafe {c}",
             "PrimaryPhone": None if c % 7 == 0 else {"FreeFormNumber": f"415-555-{c:04d}"},
             "ShipAddr": {"Line1": f"{c} Main St", "City": "Portland",
                          "CountrySubDivisionCode": "OR", "PostalCode": f"97{c:03d}"},
             "MetaData": {"CreateTime": _iso(t0 - 86400 * int(rng.integers(1, 400)))}}
            for c in range(200)]


def zolo(out, rng, n, files):
    """Two extraction windows, w1 and w2, sharing the dimension CSVs. w2
    re-delivers the last tenth of w1's payloads (an overlapping extraction),
    which the warehouse's keyed append must drop."""
    t0, span = 1559347200, 60 * 86400  # 2019-06-01, 60 days per window
    w1 = _payloads(rng, n, t0, t0 + span, 0)
    fresh = _payloads(rng, n, t0 + span, t0 + 2 * span, n)
    replay = n - n // 10
    w2 = tuple(old[replay:] + new for old, new in zip(w1, fresh))
    dims_seed = int(rng.integers(0, 2**62))
    for name, (sq, sh, qb), t in [("w1", w1, t0), ("w2", w2, t0 + span)]:
        d = os.path.join(out, name)
        _json_parts(os.path.join(d, "square_payments.json"), sq, files)
        _json_parts(os.path.join(d, "shopify_orders.json"), sh, files)
        _json_parts(os.path.join(d, "qb_invoices.json"), qb, files)
        _json_parts(os.path.join(d, "qb_customers.json"), _customers(rng, t), files)
        zolo_dims(d, np.random.default_rng(dims_seed))


def generate(out, seed, scale, zolo_rows, files):
    """Writes every input of a run: the corpus, and with `zolo_rows` > 0 the
    nightly job's payloads (that many per source and window)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    corpus(out, rng, scale)
    if zolo_rows:
        zolo(os.path.join(out, "zolo"), rng, zolo_rows, files)

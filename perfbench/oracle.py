"""DuckDB oracle for the benchmark's ops.

Each op's expected result is computed independently in DuckDB over the
same generated inputs and reduced to the digest the harness's DigestSink
computes (row count and wrapping sum of per-row SHA-256 prefixes over a
canonical text), so every timed result is checked against it without
being written out. The comparison is the one tools/check.py makes on
Verify dumps: columns matched by name, rows as a multiset, exact values,
numbers compared by value across integer, decimal and float types.
"""
import datetime as dt
import decimal
import glob
import hashlib
import os
import struct

import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
LANDED = ["raw.square_trans", "raw.square_trans_details", "raw.shopify_trans",
          "raw.shopify_trans_details", "raw.qb_trans", "raw.qb_trans_details", "raw.qb_customers"]
REFS = {"ref.items": "items.csv", "ref.coffee_profiles": "coffee_profiles.csv"}
KEYS = {"raw.square_trans": "payment_id", "raw.shopify_trans": "order_id", "raw.qb_trans": "payment_id"}
EPOCH = dt.datetime(1970, 1, 1)


def _number(x):
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Inf" if x > 0 else "-Inf"
    if x == int(x):
        return str(int(x))
    return str(struct.unpack("<q", struct.pack("<d", x))[0])


def canonical(v):
    """The canonical text of one value (see DigestSink)."""
    if v is None:
        return "\x00N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return _number(v)
    if isinstance(v, decimal.Decimal):
        return str(int(v)) if v == v.to_integral_value() else _number(float(v))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, dt.date):  # a date is its midnight
        return str((v - EPOCH.date()).days * 86_400_000_000)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + "\x02".join(canonical(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + "\x02".join(canonical(x) for x in v.values()) + "}"
    return str(v)


def digest(names, rows):
    """[row count, wrapping 64-bit hash sum] of rows given in `names` order."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    total = 0
    for r in rows:
        text = "\x01".join(canonical(r[i]) for i in order)
        total += int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big", signed=True)
    total = (total + 2**63) % 2**64 - 2**63
    return [len(rows), total]


def _query(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def _corpus(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _warehouse(root):
    con = duckdb.connect()
    for t in LANDED + list(REFS):
        ns, tb = t.split(".")
        files = os.path.join(root, ns, tb, "**", "*.parquet")
        con.execute(f"CREATE VIEW {tb} AS SELECT * FROM read_parquet('{files}')")
    return con


def _landed(con, zolo_sql, table, stage):
    """Expected rows of a warehouse table after loading window 1 (stage 1)
    or windows 1 and 2 (stage 2). Headers are keyed: a row whose key has
    landed already is dropped. Detail lines accumulate; customers are
    replaced."""
    w1 = con.execute(zolo_sql["w1"][table]).df()
    if stage == 1:
        return w1
    w2 = con.execute(zolo_sql["w2"][table]).df()
    if table == "raw.qb_customers":
        return w2
    if table in KEYS:
        w2 = w2[~w2[KEYS[table]].isin(w1[KEYS[table]])]
    return pd.concat([w1, w2], ignore_index=True)


def _read_table(path):
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _frames_differ(got, exp):
    """None when two frames hold the same rows, else a one-line reason."""
    # the repository's Verify-dump oracle, next to the program it checks
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check import normalize
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    g, e = normalize(got.astype(str)), normalize(exp.astype(str))
    return None if g.equals(e) else "values differ"


def _expected(w, con, raw, data_dir):
    """(sorted columns, digest) the op must produce, or None without an oracle."""
    kind = w["oracle"]["kind"]
    if kind == "sql":
        names, rows = _query(con, w["oracle"]["sql"])
    elif kind == "warehouse_sql":
        names, rows = _query(_warehouse(raw["warehouse"]), w["oracle"]["sql"])
    elif kind.startswith("landed_"):
        stage = {"landed_window1": 1, "landed_window2": 2}[kind]
        window = os.path.join(data_dir, "zolo", "w2" if stage == 2 else "w1")
        names = ["table", "rows"]
        rows = [(t, len(_landed(con, raw["zolo_oracles"], t, stage))) for t in LANDED]
        for t, csv in REFS.items():
            with open(os.path.join(window, csv)) as fh:
                rows.append((t, sum(1 for _ in fh) - 1))
    else:
        return None
    return sorted(names), digest(names, rows)


def check(raw, data_dir):
    """Maps each op to (expected digest or None, problem or None). A problem
    is an oracle the warm-up result fails, or an oracle that cannot run."""
    con = _corpus(data_dir)
    out = {}
    for w in raw["warmup"]:
        name = w["name"]
        if w["error"]:
            out[name] = (None, "warm-up failed: " + w["error"])
            continue
        try:
            exp = _expected(w, con, raw, data_dir)
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = (None, f"oracle error: {type(e).__name__}: {str(e)[:200]}")
            continue
        if exp is None:
            out[name] = (None, None)
        elif exp[0] != w["columns"]:
            out[name] = (exp[1], f"columns {w['columns']} != oracle {exp[0]}")
        elif exp[1] != w["digest"]:
            out[name] = (exp[1], f"result differs from the oracle (rows {w['digest'][0]} vs {exp[1][0]})")
        else:
            out[name] = (exp[1], None)
        if w["oracle"]["kind"] == "landed_window2" and out[name][1] is None:
            for t in LANDED:  # the landed tables themselves, value by value
                ns, tb = t.split(".")
                diff = _frames_differ(_read_table(os.path.join(raw["warehouse"], ns, tb)),
                                      _landed(con, raw["zolo_oracles"], t, 2))
                if diff:
                    out[name] = (exp[1], f"{t}: {diff}")
                    break
    return out

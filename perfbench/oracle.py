"""Expected results for the correctness checks, as digests.

`digest` renders rows exactly as perfbench.Digest (Scala) does, so a digest
of an operator's DuckDB oracle result equals the digest of graft's result
when the two results are equal.
"""
import datetime as dt
import decimal
import hashlib
import json
import os
import struct

import duckdb
import pyarrow.parquet as pq

import gen

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
EPOCH = dt.datetime(1970, 1, 1)
EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def value(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return "f" + format(struct.unpack(">Q", struct.pack(">d", v + 0.0))[0], "x")
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, decimal.Decimal):
        return "d" + format(v, "f")
    if isinstance(v, dt.datetime):
        base = EPOCH_UTC if v.tzinfo else EPOCH
        return "t" + str((v - base) // dt.timedelta(microseconds=1))
    if isinstance(v, dt.date):
        return "D" + str((v - dt.date(1970, 1, 1)).days)
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex()
    if isinstance(v, dict):
        return "{" + "\u0003".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + "\u0003".join(value(x) for x in v) + "]"
    return "?" + str(v)


def _line(order, r):
    return "\u0001".join(value(r[i]) for i in order)


def digest(names, rows, ordered=True):
    """(row count, sha-256 hex) of rows, columns taken in name order; with
    ordered=False the rows are sorted first (results without an order)."""
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = (_line(order, r) for r in rows)
    if not ordered:
        lines = sorted(lines)
    h = hashlib.sha256("\u0001".join(sorted(names)).encode())
    n = 0
    for line in lines:
        h.update(b"\x02")
        h.update(line.encode())
        n += 1
    return n, h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def op_digests(data_dir, oracle_sql, ops, cache):
    """DuckDB digest of each op's oracle SQL over the tables in data_dir,
    cached in the JSON file `cache` (the inputs are fixed per seed)."""
    if os.path.exists(cache):
        with open(cache) as f:
            known = json.load(f)
        if all(op in known for op in ops):
            return known
    con = connect(data_dir)
    out = {}
    for op in ops:
        sql = oracle_sql.get(op)
        if sql is None:
            out[op] = {"error": "no oracle SQL"}
            continue
        try:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            n, d = digest(names, cur.fetchall())
            out[op] = {"rows": n, "digest": d}
        except Exception as e:  # reported as a failed check, not a crash
            out[op] = {"error": str(e)[:500]}
    con.close()
    with open(cache, "w") as f:
        json.dump(out, f)
    return out


def fold_expected(data_dir, oracle_sql, op, names):
    """Set digest of op's oracle result over data_dir, restricted to the
    columns `names` (the streaming view's columns)."""
    con = connect(data_dir)
    try:
        cur = con.execute(oracle_sql[op])
        cols = [d[0] for d in cur.description]
        idx = [cols.index(c) for c in names]
        rows = [[r[i] for i in idx] for r in cur.fetchall()]
    except (duckdb.Error, ValueError, KeyError) as e:
        return {"error": str(e)[:500]}
    finally:
        con.close()
    n, d = digest(list(names), rows, ordered=False)
    return {"rows": n, "digest": d}


def etl_expected(data_dir, batch_paths):
    """Digest of the destination after upserting every batch in order,
    last-writer-wins per key by `version`, in key order."""
    state = {r[0]: r for r in gen.etl_rows(pq.read_table(os.path.join(data_dir, "orders.parquet")), 0)}
    for p in batch_paths:
        latest = {}
        for r in gen.etl_rows(pq.read_table(p)):
            if r[0] not in latest or r[-1] > latest[r[0]][-1]:
                latest[r[0]] = r
        state.update(latest)
    n, d = digest(gen.ETL_COLUMNS, (state[k] for k in sorted(state)))
    return {"rows": n, "digest": d}

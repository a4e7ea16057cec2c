"""Seeded generator for the benchmark's input tables.

Writes the star schema graft's operators read (see FIXTURES.md §B): the
same tables, column names, types and value domains, one parquet file per
table. Row counts follow the fixture's proportions for a scale factor `sf`
(orders = 1.5M x sf). The same (seed, sf) always gives byte-identical
values, so a run is reproducible from its seed alone.

Extra inputs for single workloads live in their own helpers below:
`amplify_corpus` (corpus_heavy) and `etl_batches` (etl_upsert).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["blue", "hot", "old", "red", "small", "big", "green", "cold"]
PNOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
EPOCH = dt.datetime(1970, 1, 1)


def _money(x):
    return np.round(x, 2)


def _days_us(start, days):
    """Midnight timestamps `days` after `start`, as µs since the epoch."""
    base = int((start - EPOCH).total_seconds()) * 1_000_000
    return base + days.astype(np.int64) * 86_400_000_000


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _texts(rng, n, min_words=10, max_words=99):
    lens = rng.integers(min_words, max_words + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # near duplicates: an earlier document plus one or two "dup" markers
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            out[i] = out[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3))
    return out


def generate(out, seed, sf):
    """Write all ten tables for scale factor `sf` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp))})
    price = _money(900.0 + (np.arange(n_part) % 1000) * 0.1)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{PADJ[a]} {PNOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})

    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days_us(dt.datetime(1995, 1, 1), odays), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    lines = rng.integers(0, 8, n_ord)  # 0..7 lines per order
    n_li = int(lines.sum())
    lkey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines if k]) if n_li else np.array([])
    lpart = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(lkey, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * price[lpart] * rng.uniform(0.9, 1.1, n_li)),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days_us(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n_li)),
                               pa.timestamp("us"))})

    write_events(out, rng, n_ev, n_users)

    _write(out, "documents", docs_table(rng, n_docs))
    emb = rng.normal(0.0, 1.0, (n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def write_events(out, rng, n, n_users):
    """`n` events over 30 days from 2024-01-01, distinct µs timestamps."""
    start = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds()) * 1_000_000
    ts = start + np.sort(rng.choice(30 * 86_400_000_000, n, replace=False))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": _money(np.maximum(0.01, rng.exponential(50.0, n))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def docs_table(rng, n):
    texts = _texts(rng, n)
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=[0.15, 0.43, 0.14, 0.13, 0.15])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}


def amplify_corpus(out, seed, copies, shift=10_000_000):
    """ScaleProbe-style amplification of the corpus tables in `out`, in place.

    Each of `copies` replicas shifts the ids by `shift`. The seed picks which
    rows each replica keeps (80 %), so replicas are near copies of the base
    corpus: exact-duplicate texts across replicas, as in ScaleProbe."""
    rng = np.random.default_rng(seed + 7919)
    for name, idc in (("documents", "doc_id"), ("embeddings", "vec_id")):
        path = os.path.join(out, f"{name}.parquet")
        base = pq.read_table(path)
        parts = [base]
        for i in range(1, copies):
            keep = rng.random(base.num_rows) < 0.8
            rep = base.filter(pa.array(keep))
            ids = rep.column(idc).to_numpy() + i * shift
            parts.append(rep.set_column(rep.schema.get_field_index(idc), idc,
                                        pa.array(ids, pa.int64())))
        pq.write_table(pa.concat_tables(parts), path)


ETL_COLUMNS = ["order_id", "cust_id", "status", "total", "order_year", "priority", "version"]


def etl_rows(table, version=None):
    """Rows of an orders-shaped table after etl_upsert's map and transform
    step: renamed columns, lower(status), upper(priority), year(order date)
    and cust_id || '-c'. `version` overrides the table's version column."""
    d = table.to_pydict()
    vers = d["version"] if version is None else [version] * table.num_rows
    for i in range(table.num_rows):
        yield [d["o_orderkey"][i], f"{d['o_custkey'][i]}-c", d["o_orderstatus"][i].lower(),
               d["o_totalprice"][i], d["o_orderdate"][i].year, d["o_orderpriority"][i].upper(),
               vers[i]]


def etl_destination(tables, out):
    """The destination's first version: every order, at version 0."""
    rows = list(etl_rows(pq.read_table(os.path.join(tables, "orders.parquet")), 0))
    cols = list(zip(*rows))
    types = [pa.int64(), pa.string(), pa.string(), pa.float64(), pa.int32(), pa.string(), pa.int64()]
    os.makedirs(out)
    pq.write_table(pa.table({c: pa.array(v, t) for c, v, t in zip(ETL_COLUMNS, cols, types)}),
                   os.path.join(out, "part-0.parquet"))


def etl_batches(out, seed, n_keys, n_batches, batch_rows):
    """Incoming upsert batches for etl_upsert, one parquet file each.

    Batch b holds `batch_rows` rows: about 60 % update existing order keys,
    the rest insert new keys, and about 10 % of each batch repeats one of its
    own keys at a higher `version`, so last-writer-wins is exercised inside a
    batch as well as across batches. (key, version) pairs are unique."""
    rng = np.random.default_rng(seed + 104729)
    next_new, version = n_keys, 1
    for b in range(n_batches):
        n_upd = int(batch_rows * 0.6)
        n_rep = batch_rows // 10
        n_new = batch_rows - n_upd - n_rep
        keys = np.concatenate([
            rng.choice(n_keys, n_upd, replace=False),
            np.arange(next_new, next_new + n_new)])
        next_new += n_new
        keys = np.concatenate([keys, rng.choice(keys, n_rep, replace=False)])
        versions = version + np.arange(len(keys))
        version += len(keys)
        n = len(keys)
        days = rng.integers(0, 2404, n)
        _write(out, f"batch_{b:03d}", {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, 15_000, n), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng.uniform(1000.0, 500000.0, n)),
            # UTC instants, so the date-part transform applies to them
            "o_orderdate": pa.array(_days_us(dt.datetime(1995, 1, 1), days),
                                    pa.timestamp("us", tz="UTC")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
            "version": pa.array(versions, pa.int64())})

"""Seeded input generator for the graft benchmark.

Writes, under an output directory, parquet tables with the same schemas as
the engine's TPC-H-shaped test tables (region, nation, customer, supplier,
part, orders, lineitem), the `events` stream table, a multi-file
`documents` corpus (one directory of part files, so an append is a new
file), `embeddings`, and the `corpus_append` drops (new part files of about
1% of the corpus each, written beside the corpus, never inside it).

Everything is a pure function of (seed, sizes): the same arguments give
byte-identical files. `run.py` calls `generate` with each workload's sizes.

The shapes follow the engine's sf0.1 test tables as measured (README.md,
"Inputs"): the same schemas and per-scale-factor row counts; documents of
10-100 tokens over the same 30-word vocabulary, 5% of them an earlier text
with a ` dup` suffix, five language labels (41% `en`) drawn apart from the
text, 20 sources; 0.4 embeddings per document, random unit vectors under ten
labels that carry no cluster structure; event values exponential with mean
50.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10
EMB_PER_DOC = 0.4
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
US = np.int64(1_000_000)


def _epoch_us(y, m, d):
    return np.int64(int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000)


def _ts(values_us):
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    """Two-decimal amounts drawn on the cent grid (exact under DECIMAL casts)."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(table, path):
    # Fixed writer options: the same table always gives the same bytes.
    pq.write_table(table, path, compression="snappy", use_dictionary=True)


def tpch_tables(rng, sf):
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_orders = max(int(1_500_000 * sf), 100)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price})
    day0 = _epoch_us(1995, 1, 1)
    odate = day0 + rng.integers(0, 2405, n_orders).astype(np.int64) * 86_400 * US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]})
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(okey)
    perm = rng.permutation(n_li)
    okey, lnum = okey[perm], lnum[perm]
    pkey = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype(np.int64) * 86_400 * US
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship)})
    return out


def events_table(rng, sf):
    n = max(int(1_000_000 * sf), 200)
    n_users = max(int(15_000 * sf), 20)
    t0 = _epoch_us(2024, 1, 1)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 1_000_000, n).astype(np.int64))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _doc_text(rng):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))


def documents(rng, first_id, n, prior_texts):
    """`n` documents with ids from `first_id`; about 5% are near-duplicates
    (an earlier text plus a ` dup` suffix), the corpus's dedup signal."""
    ids, texts = [], []
    pool = list(prior_texts)
    for i in range(n):
        if pool and rng.random() < 0.05:
            t = pool[int(rng.integers(0, len(pool)))] + " dup"
        else:
            t = _doc_text(rng)
        pool.append(t)
        ids.append(first_id + i)
        texts.append(t)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{d % N_SOURCES}" for d in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}, schema=DOC_SCHEMA)


def embeddings_table(rng, n):
    label = rng.integers(0, EMB_LABELS, n)
    v = rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(out_dir, seed, sf, docs, doc_files, drops, tables):
    """Write the inputs; return {table: {"rows", "bytes"}} for what was written."""
    os.makedirs(out_dir, exist_ok=True)
    # One independent stream per table, so a table's bytes do not depend on
    # which other tables a workload asks for.
    streams = np.random.SeedSequence(seed).spawn(5)
    rng_tpch, rng_ev, rng_doc, rng_emb, rng_drop = (np.random.default_rng(s) for s in streams)
    written = {}
    if "tpch" in tables:
        for name, t in tpch_tables(rng_tpch, sf).items():
            _write(t, os.path.join(out_dir, f"{name}.parquet"))
            written[name] = t.num_rows
    if "events" in tables:
        t = events_table(rng_ev, sf)
        _write(t, os.path.join(out_dir, "events.parquet"))
        written["events"] = t.num_rows
    if "corpus" in tables:
        corpus = os.path.join(out_dir, "documents.parquet")
        os.makedirs(corpus, exist_ok=True)
        base = documents(rng_doc, 0, docs, [])
        step = -(-docs // doc_files)
        for k in range(doc_files):
            _write(base.slice(k * step, step), os.path.join(corpus, f"part-{k:05d}.parquet"))
        written["documents"] = docs
        t = embeddings_table(rng_emb, max(int(docs * EMB_PER_DOC), 1))
        _write(t, os.path.join(out_dir, "embeddings.parquet"))
        written["embeddings"] = t.num_rows
        if drops:
            drop_dir = os.path.join(out_dir, "drops")
            os.makedirs(drop_dir, exist_ok=True)
            per_drop = max(docs // 100, 1)
            texts = base.column("text").to_pylist()
            for k in range(drops):
                d = documents(rng_drop, docs + k * per_drop, per_drop, texts)
                texts += d.column("text").to_pylist()
                _write(d, os.path.join(drop_dir, f"part-{doc_files + k:05d}.parquet"))
            written["drops"] = drops * per_drop
    return {name: {"rows": rows, "bytes": tree_bytes(os.path.join(out_dir, name if name == "drops"
                                                                 else f"{name}.parquet"))}
            for name, rows in written.items()}


def tree_bytes(path):
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


"""Seeded relational tables for the query workload.

Writes the ten parquet tables the engine's query modules read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value domains of the engine's reference
test tables, scaled by ``sf`` (sf 1 = 6M lineitem rows). The same
(seed, sf) gives the same rows.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ("small", "red", "blue", "green", "large", "black", "white", "shiny")
NOUN = ("ring", "widget", "bolt", "anvil", "gear", "spring", "valve", "nut")
WORDS = ("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "batch", "window", "spark", "order", "data",
         "column", "join", "small", "big", "line", "customer", "query", "sort",
         "filter", "group", "merge", "stream", "vector", "has")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def generate(seed, sf, out_dir):
    rng = np.random.default_rng([seed & 0xFFFFFFFF, 17])
    n_cust = max(int(150000 * sf), 10)
    n_supp = max(int(10000 * sf), 5)
    n_part = max(int(200000 * sf), 10)
    n_ord = max(int(1500000 * sf), 10)
    n_line = max(int(6000000 * sf), 10)
    n_ev = max(int(1000000 * sf), 10)
    n_users = max(int(15000 * sf), 5)
    n_doc = max(int(50000 * sf), 10)
    n_emb = max(int(20000 * sf), 10)
    tables = {}
    tables["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    tables["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}
    tables["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)]}
    tables["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}
    tables["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": ["%s %s" % (ADJ[a], NOUN[b]) for a, b in zip(
            rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}
    tables["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, n_ord)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]}
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line))}
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]}
    # a wide vocabulary keeps chance shingle overlaps rare; one document in
    # twenty is a near-copy of an earlier original (one word changed), so
    # the dedup queries find real, small clusters
    lens = rng.integers(8, 100, n_doc)
    words = np.array(WORDS + tuple("w%03d" % i for i in range(400)))
    text = []
    originals = []
    for i, k in enumerate(lens):
        if originals and rng.random() < 0.05:
            src = text[originals[int(rng.integers(0, len(originals)))]].split(" ")
            src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
            text.append(" ".join(src))
        else:
            originals.append(i)
            text.append(" ".join(words[rng.integers(0, len(words), k)]))
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": text,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_doc)],
        "source": ["src%d" % s for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64))}
    emb = (rng.standard_normal((n_emb, 64)) * 0.1).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), "%s/%s.parquet" % (out_dir, name))

"""Seeded input generator for the flow benchmark.

Writes the ten tables the gate queries and the flow workloads read
(`region nation customer supplier part orders lineitem events documents
embeddings`), one single-file parquet each, with the schemas of the
TPC-H-like test corpus. Row counts per scale factor and value
distributions are the figures measured on that corpus at sf 0.1 with
`stats` below; they are pinned here because a benchmark run may read only
its own checkout. The same (seed, scale) always gives byte-identical data.
`audit_batches` writes the incremental deltas of the audit_ingest workload.

    python3 flowbench/gen.py stats <dir>                 # figures of a data dir
    python3 flowbench/gen.py compare <corpus dir> <sf>   # corpus vs generated
"""
import collections
import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- figures measured on the corpus at sf 0.1 ------------------------------
# rows per unit scale factor (sf 0.1: 15,000 customers, 1,000 suppliers,
# 20,000 parts, 150,000 orders, 600,000 lineitems, 100,000 events, 5,000
# documents, 2,000 embeddings)
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "events": 1_000_000, "documents": 50_000,
               "embeddings": 20_000}
LINES_PER_ORDER = 4          # lineitem rows = 4 x orders exactly
USERS_PER_CUSTOMER = 0.1     # events.user_id: 1,500 distinct users at sf 0.1
# documents: 30 natural words (plus the marker "dup"), uniform over the
# vocabulary; 10-99 words a document, uniform
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
DOC_WORDS = (10, 99)
# lang mix 41/15/15/15/14%; exactly 5% of the documents are near-duplicates:
# the whole text of another document plus " dup" (250 of 5,000; two near-dups
# of one source make the corpus's 0.16% exact duplicates)
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_FRAC = 0.05
SOURCES = 20                 # source = src<doc_id % 20>
ADJ = "red hot new old cold blue small large".split()    # 64 distinct p_name
NOUN = "bolt anvil ring rod plate gear gizmo widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]

DAY_US = 86_400_000_000
ORDER_DAY0_US = 788_918_400_000_000   # o_orderdate: 1995-01-01 + 0..2404 days
ORDER_DAYS = 2405
SHIP_DAY0_US = 789_004_800_000_000    # l_shipdate: 1995-01-02 + 0..2498 days,
SHIP_DAYS = 2499                      # independent of the order's date
EPOCH_2024_US = 1_704_067_200_000_000  # events.ts: uniform over 30 days of 2024
EVENT_DAYS = 30
ORDER_PRICE = (1000.0, 500_000.0)     # o_totalprice, uniform
LINE_PRICE = (900.0, 105_000.0)       # l_extendedprice, uniform, independent of quantity
EVENT_VALUE_MEAN = 50.0               # events.value, exponential
EMBED_DIM = 64                        # unit vectors, no cluster structure; label 0-9


def sizes(sf):
    n = lambda base, lo: max(lo, int(round(base * sf)))
    lows = {"customer": 50, "supplier": 10, "part": 100, "orders": 500, "events": 1000,
            "documents": 200, "embeddings": 200}
    return {t: n(b, lows[t]) for t, b in ROWS_PER_SF.items()}


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _doc_texts(rng, n):
    """Random word texts; then a fixed 5% of the positions become
    near-duplicates of a random other document (its whole text + " dup")."""
    lo, hi = DOC_WORDS
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), int(k)))
             for k in rng.integers(lo, hi + 1, n)]
    langs = [LANGS[i] for i in rng.choice(len(LANGS), n, p=LANG_P)]
    for i in rng.choice(n, int(round(n * NEAR_DUP_FRAC)), replace=False):
        src = int(rng.integers(0, n - 1))
        texts[i] = texts[src + (src >= i)] + " dup"
    return texts, langs


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    sz = sizes(sf)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = sz["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    ns = sz["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    npart = sz["part"]
    _write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})

    no = sz["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, *ORDER_PRICE, no),
        "o_orderdate": _ts(ORDER_DAY0_US + rng.integers(0, ORDER_DAYS, no) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})

    # as in the corpus, lines pick their order at random and their line
    # number independently, so (l_orderkey, l_linenumber) repeats
    nl = LINES_PER_ORDER * no
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, *LINE_PRICE, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("R", "A", "N")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(SHIP_DAY0_US + rng.integers(0, SHIP_DAYS, nl) * DAY_US)})

    ne = sz["events"]
    users = max(100, int(round(nc * USERS_PER_CUSTOMER)))
    ts = np.sort(EPOCH_2024_US + rng.integers(0, EVENT_DAYS * DAY_US, ne))
    _write(out, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, users, ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(EVENT_VALUE_MEAN, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)]})

    nd = sz["documents"]
    texts, langs = _doc_texts(rng, nd)
    _write(out, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % SOURCES}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = sz["embeddings"]
    v = rng.normal(0.0, 1.0, (nv, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return sz


def audit_batches(out, seed, n_batches, orders_rows):
    """Deltas for audit_ingest: batch b holds `orders_rows` orders, 60% new
    keys and 40% rewrites of keys from earlier batches, plus their lineitems.
    The corpus has no ingestion stream, so the key mix is the workload's own
    choice, and keys are unique within a batch as a primary key requires
    (l_orderkey, l_linenumber numbered 1..k per order, k uniform 1-7, mean
    4 lines an order as in the corpus). Column values follow the corpus."""
    rng = np.random.default_rng(seed ^ 0x5EED)
    os.makedirs(out, exist_ok=True)
    next_key, rows = 0, []
    for b in range(n_batches):
        n_new = orders_rows if b == 0 else int(orders_rows * 0.6)
        keys = np.arange(next_key, next_key + n_new, dtype=np.int64)
        if b > 0:
            old = rng.choice(next_key, orders_rows - n_new, replace=False)
            keys = np.concatenate([keys, old.astype(np.int64)])
        next_key += n_new
        n = len(keys)
        pq.write_table(pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(0, 15_000, n),
            "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, *ORDER_PRICE, n),
            "o_orderdate": _ts(ORDER_DAY0_US + rng.integers(0, ORDER_DAYS, n) * DAY_US),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n)],
            "batch": np.full(n, b, dtype=np.int32)}),
            os.path.join(out, f"orders_{b:03d}.parquet"))
        lines = rng.integers(1, 2 * LINES_PER_ORDER, n)
        lk = np.repeat(keys, lines)
        nl = len(lk)
        pq.write_table(pa.table({
            "l_orderkey": lk,
            "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
            "l_partkey": rng.integers(0, 20_000, nl),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, *LINE_PRICE, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_shipdate": _ts(SHIP_DAY0_US + rng.integers(0, SHIP_DAYS, nl) * DAY_US),
            "batch": np.full(nl, b, dtype=np.int32)}),
            os.path.join(out, f"lineitem_{b:03d}.parquet"))
        rows.append((n, nl))
    return rows


def stats(d):
    """The figures the generator pins, computed from a data directory."""
    read = lambda t: pq.read_table(os.path.join(d, f"{t}.parquet"))
    rows = {t: read(t).num_rows for t in ("customer", "supplier", "part", "orders",
                                          "lineitem", "events", "documents", "embeddings")}
    s = {f"rows_per_order.{t}": round(n / rows["orders"], 4) for t, n in rows.items()}
    docs = read("documents").to_pydict()
    texts = docs["text"]
    near = [t.endswith(" dup") for t in texts]
    plain = {t for t, m in zip(texts, near) if not m}
    lens = [len(t.split()) for t, m in zip(texts, near) if not m]
    vocab = collections.Counter(w for t in texts for w in t.split())
    langs = collections.Counter(docs["lang"])
    s.update({
        "documents.vocabulary": len(vocab),
        "documents.words_min": min(lens), "documents.words_max": max(lens),
        "documents.words_mean": round(float(np.mean(lens)), 2),
        "documents.near_dup_frac": round(sum(near) / len(texts), 4),
        "documents.near_dup_whole_text_frac": round(float(np.mean(
            [t[:-4] in plain for t, m in zip(texts, near) if m] or [0])), 3),
        "documents.exact_dup_frac": round(1 - len(set(texts)) / len(texts), 4),
        **{f"documents.lang.{k}": round(langs[k] / len(texts), 3) for k in LANGS},
    })
    li = read("lineitem").select(["l_orderkey", "l_linenumber", "l_quantity",
                                  "l_extendedprice"]).to_pandas()
    s["lineitem.dup_pk_frac"] = round(float(li.duplicated(["l_orderkey", "l_linenumber"]).mean()), 3)
    s["lineitem.linenumber_mean"] = round(float(li.l_linenumber.mean()), 2)
    s["lineitem.extprice_qty_corr"] = round(float(np.corrcoef(li.l_quantity, li.l_extendedprice)[0, 1]), 3)
    od = read("orders").column("o_orderdate").to_pandas()
    s["orders.date_days"] = int(od.nunique())
    s["orders.date_min"] = str(od.min().date())
    ev = read("events").select(["user_id", "value"]).to_pandas()
    s["events.users_per_customer"] = round(ev.user_id.nunique() / rows["customer"], 3)
    s["events.value_mean"] = round(float(ev.value.mean()), 1)
    emb = read("embeddings")
    v = np.stack(emb.column("embedding").to_pylist())
    lab = emb.column("label").to_numpy()
    cos = v @ v.T
    same = lab[:, None] == lab[None, :]
    np.fill_diagonal(same, False)
    s["embeddings.cos_same_label"] = round(float(cos[same].mean()), 3)
    s["part.name_distinct"] = len(set(read("part").column("p_name").to_pylist()))
    return s


def main(argv):
    if len(argv) == 2 and argv[0] == "stats":
        print(json.dumps(stats(argv[1]), indent=1))
    elif len(argv) == 3 and argv[0] == "compare":
        here = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
        os.makedirs(here, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="gen-", dir=here)
        try:
            generate(tmp, 1, float(argv[2]))
            want, got = stats(argv[1]), stats(tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(f"{'figure':40s} {'corpus':>12s} {'generated':>12s}")
        for k in want:
            print(f"{k:40s} {str(want[k]):>12s} {str(got[k]):>12s}")
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])

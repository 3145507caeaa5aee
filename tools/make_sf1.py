#!/usr/bin/env python3
"""Build a local sf1 dataset (~10x sf0.1, ~6M lineitem rows) by replicating
sf0.1 with consistent key offsets — the 100x-vs-driver-gate scale replay the
round-6 plan calls for (/root/testdata is read-only and has no sf1).

Replication contract:
- dimension tables (region, nation) copy as-is (TPC-H shape: fixed size);
- every fact/entity table gets 10 replicas; replica r adds r*STRIDE to each
  surrogate/foreign key so referential joins stay intact WITHIN a replica
  and never collide across replicas;
- all non-key columns are byte-identical to the source — intentionally so:
  duplicated text/vectors/names stress the dedup/similarity operators with
  exactly the kind of massive boilerplate duplication a real crawl corpus
  has (and 10x-duplicate key groups stress join skew);
- pyarrow read/write with the SOURCE schema preserved exactly — the events
  table's ns-unit timestamps MUST survive (graft.gate.events reads them via
  nanosAsLong + div 1000; a duckdb rewrite would silently downgrade to us).

STRIDE = 10_000_000 clears every source id (max is lineitem o_orderkey
~600k) and keeps q104's doc_id+10000 twin offset collision-free within a
replica block.

Usage: python3 tools/make_sf1.py [outdir]   (default /tmp/sfdata/sf1)
"""
import sys, os, shutil
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfdata/sf1"
REPL = 10
STRIDE = 10_000_000

KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

os.makedirs(OUT, exist_ok=True)
for dim in ["region", "nation"]:
    shutil.copyfile(f"{SRC}/{dim}.parquet", f"{OUT}/{dim}.parquet")
    print(f"{dim}: copied")

for table, keys in KEY_COLS.items():
    t = pq.read_table(f"{SRC}/{table}.parquet")
    schema = t.schema
    replicas = []
    for r in range(REPL):
        if r == 0:
            replicas.append(t)
            continue
        cols = []
        for name in schema.names:
            col = t.column(name)
            if name in keys:
                col = pc.add(col, pa.scalar(r * STRIDE, type=schema.field(name).type))
            cols.append(col)
        replicas.append(pa.Table.from_arrays(cols, schema=schema))
    big = pa.concat_tables(replicas)
    pq.write_table(big, f"{OUT}/{table}.parquet",
                   # preserve the source's timestamp encoding (events is ns)
                   coerce_timestamps=None, use_deprecated_int96_timestamps=False)
    got = pq.read_schema(f"{OUT}/{table}.parquet")
    assert got.equals(schema), f"{table}: schema drifted\nsrc={schema}\nout={got}"
    print(f"{table}: {t.num_rows} -> {big.num_rows} rows")
print(f"done: {OUT}")

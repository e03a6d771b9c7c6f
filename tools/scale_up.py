#!/usr/bin/env python3
"""Stage a k-times replicated copy of an sf directory with CONSISTENT
key offsets, so the full correctness gate (Verify + check.py) and Bench
can run one order of magnitude above the largest driver-provided scale
factor. This hunts threshold cliffs (auto-broadcast sizes, the dedup
resolver's driver/distributed switch, prefix-sum bucket widths) that
sf0.1 cannot reach — both engines read the SAME staged files, so the
oracle compare stays exact whatever the data's provenance.

Replica i of each fact row offsets every key by i*stride(table) where
stride = max(key)+1 of the base table, keeping FK structure intact:
  customer.c_custkey  <- orders.o_custkey, events.user_id
  orders.o_orderkey   <- lineitem.l_orderkey
  part.p_partkey      <- lineitem.l_partkey
  supplier.s_suppkey  <- lineitem.l_suppkey
  documents.doc_id    <- embeddings.vec_id (the curate lane pairs the
                         two on doc_id space, so embeddings stride by
                         the DOCUMENTS key span — see the curate note
                         under SCALE.md's round-4 lanes table)
Dimension enums (region, nation) are copied unreplicated — dims grow
slower than facts. Embedding labels shift by i*10 per replica (cluster
count tracks the corpus: the SemDeDup design point).

Usage: python3 tools/scale_up.py [k] [srcDir] [outDir] [table=k ...]

Trailing table=k args override the replication factor per table (e.g.
`documents=100 embeddings=100 lineitem=1` stages a text-lane 100x run
without paying for 100x lineitem) — the dedup/ANN caps bind at
replications the uniform stage can't reach in the sandbox.
"""
import sys

import duckdb

K = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
OUT = sys.argv[3] if len(sys.argv) > 3 else "/tmp/graft_sf1"
FACTORS = {}
for a in sys.argv[4:]:
    t, _, v = a.partition("=")
    FACTORS[t] = int(v)

con = duckdb.connect()
con.sql("SET preserve_insertion_order=false")


def stride(table, key):
    return con.sql(
        f"SELECT max({key}) + 1 FROM '{SRC}/{table}.parquet'").fetchone()[0]


S_CUST = stride("customer", "c_custkey")
S_ORD = stride("orders", "o_orderkey")
S_PART = stride("part", "p_partkey")
S_SUPP = stride("supplier", "s_suppkey")
S_EVT = stride("events", "event_id")
S_DOC = stride("documents", "doc_id")

REPL = {
    "customer": {"c_custkey": S_CUST},
    "orders": {"o_orderkey": S_ORD, "o_custkey": S_CUST},
    "lineitem": {"l_orderkey": S_ORD, "l_partkey": S_PART,
                 "l_suppkey": S_SUPP},
    "part": {"p_partkey": S_PART},
    "supplier": {"s_suppkey": S_SUPP},
    "events": {"event_id": S_EVT, "user_id": S_CUST},
    "documents": {"doc_id": S_DOC},
    "embeddings": {"vec_id": S_DOC, "label": 10},
}

import os

os.makedirs(OUT, exist_ok=True)
for t in ["region", "nation"]:
    con.sql(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO "
            f"'{OUT}/{t}.parquet' (FORMAT PARQUET)")
    print(f"[scale-up] {t}: copied unreplicated")

for t, offs in REPL.items():
    k = FACTORS.get(t, K)
    cols = [c[0] for c in con.sql(
        f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'").fetchall()]
    sel = ", ".join(
        f"{c} + i * {offs[c]} AS {c}" if c in offs else c for c in cols)
    con.sql(f"COPY (SELECT {sel} FROM '{SRC}/{t}.parquet', range({k}) t(i)) "
            f"TO '{OUT}/{t}.parquet' (FORMAT PARQUET)")
    n = con.sql(f"SELECT count(*) FROM '{OUT}/{t}.parquet'").fetchone()[0]
    print(f"[scale-up] {t}: {n} rows ({k}x)")

#!/usr/bin/env python3
"""Cut the catalog_cold input tables from an sf0.1 table directory.

    python3 perfbench/make_slice.py SF01_DIR [FRACTION]

writes perfbench/data/{orders,lineitem,documents,embeddings}.parquet: a
FRACTION (default 0.1) slice of the four tables the catalog_cold queries
read, taken by key prefix so the rows keep sf0.1's own value
distributions (document vocabulary and its weights, embedding geometry,
orders per customer, lines per order):

  orders      o_custkey < FRACTION x #customers, all their orders
  lineitem    every line of those orders
  documents   doc_id < FRACTION x #documents
  embeddings  vec_id < FRACTION x #vectors (the queries probe vec_id < 20
              and seed k-means from vec_id < 8, as on sf0.1)

Rows stay in sf0.1's order; run.py permutes a copy per pass. The slice is
committed, so a benchmark run needs no table outside its checkout. Re-run
this, then `run.py --record-digests`, only to change the slice.
"""
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    src = sys.argv[1]
    frac = float(sys.argv[2]) if len(sys.argv) > 2 else 0.1
    out = os.path.join(HERE, "data")
    os.makedirs(out, exist_ok=True)

    def read(name):
        return pq.read_table(os.path.join(src, f"{name}.parquet"))

    def prefix(t, col):
        n = pc.max(t[col]).as_py() + 1
        return t.filter(pc.less(t[col], int(n * frac)))

    orders = read("orders")
    n_cust = pq.read_metadata(os.path.join(src, "customer.parquet")).num_rows
    orders = orders.filter(pc.less(orders["o_custkey"], int(n_cust * frac)))
    lineitem = read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"]))
    tables = {"orders": orders, "lineitem": lineitem,
              "documents": prefix(read("documents"), "doc_id"),
              "embeddings": prefix(read("embeddings"), "vec_id")}
    for name, t in tables.items():
        pq.write_table(t.replace_schema_metadata(None), os.path.join(out, f"{name}.parquet"),
                       compression="zstd")
        print(f"{name}: {t.num_rows} rows")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Derive the benchmark's committed input slice from an sf0.1 testdata drop.

Usage: python3 perfbench/tools/derive_data.py <sf0.1 dir> perfbench/data

The benchmark never reads the testdata drop at run time; it reads only this
slice, so a checkout of the repository is self-contained.  The slice keeps
key integrity (every kept order has its customer and line items, every kept
user keeps all of its events) so the catalog rows' joins and sessions stay
meaningful:

  region, nation, supplier, part   all rows
  customer                         c_custkey % 10 == 0
  orders                           orders of the kept customers
  lineitem                         line items of the kept orders
  events                           user_id % 10 == 0 (all 30 days)
  documents                        doc_id < 1250 (the first quarter)
  embeddings                       vec_id % 4 == 0

The tables go to <out>/sf0.1-slice/.  The same documents and events also
go out as plain text, <out>/documents.txt (one text per line) and
<out>/events.tsv, which the seeded generators of the etl_daily (job
descriptions) and stream_upsert (drop files) workloads read without
starting a parquet reader.
"""
import datetime
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq


def multiple_of(column, m):
    """Mask of the integer column's values divisible by m."""
    return pc.equal(pc.subtract(column, pc.multiply(pc.divide(column, m), m)), 0)


def main(src, root):
    out = os.path.join(root, "sf0.1-slice")
    os.makedirs(out, exist_ok=True)

    def read(name):
        return pq.read_table(os.path.join(src, f"{name}.parquet"))

    def write(name, table):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       compression="zstd")
        print(f"{name}: {table.num_rows} rows")

    for name in ("region", "nation", "supplier", "part"):
        write(name, read(name))
    customer = read("customer")
    customer = customer.filter(multiple_of(customer["c_custkey"], 10))
    write("customer", customer)
    orders = read("orders")
    orders = orders.filter(pc.is_in(orders["o_custkey"], customer["c_custkey"]))
    write("orders", orders)
    lineitem = read("lineitem")
    write("lineitem", lineitem.filter(
        pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"])))
    events = read("events")
    events = events.filter(multiple_of(events["user_id"], 10))
    write("events", events)
    with open(os.path.join(root, "events.tsv"), "w") as fh:
        fh.write("event_id\tts_ms\tuser_id\tevent_type\tvalue\n")
        cols = [events[c].to_pylist() for c in
                ("event_id", "ts", "user_id", "event_type", "value")]
        for eid, ts, uid, kind, value in zip(*cols):
            ms = int(ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
            fh.write(f"{eid}\t{ms}\t{uid}\t{kind}\t{value!r}\n")
    documents = read("documents")
    documents = documents.filter(pc.less(documents["doc_id"], 1250))
    write("documents", documents)
    with open(os.path.join(root, "documents.txt"), "w") as fh:
        for text in documents["text"].to_pylist():
            fh.write(" ".join(text.split()) + "\n")
    emb = read("embeddings")
    write("embeddings", emb.filter(multiple_of(emb["vec_id"], 4)))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])

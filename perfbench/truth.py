"""The rows every served answer is checked against.

`write` reads the benchmark's tables straight from their parquet files,
outside the engine, and stores the columns the request generator and
its checks use as one JSON file (`Truth` in Requests.scala reads it).
"""
import json
import os

import pyarrow.parquet as pq


def write(tables_dir, out_file):
    def cols(t, *names):
        tb = pq.read_table(os.path.join(tables_dir, t + ".parquet"), columns=list(names))
        return list(zip(*(tb.column(n).to_pylist() for n in names)))

    with open(out_file, "w") as fh:
        json.dump({
            "regions": cols("region", "r_regionkey", "r_name"),
            "nations": cols("nation", "n_nationkey", "n_name", "n_regionkey"),
            "customers": cols("customer", "c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
            "suppliers": cols("supplier", "s_suppkey", "s_name", "s_nationkey"),
            "orders": cols("orders", "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
            "parts": cols("part", "p_partkey", "p_name", "p_brand", "p_type"),
        }, fh)

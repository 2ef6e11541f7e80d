#!/usr/bin/env python3
"""Dev tool: build /tmp/graft_scale/sf1/*.parquet = 10x the sf0.1 tables
(sf1-equivalent volume) for graft.ScaleRegistrySpec. Keys are shifted per
replica so FK joins stay consistent (each replica is a self-contained
shard of the keyspace); dimension tables (nation/region) copy as-is.
Documents get a distinct per-replica suffix (see the documents block
below). NOT part of the shipped engine
(driver-side python).

Usage: python3 dev/gen_scale_tables.py [K] [OUT]
       (default K=10 replicas -> /tmp/graft_scale/sf1;
        e.g. 100 /tmp/graft_scale/sf10 for the 100x probe)
"""
import os, sys

import duckdb

K = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = "/root/testdata/sf0.1"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_scale/sf1"
os.makedirs(OUT, exist_ok=True)

con = duckdb.connect()
con.execute(f"SET threads TO {os.cpu_count() or 8}")


def gen(table, select):
    reps = " UNION ALL ".join(
        f"SELECT {select.format(k=k)} FROM src" for k in range(K))
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW src AS
        SELECT * FROM read_parquet('{SRC}/{table}.parquet')""")
    con.execute(f"COPY ({reps}) TO '{OUT}/{table}.parquet' (FORMAT parquet)")
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{OUT}/{table}.parquet')"
    ).fetchone()[0]
    print(f"{table}: {n} rows")


# dimensions: unchanged (broadcast-sized at any sf)
for t in ("nation", "region"):
    con.execute(f"""
        COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet'))
        TO '{OUT}/{t}.parquet' (FORMAT parquet)""")
    print(f"{t}: copied")

gen("customer",
    "c_custkey + {k} * CAST(10000000 AS BIGINT) AS c_custkey, c_name, c_nationkey, "
    "c_acctbal, c_mktsegment")
gen("supplier",
    "s_suppkey + {k} * CAST(10000000 AS BIGINT) AS s_suppkey, s_name, s_nationkey, s_acctbal")
gen("part",
    "p_partkey + {k} * CAST(10000000 AS BIGINT) AS p_partkey, p_name, p_brand, p_type, "
    "p_size, p_retailprice")
gen("orders",
    "o_orderkey + {k} * CAST(100000000 AS BIGINT) AS o_orderkey, "
    "o_custkey + {k} * CAST(10000000 AS BIGINT) AS o_custkey, o_orderstatus, o_totalprice, "
    "o_orderdate, o_orderpriority")
gen("lineitem",
    "l_orderkey + {k} * CAST(100000000 AS BIGINT) AS l_orderkey, "
    "l_partkey + {k} * CAST(10000000 AS BIGINT) AS l_partkey, "
    "l_suppkey + {k} * CAST(10000000 AS BIGINT) AS l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, "
    "l_shipdate")
gen("events",
    "event_id + {k} * CAST(10000000 AS BIGINT) AS event_id, ts, "
    "user_id + {k} * CAST(1000000 AS BIGINT) AS user_id, event_type, value, props")
# Documents: a MIXED replicated/unique split, read by doc_text_splitter
# (the chunker's split oracle). 80% of each replica keeps the original
# text plus a per-replica suffix; 20% ((doc_id + k) % 5 = 4) gets fully
# UNIQUE synthetic text (24 four-hex-char words from three salted md5s
# of (doc_id, k, j)), so the splitter sees fresh word sequences at
# every K rather than only suffixed copies.
UNIQ = ("array_to_string(flatten(list_transform(range(3), j -> "
        "list_transform(range(8), i -> substr(md5(concat(doc_id, '|{k}|', j)), "
        "CAST(i*4+1 AS INTEGER), 4)))), ' ')")
gen("documents",
    "doc_id + {k} * CAST(1000000 AS BIGINT) AS doc_id, "
    f"CASE WHEN (doc_id + {{k}}) % 5 = 4 THEN {UNIQ} "
    "ELSE text || ' replica{k}' END AS text, "
    # suffix length varies with the digits of k (9 chars for k<=9, 10 for
    # k in 10..99, ...) — compute it from the literal so n_chars stays
    # equal to length(text) on every replica
    f"lang, source, CASE WHEN (doc_id + {{k}}) % 5 = 4 THEN length({UNIQ}) "
    "ELSE n_chars + length(' replica{k}') END AS n_chars")
print("done:", OUT)

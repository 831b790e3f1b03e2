"""Seeded benchmark inputs: disjoint-key replicas of the bundled base fixture.

``base/`` holds the smallest fixture set (sf0.001: 6,000 lineitem rows, 10
tables). A workload's input is ``replicas`` copies of its fact tables,
derived in DuckDB with the disjoint-key recipe of ``tools/make_sf1.py``:

- replica 0 is the base verbatim; replica k >= 1 shifts every key of the
  fact tables (customer, supplier, part, orders, lineitem, events) by a
  seed-picked slot times ``STRIDE``, so joins stay inside a replica and the
  seed decides how keys hash to partitions;
- region and nation are shared, and the document corpus and embeddings are
  kept as one copy: no workload reads them at more than one replica, and
  the oracle module precomputes answers for the base corpus.

The result is cached under ``<cache>/x<replicas>-seed<seed>/sf`` and
reused by later runs with the same seed. The directory is the only ``sf*``
entry of its parent, which is where the oracle module looks for the corpora
it precomputes answers for.
"""

from __future__ import annotations

import os
import random
import shutil

import duckdb

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")
STRIDE = 10_000_000
#: key slots a replica offset is drawn from; keys are BIGINT
SLOTS = 1024
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: per-table replica SELECT of the fact tables; {off} = key shift
REPLICA_SQL = {
    "customer": (
        "SELECT c_custkey + {off} AS c_custkey, c_name, c_nationkey,"
        " c_acctbal, c_mktsegment FROM base"
    ),
    "supplier": (
        "SELECT s_suppkey + {off} AS s_suppkey, s_name, s_nationkey,"
        " s_acctbal FROM base"
    ),
    "part": (
        "SELECT p_partkey + {off} AS p_partkey, p_name, p_brand, p_type,"
        " p_size, p_retailprice FROM base"
    ),
    "orders": (
        "SELECT o_orderkey + {off} AS o_orderkey,"
        " o_custkey + {off} AS o_custkey, o_orderstatus, o_totalprice,"
        " o_orderdate, o_orderpriority FROM base"
    ),
    "lineitem": (
        "SELECT l_orderkey + {off} AS l_orderkey,"
        " l_partkey + {off} AS l_partkey, l_suppkey + {off} AS l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate FROM base"
    ),
    "events": (
        "SELECT event_id + {off} AS event_id, ts,"
        " user_id + {off} AS user_id, event_type, value, props FROM base"
    ),
}


def offsets(seed: int, replicas: int) -> list[int]:
    """Key offset of each replica; replica 0 is not shifted."""
    slots = random.Random(seed).sample(range(1, SLOTS), replicas - 1)
    return [0] + [s * STRIDE for s in slots]


def build(cache: str, seed: int, replicas: int) -> str:
    """Materialize (or reuse) the seed's input directory; return its path."""
    out = os.path.join(cache, f"x{replicas}-seed{seed}", "sf")
    done = os.path.join(out, ".done")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    offs = offsets(seed, replicas)
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW base AS"
                f" SELECT * FROM '{BASE}/{t}.parquet'"
            )
            if t in REPLICA_SQL:
                query = " UNION ALL ".join(
                    REPLICA_SQL[t].format(off=off) for off in offs
                )
            else:
                query = "SELECT * FROM base"
            con.execute(
                f"COPY ({query}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
    finally:
        con.close()
    open(done, "w").close()
    return out

"""Table loading helpers.

Every table has a fixed, declared schema (`SCHEMAS`, one Spark DDL string per
table), and `load(spark, sf_dir, name)` reads through it.  A parquet
read without a schema launches one Spark job per load to infer it from the
file footers; a declared schema makes building a DataFrame job-free.  The
declaration is the contract, so a new or retyped column means editing
`SCHEMAS` (tests/test_tables.py fails on any drift from the files).

Timestamps are declared `timestamp_ntz`: every column reads as the stored UTC
wall clock whatever the session timezone, also from a file whose column is
annotated as an instant (`isAdjustedToUTC=true`).

`load` returns the name of a temp view over the whole table: each query's
SQL names the columns it reads, and the optimizer prunes the parquet scan to
them (the scans' `ReadSchema` lists only those columns).  Spark's per-session
temp-view catalog is the only registry.  The view name is a digest of the
table file's path, so every `load` of one file in one session finds the same
view, and `load` registers it only when the catalog lacks it: building a query
costs no view creation, analysis or drop per table once the view exists.
Every Python wrapper over one Spark session sees the same views, a new session
registers its own, and a dropped view is registered again on the next `load`.
Two threads that race on a first load register the same view over the same
file, and the catalog serializes the two writes, so no lock is needed.

A view fixes the table's file listing when it is registered, so a table file
must not be rewritten in place while a session that loaded it is live; write
changed tables to a fresh directory instead.  The test data is read-only, and
every test fixture that writes tables writes a fresh directory.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import SparkSession

SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": ("c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, "
                 "c_mktsegment string"),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": ("p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, "
             "p_retailprice double"),
    "orders": ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
               "o_orderdate timestamp_ntz, o_orderpriority string"),
    "lineitem": ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
                 "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
                 "l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"),
    "events": ("event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
               "value double, props string"),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = tuple(SCHEMAS)


def path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load(spark: SparkSession, sf_dir: str, name: str) -> str:
    """The temp view of table `name` under `sf_dir` in `spark`, registered
    through the declared schema when the session's catalog lacks it."""
    file = path(sf_dir, name)
    view = f"_{name}_{hashlib.md5(file.encode()).hexdigest()[:16]}"
    if not spark.catalog.tableExists(view):
        spark.read.schema(SCHEMAS[name]).parquet(file).createOrReplaceTempView(view)
    return view

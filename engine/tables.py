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

`load` returns the whole table: each query's SQL names the columns it reads,
and the optimizer prunes the parquet scan to them (the scans' `ReadSchema`
lists only those columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(SCHEMAS[name]).parquet(path(sf_dir, name))

"""Local replica of the driver's correctness check.

For each declared query: run the Spark DataFrame and the DuckDB oracle SQL
on the same sf dir, then compare row count, schema (name + type family) and
the order-insensitive multiset of values (floats compared bit-exactly).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from engine.queries import QUERIES  # noqa: E402
from engine.session import build_session  # noqa: E402
from engine.tables import TABLES, path  # noqa: E402

TYPE_FAMILY = {
    "bigint": "int", "int": "int", "integer": "int", "smallint": "int", "tinyint": "int",
    "hugeint": "int",
    "double": "float", "float": "float", "real": "float",
    "string": "str", "varchar": "str",
    "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "boolean": "bool",
}


def canon_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v.hex()
    return v


def canon_rows(rows):
    return sorted(tuple(canon_cell(c) for c in r) for r in rows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(QUERIES)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path(sf_dir, t)}'")

    # The benchmark's session, so the parity gate checks the configuration
    # that is timed.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "16g")
    spark = build_session(8, sf_dir=sf_dir, app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    for name in names:
        q = QUERIES[name]
        t0 = time.time()
        sdf = q.fn(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        s_schema = [(f.name, TYPE_FAMILY.get(f.dataType.simpleString(), f.dataType.simpleString()))
                    for f in sdf.schema.fields]
        t1 = time.time()
        rel = con.sql(q.oracle)
        d_cols = list(rel.columns)
        d_types = [TYPE_FAMILY.get(str(t).lower(), str(t).lower()) for t in rel.types]
        d_rows = rel.fetchall()
        t2 = time.time()

        problems = []
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if [c for c, _ in s_schema] != d_cols:
            problems.append(f"colnames spark={[c for c, _ in s_schema]} duck={d_cols}")
        if [t for _, t in s_schema] != d_types:
            problems.append(f"coltypes spark={[t for _, t in s_schema]} duck={d_types}")
        if not problems:
            cs, cd = canon_rows(s_rows), canon_rows(d_rows)
            if cs != cd:
                ndiff = sum(1 for a, b in zip(cs, cd) if a != b)
                ex = next(((a, b) for a, b in zip(cs, cd) if a != b), None)
                problems.append(f"values differ in {ndiff}/{len(cs)} rows; first: {ex}")
        status = "OK " if not problems else "FAIL"
        print(f"{name:28s} {status} rows={len(s_rows):7d}  spark={t1-t0:5.1f}s duck={t2-t1:4.1f}s"
              + ("" if not problems else f"  {problems}"))
        if problems:
            failures.append((name, problems))

    print()
    if failures:
        print(f"{len(failures)} FAILURES: {[f[0] for f in failures]}")
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

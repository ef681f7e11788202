"""The DuckDB oracle check: a query's Spark output against its oracle SQL.

tests/test_queries.py::check_parity runs it for every query on sf0.001,
sf0.01, sf0.1 and an adversarial copy of sf0.001, and
tests/test_streaming.py for the windowed stream counts."""

from __future__ import annotations

from engine.tables import TABLES, path

TYPE_FAMILY = {"bigint": "int", "int": "int", "integer": "int", "smallint": "int",
               "tinyint": "int", "hugeint": "int", "double": "float", "float": "float",
               "real": "float", "string": "str", "varchar": "str", "timestamp": "ts",
               "timestamp_ntz": "ts", "boolean": "bool"}


def views(con, sf_dir: str) -> None:
    """Registers every table of `sf_dir` as a DuckDB view named after it."""
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path(sf_dir, t)}'")


def _key(v):
    """One value as a type tag plus a part compared only within its tag, so
    NULLs (first) and mixed types sort without raising.  A float is its exact
    hex: -0.0 differs from 0.0, and every NaN is the one token "nan"."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, v.hex())
    return (2, type(v).__name__, v)


def canon(rows) -> list[tuple]:
    return sorted(tuple(map(_key, r)) for r in rows)


def _family(t: str) -> str:
    return TYPE_FAMILY.get(t.lower(), t.lower())


def compare(sdf, rel) -> list[str]:
    """An empty oracle result, and row count, column name, type family and
    value differences, one message each.  Runs the oracle once."""
    s_rows, d_rows = sdf.collect(), rel.fetchall()
    s_cols = [f.name for f in sdf.schema.fields]
    s_types = [_family(f.dataType.simpleString()) for f in sdf.schema.fields]
    d_types = [_family(str(t)) for t in rel.types]
    problems = [] if d_rows else ["the oracle returned no rows"]
    if len(s_rows) != len(d_rows):
        problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
    if s_cols != rel.columns:
        problems.append(f"colnames spark={s_cols} duck={rel.columns}")
    if s_types != d_types:
        problems.append(f"coltypes spark={s_types} duck={d_types}")
    if not problems:
        diffs = [(a, b) for a, b in zip(canon(s_rows), canon(d_rows)) if a != b]
        if diffs:
            problems.append(f"values differ in {len(diffs)}/{len(d_rows)} rows; "
                            f"first: {diffs[0]}")
    return problems

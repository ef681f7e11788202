"""Dump .explain('formatted') for every declared query.

Usage: python tools/dump_plans.py <suffix> [sf_dir] [query ...]
Writes $PLANS_DIR/<query>_<suffix>.txt (PLANS_DIR defaults to the repo's plans/)

The dumps are normalized so that two checkouts' plans diff directly
(`diff -r dir_a dir_b` is empty when the plans are the same): expression ids
(`#123`), exchange ids (`plan_id=N`), the uuid names of the views that
`spark.sql(text, name=df)` registers (`_pyspark_<hex>`) and the counters
PySpark appends to lambda variable names (`x_12`) are replaced by fixed
tokens.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from engine.queries import QUERIES  # noqa: E402
from engine.session import build_session  # noqa: E402

NORMALIZE = (
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"_pyspark_[0-9a-f]+"), "_pyspark_V"),
    (re.compile(r"\b(lambda [a-z]+)_\d+\b"), r"\1"),
)


def normalize(plan: str) -> str:
    for rx, sub in NORMALIZE:
        plan = rx.sub(sub, plan)
    return plan


def main() -> None:
    suffix = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or list(QUERIES)
    plans_dir = os.environ.get("PLANS_DIR", os.path.join(ROOT, "plans"))
    os.makedirs(plans_dir, exist_ok=True)
    spark = build_session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                          sf_dir=sf_dir, app_name=f"plans-{suffix}")
    for name in names:
        df = QUERIES[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        txt = normalize(buf.getvalue())
        with open(f"{plans_dir}/{name}_{suffix}.txt", "w") as f:
            f.write(txt)
        n_exch = txt.count("Exchange")
        joins = [k for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                             "BroadcastNestedLoopJoin", "CartesianProduct") if k in txt]
        print(f"{name:28s} Exchange={n_exch:2d} joins={joins}")
    spark.stop()


if __name__ == "__main__":
    main()

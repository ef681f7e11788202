"""Dump .explain('formatted') for every declared query.

Usage: python tools/dump_plans.py <suffix> [sf_dir] [query ...]
Writes $PLANS_DIR/<query>_<suffix>.txt (PLANS_DIR defaults to the repo's plans/)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from engine.queries import QUERIES  # noqa: E402
from engine.session import build_session  # noqa: E402


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
        txt = buf.getvalue()
        with open(f"{plans_dir}/{name}_{suffix}.txt", "w") as f:
            f.write(txt)
        n_exch = txt.count("Exchange")
        joins = [k for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                             "BroadcastNestedLoopJoin", "CartesianProduct") if k in txt]
        print(f"{name:28s} Exchange={n_exch:2d} joins={joins}")
    spark.stop()


if __name__ == "__main__":
    main()

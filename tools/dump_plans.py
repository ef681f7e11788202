"""Dump .explain('formatted') for every declared query.

Usage: python tools/dump_plans.py <out_dir> <sf_dir> [query ...]
Writes <out_dir>/<query>.txt (all declared queries when none are named).

The dumps are normalized so that two checkouts' plans diff directly
(`diff -r dir_a dir_b` is empty when the plans are the same): expression ids
(`#123`), exchange ids (`plan_id=N`) and the counters PySpark appends to
lambda variable names (`x_12`) are replaced by fixed tokens.

One change is invisible here: `Divide`'s evaluation mode.  The TRY-mode
`Divide` that a double `try_divide` becomes and an ANSI `/`, which aborts
with DIVIDE_BY_ZERO, both print as `/`, so an empty `diff -r` cannot tell
them apart.  Only the adversarial rows of
tests/test_queries.py::test_oracle_parity_adversarial do.
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
    (re.compile(r"\b(lambda [a-z]+)_\d+\b"), r"\1"),
)


def normalize(plan: str) -> str:
    for rx, sub in NORMALIZE:
        plan = rx.sub(sub, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    out_dir, sf_dir, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(4, sf_dir=sf_dir, app_name="plans")
    for name in names or QUERIES:
        df = QUERIES[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        txt = normalize(buf.getvalue())
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(txt)
        n_exch = txt.count("Exchange")
        joins = [k for k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                             "BroadcastNestedLoopJoin", "CartesianProduct") if k in txt]
        print(f"{name:28s} Exchange={n_exch:2d} joins={joins}")
    spark.stop()


if __name__ == "__main__":
    main()

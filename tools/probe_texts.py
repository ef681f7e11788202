"""Warm per-query probe: this checkout's Spark texts against another's.

Usage: python tools/probe_texts.py <sf_dir> <other_checkout> [query ...]

Probes the named queries, or each whose text differs, in one
build_session(4, sf_dir): Query.fn builds both forms for the noop sink, 3
warm-up rounds, then 15 that alternate which runs first.  Prints both medians
in ms, the other checkout's first, and the rounds its form won.
"""

import importlib.util
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from engine.queries import QUERIES  # noqa: E402
from engine.session import build_session  # noqa: E402


def main() -> None:
    sf_dir, checkout, *names = sys.argv[1:]
    spec = importlib.util.spec_from_file_location("other", f"{checkout}/engine/queries.py")
    other = importlib.util.module_from_spec(spec)
    sys.modules["other"] = other  # @dataclass looks its module up there
    spec.loader.exec_module(other)
    spark = build_session(4, sf_dir, app_name="probe")
    for name in names or [n for n, q in QUERIES.items() if q.sql != other.QUERIES.get(n, q).sql]:
        forms, times = (other.QUERIES[name], QUERIES[name]), ([], [])
        for i in range(-3, 15):  # rounds below 0 warm up
            for side in (i % 2, 1 - i % 2):
                t0 = time.perf_counter()
                forms[side].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                if i >= 0:
                    times[side].append(time.perf_counter() - t0)
        a, b = (statistics.median(t) * 1000 for t in times)
        won = sum(x < y for x, y in zip(*times))
        print(f"{name:28s} {a:7.0f} vs {b:7.0f} ms  other won {won}/15", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()

"""Benchmark harness (driver contract).

Reads the data directory from $SPARK_GRAFT_SF_DIR and the core count from
$SPARK_GRAFT_CPUS (master local[$SPARK_GRAFT_CPUS]).  Times every declared
query with the noop sink (it computes every column of every row and writes
nothing, so output cost is not timed) after one untimed JVM/codegen warmup
query, and prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The warmup is the r09 protocol (untimed pricing_summary) -- two neutral
synthetic replacements were measured and rejected this round; see the
comment at the warmup below and OPTIMIZATION_r10.md.

Shuffle partitions derive from the core count and the input size
(engine/session.py shuffle_partitions()).  The driver heap is
$SPARK_GRAFT_DRIVER_MEM, default 64g (local mode = driver only).
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from engine.queries import QUERIES  # noqa: E402
from engine.session import build_session, input_bytes  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = build_session(cpus, sf_dir=sf_dir, app_name=f"bench-sf{sf}")

    # Untimed warmup: JVM JIT, codegen, parquet footer caches.  This is the
    # r09 protocol (one untimed pricing_summary), kept deliberately: two
    # neutral-warmup replacements (VERDICT r09 "what's wrong" #4) were
    # implemented and measured in interleaved A/B campaigns this round, and
    # BOTH made the timed region 30-150% slower than the r09-warmup sides of
    # the same interleaved rounds (10/10 runs; worst on the first timed
    # queries and on single-task dedup_docs) -- i.e. the timed queries
    # absorbed the JIT/ramp-up cost the real-query warmup used to pay.
    # Raw evidence: plans/r10/bench_runs_r10_3way32.json (minimal synthetic
    # warmup) and ..._3way32b.json (rich synthetic warmup: parquet
    # write+read, long+decimal hash agg, broadcast join, window, noop).
    # Keeping the r09 warmup keeps BENCH_r{N} numbers comparable across
    # rounds; the known caveat (it pre-reads lineitem metadata used by three
    # timed queries, and registers the session's `lineitem` view, which
    # engine.tables.load then reuses for them) is disclosed, round-invariant,
    # and applied uniformly.
    sc = spark.sparkContext
    sc.setJobDescription("warmup")
    QUERIES["pricing_summary"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

    times: dict[str, float] = {}
    for name, q in QUERIES.items():
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.perf_counter() - t0, 3)
    sc.setJobDescription(None)

    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        "input_bytes": input_bytes(sf_dir),
    }))
    spark.stop()


if __name__ == "__main__":
    main()

"""Session configuration that the whole engine relies on."""

import io
import os
from contextlib import redirect_stdout

from engine.queries import QUERIES
from engine.session import shuffle_partitions
from engine.tables import load
from tests.conftest import SF_SMOKE


def _compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pass_compiles_nothing(spark):
    """The codegen class cache holds the working set of all 17 queries, so a
    second pass over them reuses every generated class.  If new queries push
    the working set past the cache size, the second pass recompiles and this
    fails."""

    def run_all():
        for q in QUERIES.values():
            q.fn(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    run_all()
    before = _compiled_classes(spark)
    run_all()
    assert _compiled_classes(spark) - before == 0


def test_query_build_makes_few_py4j_calls(spark, monkeypatch):
    """Each query is one `spark.sql` call over its loaded tables, so building
    (not running) all 17 takes a few hundred py4j round trips.  The same
    queries written as DataFrame-API chains took 10,000-12,000: every Column
    op is several calls, and every step re-runs the analyzer.  The bound
    leaves room for Python GC, which sends bursts of about 115 object
    deletions at unpredictable moments."""
    from py4j.clientserver import ClientServerConnection

    calls = 0
    send = ClientServerConnection.send_command

    def counting_send(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    for q in QUERIES.values():
        q.fn(spark, SF_SMOKE)
    monkeypatch.undo()
    assert calls < 1000


def test_shuffle_partitions_follow_cores_and_input(tmp_path):
    """At least the core count (and never below 2), raised to one partition
    per 256 MiB of parquet input, capped at 4x the cores.  The large inputs
    are sparse files: only their apparent size counts."""

    def sparse_dir(name, gib):
        d = tmp_path / name
        d.mkdir()
        for i in range(gib):
            with open(d / f"t{i}.parquet", "wb") as f:
                f.truncate(1 << 30)
        return str(d)

    assert shuffle_partitions(4, sparse_dir("2g", 2)) == 8
    assert shuffle_partitions(4, sparse_dir("8g", 8)) == 16
    assert shuffle_partitions(4, os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")) == 4
    assert shuffle_partitions(1, None) == 2
    assert shuffle_partitions(1, SF_SMOKE) == 2


def test_aqe_picks_shuffled_hash_join(spark):
    """With broadcasts off, an equi-join is planned as a sort-merge join, and
    AQE turns it into a shuffled hash join because every post-shuffle
    partition's build side is under maxShuffledHashJoinLocalMapThreshold.
    This is the join the engine runs once a side is too big to broadcast."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "-1")
        df = spark.sql(
            "SELECT o.o_orderkey, l.l_quantity FROM {o} o JOIN {l} l"
            " ON o.o_orderkey = l.l_orderkey",
            o=load(spark, SF_SMOKE, "orders"), l=load(spark, SF_SMOKE, "lineitem"))
        assert df.collect()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    plan = buf.getvalue()
    final = plan[plan.index("== Final Plan =="):plan.index("== Initial Plan ==")]
    assert "ShuffledHashJoin" in final and "SortMergeJoin" not in final, plan

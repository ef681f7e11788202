"""Session configuration that the whole engine relies on."""

from engine.queries import QUERIES
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

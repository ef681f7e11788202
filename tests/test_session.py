"""Session configuration that the whole engine relies on."""

from engine.queries import QUERIES
from engine.session import shuffle_partitions
from tests.conftest import SF_DIRS, SF_SMOKE


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
    """Each query is one `spark.sql` call over its tables' views, so building
    (not running) all 17 takes 212 py4j commands in a new session, where
    each table's view is registered once, and 107 when they are built again,
    each of the 22 table lookups one catalog check.  The same queries
    written as DataFrame-API chains took 10,000-12,000: every Column op is
    several calls, and every step re-runs the analyzer.  Only build commands
    count: py4j's clientserver queues the release of each garbage-collected
    Java reference (an `m` command) and its FinalizerWorker thread sends the
    queue whenever it wakes, 0 to about 250 of them per build."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    calls = 0
    send = ClientServerConnection.send_command

    def counting_send(self, command):
        nonlocal calls
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls += 1
        return send(self, command)

    session = spark.newSession()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting_send)
    builds = []
    for _ in range(2):
        calls = 0
        for q in QUERIES.values():
            q.fn(session, SF_SMOKE)
        builds.append(calls)
    monkeypatch.undo()
    first, again = builds
    assert first < 1000
    assert again < 200


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
    assert shuffle_partitions(4, SF_DIRS[-1]) == 4
    assert shuffle_partitions(1, SF_SMOKE) == 2


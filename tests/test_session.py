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

"""The declared table schemas: equal to what the files hold, free of Spark
jobs to read, and timezone-free for timestamps; and the temp views that `load`
registers in the session's catalog, one per table file."""

from concurrent.futures import ThreadPoolExecutor
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession

from engine.queries import QUERIES
from engine.tables import TABLES, load, path
from tests.conftest import SF_DIRS, SF_SMOKE


def _jobs_in_group(spark, group, fn):
    """Runs `fn` under job group `group`; returns the ids of the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # The status tracker is fed by the listener bus; drain it so a job that
    # was launched is also counted.
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=lambda d: d.rsplit("/", 1)[-1])
def test_declared_schema_matches_files(spark, sf_dir):
    """A column added, dropped or retyped in the data must fail here, not
    read as NULLs through a stale declaration."""
    pairs = {t: (spark.table(load(spark, sf_dir, t)).schema,
                 spark.read.parquet(path(sf_dir, t)).schema)
             for t in TABLES}
    drift = {t: (d.simpleString(), f.simpleString()) for t, (d, f) in pairs.items() if d != f}
    assert not drift, f"declared (left) vs file (right) schemas differ: {drift}"


def test_load_launches_no_job(spark):
    # A new session, so every load registers its view here rather than
    # returning one an earlier test registered in the shared session.
    session = spark.newSession()
    sf_dir = SF_SMOKE
    assert _jobs_in_group(spark, "declared-load", lambda: [
        session.table(load(session, sf_dir, t)).schema for t in TABLES]) == []
    # Control: the same tracker does see the job an inferring read launches.
    assert _jobs_in_group(spark, "inferred-load",
                          lambda: spark.read.parquet(path(sf_dir, "region")).schema)


def test_ntz_read_ignores_session_tz(spark, tmp_path):
    """A timestamp column annotated as an instant (isAdjustedToUTC=true)
    reads as the UTC wall clock through the declared timestamp_ntz, even
    when the session timezone is not UTC."""
    pq.write_table(pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([1717243200_000000], pa.timestamp("us", tz="UTC")),  # 2024-06-01 12:00 UTC
    }), path(str(tmp_path), "events"))
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        assert dict(spark.read.parquet(path(str(tmp_path), "events")).dtypes)["ts"] == "timestamp"
        df = spark.table(load(spark, str(tmp_path), "events")).select("event_id", "ts")
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert df.collect()[0].ts == datetime(2024, 6, 1, 12, 0, 0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_session_registers_each_table_once(spark):
    """Queries built from four threads at once in one session, over two data
    directories, share one view per table file they name, and each reads its
    own directory; another session's views are left alone."""
    parent_views = _temp_views(spark)
    session = spark.newSession()
    dirs = SF_DIRS[:2]
    builds = [(q, d) for q in QUERIES.values() for d in dirs]
    with ThreadPoolExecutor(4) as pool:
        dfs = list(pool.map(lambda b: b[0].fn(session, b[1]), builds, timeout=300))
    for (_, d), df in zip(builds, dfs):
        assert df.schema.fields
        assert all(f"{d}/" in f for f in df.inputFiles())
    named = {t for q in QUERIES.values() for t in q.tables}
    views = _temp_views(session)
    assert len(views) == len(dirs) * len(named)
    assert {load(session, d, t) for d in dirs for t in named} == views
    assert _temp_views(spark) == parent_views


def test_views_live_in_the_session_catalog(spark):
    """The session's catalog is the only view registry: a second Python
    wrapper over the same session that builds over another directory leaves
    the first wrapper's queries reading their own files, and views dropped
    from the catalog are registered again by the next build."""
    session = spark.newSession()
    small, other_dir = SF_DIRS[:2]
    for q in QUERIES.values():
        q.fn(session, small)
    wrapper = SparkSession(session.sparkContext, session._jsparkSession)
    for q in QUERIES.values():
        q.fn(wrapper, other_dir)
    for q in QUERIES.values():
        assert all(f"{small}/" in f for f in q.fn(session, small).inputFiles()), q
    for view in _temp_views(session):
        session.catalog.dropTempView(view)
    assert not _temp_views(session)
    for q in QUERIES.values():
        assert q.fn(session, small).schema.fields

"""Streaming operators: windowed counts and dedup driven to completion on the
sf0.001 events data; aggregates cross-checked against the batch analog."""

import os
from collections import Counter
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from engine import streaming
from tests.conftest import SF_SMOKE


def _write_events(path, keys, n):
    """One events file with the given (event_id, ts) keys; the other columns
    carry the file number n."""
    pq.write_table(pa.table({
        "event_id": pa.array([i for i, _ in keys], pa.int64()),
        "ts": pa.array([t for _, t in keys], pa.timestamp("us", tz="UTC")),
        "user_id": pa.array([n] * len(keys), pa.int64()),
        "event_type": pa.array(["click"] * len(keys), pa.string()),
        "value": pa.array([float(n)] * len(keys), pa.float64()),
        "props": pa.array([None] * len(keys), pa.string()),
    }), path)


def test_windowed_counts_matches_batch(spark):
    stream = streaming.read_event_stream(spark, SF_SMOKE)
    agg = streaming.windowed_counts(stream)
    table = streaming.run_to_memory(agg, mode="complete")
    got = {(r.w_start, r.event_type): (r.n, r.sum_value_c)
           for r in spark.table(table).collect()}
    assert got

    batch = (spark.read.parquet(f"{SF_SMOKE}/events.parquet")
             .withColumn("ts", F.col("ts").cast("timestamp")))
    value_c = F.round(F.col("value") * 100, 0).cast("long")
    expect = {(r["window"].start, r.event_type): (r.n, r.s)
              for r in (batch.groupBy(F.window("ts", "6 hours"), "event_type")
                        .agg(F.count(F.lit(1)).alias("n"), F.sum(value_c).alias("s"))
                        .collect())}
    assert got == expect


def test_stream_dedup(spark):
    stream = streaming.read_event_stream(spark, SF_SMOKE)
    table = streaming.run_to_memory(streaming.stream_dedup(stream))
    n = spark.table(table).count()
    n_batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert n == n_batch  # event_ids are unique -> dedup is a no-op pass-through


def test_stream_dedup_drops_repeated_keys(spark, tmp_path):
    """Rows that repeat an (event_id, ts) key are dropped, within a file and
    across micro-batches; a row that shares only its id or only its ts is
    kept.  All timestamps lie within 80 s, so no row is behind the 1 hour
    watermark and every drop is a duplicate."""
    base = datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc)
    unique = [(i, base + timedelta(seconds=i)) for i in range(80)]
    repeats = unique[:10] + unique[40:43]  # 13 duplicates
    near = [(5, base + timedelta(seconds=90)), (1000, base + timedelta(seconds=5))]
    keys = unique + repeats + near
    # Five files: the stream reads four per micro-batch, so the repeats in
    # the last file meet their originals' keys in the dedup state.
    files = [unique[0:20] + unique[40:43], unique[20:40], unique[40:60] + near,
             unique[60:80], unique[:10]]
    assert sorted(k for f in files for k in f) == sorted(keys)
    for n, rows in enumerate(files):
        _write_events(tmp_path / f"events_{n}.parquet", rows, n)

    stream = streaming.read_event_stream(spark, str(tmp_path))
    table = streaming.run_to_memory(streaming.stream_dedup(stream))
    got = [(r.event_id, r.ts) for r in spark.table(table).collect()]
    assert len(got) == len(keys) - len(repeats)
    assert len(set(got)) == len(got)
    assert sorted(i for i, _ in got) == sorted(i for i, _ in unique + near)


def test_stream_dedup_drops_late_rows(spark, tmp_path):
    """Rows behind the watermark are dropped, rows within it are kept.  The
    stream reads four files per micro-batch, and Spark filters a batch's late
    rows against the watermark of the batch before it, so the ninth file
    (batch 3) is checked against max ts of batch 1 - 1 hour.  Its rows two
    hours and more behind the latest ts are late; its rows half an hour
    behind it are on time."""
    base = datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc)
    on_time = [(i, base + timedelta(minutes=i)) for i in range(80)]
    latest = on_time[-1][1]
    late = [(1000 + i, latest - timedelta(hours=2, minutes=i)) for i in range(5)]
    recent = [(2000 + i, latest - timedelta(minutes=30 + i)) for i in range(5)]
    files = [on_time[i:i + 10] for i in range(0, 80, 10)] + [late + recent]
    for n, rows in enumerate(files):
        f = tmp_path / f"events_{n}.parquet"
        _write_events(f, rows, n)
        # The stream takes files oldest first: pin the order to the index.
        os.utime(f, (base.timestamp() + n, base.timestamp() + n))

    stream = streaming.read_event_stream(spark, str(tmp_path))
    table = streaming.run_to_memory(streaming.stream_dedup(stream))
    got = sorted(r.event_id for r in spark.table(table).collect())
    assert got == sorted(i for i, _ in on_time + recent)


def test_stream_dedup_rocksdb_statestore(spark):
    """The production state-store config (r10): stream_dedup must produce the
    same result with the RocksDB provider and changelog checkpointing, which
    a deployment selects with Spark's own `--conf` or spark-defaults.conf.
    Changelog uploads go through the session's checkpoint file manager."""
    confs = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }
    old = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        stream = streaming.read_event_stream(spark, SF_SMOKE)
        table = streaming.run_to_memory(streaming.stream_dedup(stream))
        n = spark.table(table).count()
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    n_batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert n == n_batch


def test_stream_checkpoint_forks_no_readlink(spark, tmp_path):
    """A stream_dedup drain spawns no `readlink` process.  Spark's default
    FileContext checkpoint manager forks `readlink` four times per rename on
    a host without libhadoop; engine.session selects the FileSystem manager,
    which renames in-process.  Counted with a JFR jdk.ProcessStart recording
    in the session's JVM."""
    jvm = spark._jvm
    recording = jvm.jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try:
        stream = streaming.read_event_stream(spark, SF_SMOKE)
        streaming.run_to_memory(streaming.stream_dedup(stream))
    finally:
        recording.stop()
    # java.nio.file.Paths.get is varargs, which py4j cannot call.
    path = jvm.java.io.File(str(tmp_path / "spawns.jfr")).toPath()
    recording.dump(path)
    recording.close()
    spawned = Counter(str(e.getString("command")).split()[0]
                      for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(path))
    assert spawned["readlink"] == 0, dict(spawned)


def test_stream_dedup_restarts_from_checkpoint(spark, tmp_path):
    """A stream_dedup query restarted from its checkpoint reads back the
    offset log, the commit log and the dedup state: a file added between the
    runs is the only new input, and its rows that repeat an earlier
    (event_id, ts) key are dropped.  All timestamps lie within 80 s, so no
    row is late."""
    base = datetime(2024, 6, 1, 12, 0, tzinfo=timezone.utc)
    first = [(i, base + timedelta(seconds=i)) for i in range(30)]
    new = [(100 + i, base + timedelta(seconds=50 + i)) for i in range(10)]
    src, ck = tmp_path / "events", tmp_path / "ck"
    src.mkdir()
    for n in range(3):
        _write_events(src / f"events_{n}.parquet", first[10 * n:10 * n + 10], n)

    # A memory sink cannot restart from a checkpoint in append mode, so the
    # query writes to a parquet sink, whose own log keeps it exactly once.
    out = tmp_path / "out"

    def drain():
        q = (streaming.stream_dedup(streaming.read_event_stream(spark, str(src)))
             .writeStream.outputMode("append").format("parquet")
             .option("path", str(out)).option("checkpointLocation", str(ck)).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(r.event_id for r in spark.read.parquet(str(out)).collect())

    assert drain() == [i for i, _ in first]
    _write_events(src / "events_3.parquet", first[::3] + new, 3)
    # The restart adds the new keys and nothing else.
    assert drain() == [i for i, _ in first + new]
    state = set(os.listdir(ck / "state" / "0" / "0"))
    assert {"1.delta", "1.delta.crc", ".1.delta.crc"} <= state, sorted(state)

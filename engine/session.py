"""SparkSession construction for bench/tests.

Scale-adaptive with local defaults: shuffle partitions derive from core count
and input size rather than a constant tuned for one deployment, so one build
fits a 4-core and a 32-core host at any scale factor; AQE coalesces the rest
at runtime.  Every setting here is needed by a test or a measurement named
next to it; anything else (a RocksDB state store, say) is selected with
Spark's own `--conf` or spark-defaults.conf.
"""

from __future__ import annotations

import glob
import os


def input_bytes(sf_dir: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(f"{sf_dir.rstrip('/')}/*.parquet"))


def shuffle_partitions(cpus: int, sf_dir: str) -> int:
    """Derive shuffle parallelism from cores and input scale.

    One partition per 256 MiB of parquet input, but at least the core count
    (keep every core busy, and never below 2) and at most 4x it.  AQE
    coalescing trims the excess at runtime.
    """
    n = max(2, cpus)
    target = 256 * 1024 * 1024  # advisory post-shuffle partition size
    return max(n, min(4 * n, input_bytes(sf_dir) // target))


def build_session(cpus: int, sf_dir: str, app_name: str = "engine"):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # TIMESTAMP casts read the UTC wall clock the data is written in: under
        # America/New_York tests/test_streaming.py::test_windowed_counts_matches_batch fails.
        .config("spark.sql.session.timeZone", "UTC")
        # Deployment setting: local mode runs everything in the driver's heap.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"))
        # `perfbench/run.py --trace` turns the UI on to poll its REST API.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # Pinned by tests/test_session.py::test_shuffle_partitions_follow_cores_and_input.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions(cpus, sf_dir)))
        # Let AQE rewrite a planned sort-merge join to a shuffled hash join
        # when every post-shuffle partition's build side fits locally: a hash
        # join sorts neither side, where a sort-merge join sorts both.
        # Default 0 = off; the value is Spark's default advisory post-shuffle
        # partition size (AQE coalesces partitions toward it, so a qualifying
        # build side is ~one partition).
        # Inert at local SFs where these joins are broadcast anyway; pinned by
        # tests/test_queries.py::test_oracle_parity_shuffled.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        # Compiled-class cache for generated code (static conf, so it must be
        # set before the session starts).  The 17 batch queries generate ~200
        # distinct classes at sf0.001 and sf0.1, the two stream operators 30.
        # At the default of 100 every warm pass evicts and recompiles 150-190
        # of them with Janino; 1000 holds the whole working set, so a
        # repeated query compiles its code once per session.  Pinned by
        # tests/test_session.py::test_warm_pass_compiles_nothing.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Streaming checkpoints (offset and commit logs, HDFS-backed and
        # RocksDB state stores) rename through FileSystem.rename instead of
        # Spark's default FileContext manager.  Without libhadoop, every
        # FileContext rename runs FileUtil.readLink, which forks `readlink`
        # for source, destination and both .crc files: 1,664 of the 2,132
        # processes two warm stream_replay passes started (JFR
        # jdk.ProcessStart), 192 per sf0.001 dedup drain.  FileSystem.rename
        # forks nothing; the 468 left are RawLocalFileSystem's `chmod`.
        # Safe here: the session is always local[N] and run_to_memory
        # checkpoints to a local temp dir, where File.renameTo is rename(2)
        # and replaces the target atomically (FileContext's overwrite-rename
        # deletes the target first); a no-overwrite rename is
        # check-then-rename under both managers, and Spark's checksum files
        # are the same.  A checkpoint on HDFS or an object store should keep
        # Spark's FileContext default; the engine writes none.  Pinned by
        # tests/test_streaming.py::test_stream_checkpoint_forks_no_readlink.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory.

Local test profile: single JVM, ``local[$SPARK_GRAFT_CPUS]`` (default 32),
shuffle partitions sized to cores — NOT the 200 default, which
over-parallelizes small local data and under-parallelizes a real cluster.

Cluster design notes (100 TB target):
- AQE on: runtime coalescing + skew-join splitting replace hand-tuned
  partition counts when stats are wrong at scale.
- ``spark.sql.files.maxPartitionBytes`` stays at the 128 MB default so a
  100 TB scan yields ~800k input splits — fine for a 1000-executor cluster.
- Session timezone pinned to UTC: event-time windows must be
  deterministic and match the DuckDB oracle (UTC-naive timestamps).
- Arrow enabled for the few pandas boundaries (stateful dedup, vector UDF
  fallbacks).

Streaming checkpoints (local profile only): state stores, offset logs
and commit logs are written through Hadoop's ``FileSystem`` API
(``FileSystemBasedCheckpointFileManager``), not Spark's default
``FileContext`` one. With no ``libhadoop.so`` on the host, Hadoop's
local file system shells out: every ``FileContext.rename`` of a temp
file into place forks ``readlink`` several times (once more for its
``.crc`` twin, via ``RawLocalFileSystem.getFileLinkStatus``), and a
~1000-row enrich-stream request (a data batch and a no-data batch)
writes ~170 checkpoint files. Spark's checksum layer
(``ChecksumCheckpointFileManager``) waits on those writer threads, so
the state commit was mostly waiting on forked processes (on a 4-vCPU
VM: state commit ~1.6-2.0 s a request at the default, ~0.1 s with
this manager; PIDs per request ~1720 -> ~345). ``FileSystem.rename``
on a local path is a plain rename(2). Nothing is given up on a local path: the FileContext
no-overwrite rename there is also a check followed by a rename, and the
checksum layer still wraps this manager, so every state file keeps its
``.crc`` sidecar and Spark still verifies it on read. This factory
only builds ``local[N]`` sessions and ``streaming/sinks.py`` already
requires local paths; a cluster profile that checkpoints to HDFS or an
object store should keep Spark's default manager, whose atomic rename
is what those file systems provide.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Driver heap default: min(16g, 40% of physical memory), in MiB. Local
# mode is ONE JVM holding driver AND all executor slots: 32 concurrent
# task working sets + the session-lifetime build caches + (in bench) the
# status store share this heap. 8g measurably GC-throttled the back half
# of the bench (q64's main row read 10.8 s at 8g, 2.2 s at 16g — same
# code, same shuffle), so 16g is the cap. On a small host a fixed 16g
# lets the JVM grow past what the host has (a 15 GiB VM's kernel OOM
# killer ended the test suite's JVM at 14.8 GB RSS); 40% leaves the rest
# to the Python workers and the OS. A real cluster sizes executor memory
# instead — this default only exists for the single-JVM profile.
_PHYS_MIB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
_DEFAULT_DRIVER_MEM = f"{min(16 * 1024, int(0.4 * _PHYS_MIB))}m"


# The directory holding the package. Python workers unpickle UDFs by
# importing the package, so they need it on their path whatever the
# driver's working directory; the environment's own PYTHONPATH stays
# behind it.
_PKG_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "example-kafkastreams-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _DEFAULT_DRIVER_MEM),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as long ns and convert in catalog.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local checkpoints without a forked process per rename (see
        # the module docstring)
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(filter(None, [_PKG_PARENT, os.environ.get("PYTHONPATH")])),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""SparkSession factory with scale-aware defaults.

Single place where engine-wide Spark conf is decided so tests, bench, and
the driver entry point all run the same way. Sessions run local[N], N =
``SPARK_GRAFT_CPUS`` or, when unset, the host's core count. Every knob is
the one you would set on a cluster: AQE (runtime coalescing + skew-join
handling), Arrow for the few pandas-UDF paths, and shuffle partitions
sized to cores locally (on a real cluster AQE coalesces from a high
initial number; DEPLOY.md lists the cluster-only confs).

Stream checkpoints: ``get_session`` always runs ``local[N]``, so every
checkpoint and state store sits on local disk, and they are written through
Spark's ``FileSystemBasedCheckpointFileManager``. Spark's default for
``file:`` paths, the ``FileContext`` manager, forks processes when the JVM
has no ``libhadoop``: each rename runs ``getFileLinkStatus`` on both paths
twice, and each of those forks a ``readlink``. One bounded
``windowed_counts`` drain forked 192 ``readlink`` processes and a
``stream_stream_join`` drain about 600, at about 6 ms each from the driver
JVM; the state-store commit was most of the join's latency. Through the
FileSystem manager a rename is one ``File.renameTo`` and no ``readlink``
runs. The rename guarantees are unchanged on a POSIX disk: Hadoop's local
``FileContext`` rename is itself check-then-rename ("deals with overwrite
in a non-atomic way"). Every checksum is still written (Spark's
``N.delta.crc`` and Hadoop's ``.crc`` files), so the ``chmod`` forks of
file creation remain. HDFS or object-store checkpoints on a cluster keep
Spark's default manager (DEPLOY.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def session_confs(shuffle_partitions: int) -> dict[str, str]:
    """The engine conf set, as data — unit-testable without a JVM."""
    confs = {
        # AQE: runtime partition coalescing, skew-join splitting, dynamic
        # join-strategy switching — essential at 100 TB, harmless locally.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow-batched transfer for pandas UDF / toPandas paths.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Dimension tables under this size are broadcast automatically.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
        # Legacy-compat only: current testdata stores events.ts as parquet
        # timestamp[us] (read natively as TIMESTAMP_NTZ; catalog.load_table
        # guarantees that dtype). If a dataset ever ships TIMESTAMP(NANOS)
        # again, this conf makes it arrive as epoch-nanos long, which
        # catalog._normalize_events_ts converts losslessly.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # local checkpoints rename without forking (module docstring)
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }
    return confs


def get_session(app_name: str = "collimate_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism (driver contract;
    the host's core count when unset).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else os.cpu_count()
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in session_confs(shuffle_partitions).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

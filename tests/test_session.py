"""Session confs: no cluster-only conf in any session, and the local core
count.

`initialPartitionNum=1024` and the zstd codecs are the cluster confs of
DEPLOY.md; the r10 A/B measured them costing real time at bench scale
(window_running_sum 0.50->0.63s, asof 0.92->1.13s, doc_fingerprint
0.58->0.74s at sf0.1). No session sets them, so the bench/driver
sessions and the driver's own vanilla session keep identical shuffle
behavior. Without SPARK_GRAFT_CPUS a session runs one Spark core per
host core.
"""

from __future__ import annotations

import os
import subprocess
import sys

from collimate_spark.session import session_confs

_IPN = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_CODEC = "spark.io.compression.codec"
_PQ_CODEC = "spark.sql.parquet.compression.codec"


def test_no_session_sets_the_cluster_confs():
    confs = session_confs(32)
    assert _IPN not in confs, "wide initial shuffles leaked into bench-scale sessions"
    assert _CODEC not in confs, "zstd codec leaked into bench-scale sessions"
    assert _PQ_CODEC not in confs, "zstd parquet output leaked into bench-scale sessions"


def test_default_master_uses_host_core_count():
    """Without SPARK_GRAFT_CPUS the session runs local[os.cpu_count()],
    not a width tuned for some other host."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    code = (
        "from collimate_spark.session import get_session\n"
        "s = get_session('default-master')\n"
        "print('MASTER=' + s.sparkContext.master)\n"
        "s.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    masters = [l for l in out.stdout.splitlines() if l.startswith("MASTER=")]
    assert masters == [f"MASTER=local[{os.cpu_count()}]"], out.stderr[-2000:]


def test_live_test_session_has_no_wide_initial_shuffles(spark):
    """The shared test session carries no cluster conf: no stage may fan
    out to 1024 map partitions at bench scale."""
    assert spark.conf.get(_IPN, None) in (None, spark.conf.get("spark.sql.shuffle.partitions"))


_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def test_checkpoint_manager_is_the_filesystem_one():
    """Local checkpoints rename through the FileSystem manager: every
    session runs local[N]."""
    assert session_confs(32)[_CKPT_MANAGER] == _FS_CKPT_MANAGER


def test_checkpoint_manager_class_resolves_on_the_running_jvm(spark):
    """The class moved packages across Spark versions, and a name that
    does not resolve fails every stream start."""
    assert spark.conf.get(_CKPT_MANAGER) == _FS_CKPT_MANAGER
    assert spark._jvm.java.lang.Class.forName(_FS_CKPT_MANAGER).getName() == _FS_CKPT_MANAGER

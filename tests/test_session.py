"""Session-conf gating (VERDICT r9 directives #6 + #8).

The r9 decade-sweep fix (`initialPartitionNum=1024` + zstd shuffle codec)
was session-global, and the r10 A/B measured it costing real time at bench
scale (window_running_sum 0.50->0.63s, asof 0.92->1.13s, doc_fingerprint
0.58->0.74s at sf0.1) — the exact "unchanged code" drift VERDICT r9 asked
to arbitrate. The knobs now gate on SPARK_GRAFT_SCALE_MODE (set by
scripts/scale_sweep.py for decade cells); these tests pin the gate so the
bench/driver sessions and the driver's own vanilla session keep identical
shuffle behavior at bench scale.
"""

from __future__ import annotations

from collimate_spark.session import session_confs

_IPN = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
_CODEC = "spark.io.compression.codec"
_PQ_CODEC = "spark.sql.parquet.compression.codec"


def test_scale_confs_absent_by_default():
    confs = session_confs(32, scale_mode=False)
    assert _IPN not in confs, "wide initial shuffles leaked into bench-scale sessions"
    assert _CODEC not in confs, "zstd codec leaked into bench-scale sessions"
    assert _PQ_CODEC not in confs, "zstd parquet output leaked into bench-scale sessions"


def test_scale_mode_adds_decade_knobs():
    confs = session_confs(32, scale_mode=True)
    assert confs[_IPN] == "1024"
    assert confs[_CODEC] == "zstd"
    assert confs[_PQ_CODEC] == "zstd"


def test_scale_mode_initial_partitions_overridable(monkeypatch):
    """SPARK_GRAFT_INITIAL_PARTITIONS exists for shuffle-width A/Bs
    (VERDICT r11 #5); it must only take effect in scale mode and default
    back to the validated 1024."""
    monkeypatch.setenv("SPARK_GRAFT_INITIAL_PARTITIONS", "4096")
    assert session_confs(32, scale_mode=True)[_IPN] == "4096"
    assert _IPN not in session_confs(32, scale_mode=False)
    monkeypatch.delenv("SPARK_GRAFT_INITIAL_PARTITIONS")
    assert session_confs(32, scale_mode=True)[_IPN] == "1024"


def test_live_test_session_has_no_wide_initial_shuffles(spark):
    """The shared test session was built without scale mode: no stage may
    fan out to 1024 map partitions at bench scale."""
    assert spark.conf.get(_IPN, None) in (None, spark.conf.get("spark.sql.shuffle.partitions"))


_CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
_FS_CKPT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)


def test_checkpoint_manager_is_the_filesystem_one():
    """Local checkpoints rename through the FileSystem manager in every
    mode: every session runs local[N]."""
    for scale_mode in (False, True):
        assert session_confs(32, scale_mode=scale_mode)[_CKPT_MANAGER] == _FS_CKPT_MANAGER


def test_checkpoint_manager_class_resolves_on_the_running_jvm(spark):
    """The class moved packages across Spark versions, and a name that
    does not resolve fails every stream start."""
    assert spark.conf.get(_CKPT_MANAGER) == _FS_CKPT_MANAGER
    assert spark._jvm.java.lang.Class.forName(_FS_CKPT_MANAGER).getName() == _FS_CKPT_MANAGER

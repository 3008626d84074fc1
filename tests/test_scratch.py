"""The scratch-cache registry (collimate_spark.scratch): operators
register their internal ``.cache()`` frames so multi-query sessions can
release exactly those blocks without clearing user caches — the
de-footgunned form of the cache-lifetime contract (VERDICT r6 #7)."""

from __future__ import annotations

import pyspark.sql.functions as F

from collimate_spark import scratch
from collimate_spark.scratch import clear_scratch, scache, scratch_caches


def _cached_frames(spark) -> int:
    """Number of persisted RDD handles the context currently tracks —
    cached DataFrames surface here as InMemoryRelation-backed RDDs."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_operator_scratch_registers_and_clears(spark, sf_dir):
    """An operator that caches internally (dedup_minhash_lsh caches the
    shingle frame) leaves its block registered; clear_scratch releases
    it while an unrelated USER cache survives."""
    from collimate_spark.operators.dedup import dedup_minhash_lsh

    clear_scratch()
    user = spark.range(100).withColumn("x", F.col("id") * 2).cache()
    user.count()  # materialize the user block

    before = len(scratch._SCRATCH)
    dedup_minhash_lsh(spark, sf_dir).collect()
    assert len(scratch._SCRATCH) > before, "operator did not register scratch"

    released = clear_scratch(blocking=True)
    assert released >= 1
    assert not scratch._SCRATCH
    # the user's own cache is untouched (clearCache would have nuked it)
    assert user.storageLevel.useMemory
    user.unpersist(blocking=True)


def test_scratch_caches_context_manager_scopes_to_block(spark, sf_dir):
    from collimate_spark.operators.dedup import dedup_minhash_lsh

    clear_scratch()
    outer = scache(spark.range(10).toDF("id"))
    with scratch_caches(blocking=True):
        dedup_minhash_lsh(spark, sf_dir).collect()
        assert len(scratch._SCRATCH) > 1
    # block-registered frames released; the outer registration survives
    assert scratch._SCRATCH == [outer]
    assert clear_scratch(blocking=True) == 1


def test_clear_scratch_before_materialize_is_safe(spark, sf_dir):
    """The contract's recompute caveat: clearing scratch BEFORE the
    result materializes must still yield correct results (Spark
    recomputes the unpersisted frame from lineage)."""
    from collimate_spark.operators.dedup import dedup_minhash_lsh

    clear_scratch()
    df = dedup_minhash_lsh(spark, sf_dir)
    clear_scratch(blocking=True)  # pulled out from under the plan
    rows_cleared = sorted(map(tuple, df.collect()))

    clear_scratch()
    rows_cached = sorted(map(tuple, dedup_minhash_lsh(spark, sf_dir).collect()))
    clear_scratch(blocking=True)
    assert rows_cleared == rows_cached


def test_scache_is_idempotent_across_rebuilds(spark, sf_dir):
    """Building one query three times (bench.py's min-of-N) re-caches
    nothing: runs 2-3 find run 1's plan cached, so the registry keeps
    one handle and Spark never warns "Asked to cache already cached
    data"."""
    from collimate_spark.operators.tpch_ext import q15_top_supplier

    clear_scratch(blocking=True)
    rows = [sorted(map(tuple, q15_top_supplier(spark, sf_dir).collect())) for _ in range(3)]
    assert len(scratch._SCRATCH) == 1
    assert rows[0] == rows[1] == rows[2]
    assert clear_scratch(blocking=True) == 1


def test_scache_leaves_user_cached_frame_alone(spark):
    """A plan the user cached first is theirs: ``scache`` does not
    register it, so ``clear_scratch()`` leaves it cached."""
    clear_scratch(blocking=True)
    user = spark.range(50).withColumn("y", F.col("id") + 1).cache()
    user.count()
    twin = spark.range(50).withColumn("y", F.col("id") + 1)
    assert scache(twin) is twin
    assert not scratch._SCRATCH
    assert clear_scratch(blocking=True) == 0
    assert user.storageLevel.useMemory
    user.unpersist(blocking=True)

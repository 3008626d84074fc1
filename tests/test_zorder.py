"""The z-order layout's actual payoff: after a
repartitionByRange(z) + sortWithinPartitions(z) write, every FILE bounds
BOTH dimensions at once, so min/max zone maps prune selective predicates
on either column — where a single-column sort bounds only its own column
and leaves the other's per-file range at ~the full domain."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from collimate_spark.sources.storage import morton_interleave

N_FILES = 16
DOMAIN = 64  # small enough that every sf fills both dims uniformly


def _file_ranges(spark, path):
    """Per-file (max-min) range of x and y, averaged over files."""
    df = spark.read.parquet(path).withColumn("f", F.input_file_name())
    agg = (
        df.groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("rx"),
            (F.max("y") - F.min("y")).alias("ry"),
        )
        .agg(F.avg("rx").alias("rx"), F.avg("ry").alias("ry"))
        .collect()[0]
    )
    return agg["rx"], agg["ry"]


def test_zorder_layout_bounds_both_dims(spark, sf_dir, tmp_path):
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    pts = li.select(
        (F.col("l_orderkey") % DOMAIN).cast("int").alias("x"),
        (F.col("l_partkey") % DOMAIN).cast("int").alias("y"),
    )
    zed = pts.withColumn("z", morton_interleave([F.col("x"), F.col("y")], 10))

    z_path = str(tmp_path / "byz")
    x_path = str(tmp_path / "byx")
    (
        zed.repartitionByRange(N_FILES, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(z_path)
    )
    (
        pts.repartitionByRange(N_FILES, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(x_path)
    )

    zrx, zry = _file_ranges(spark, z_path)
    xrx, xry = _file_ranges(spark, x_path)
    gx = gy = DOMAIN - 1

    # x-sorted layout: x tightly bounded, y unbounded (~its full range)
    assert xrx < gx / 8
    assert xry > gy * 0.8
    # z-ordered layout: BOTH dims bounded well below their ranges — with
    # 16 files over the curve each file spans ~1/16 of it, bounding each
    # dim to a fraction of its domain (plus curve-boundary slop)
    assert zrx < gx * 0.6, f"z-layout x range {zrx} vs global {gx}"
    assert zry < gy * 0.6, f"z-layout y range {zry} vs global {gy}"
    # and the multi-dim win over single-column sort on the non-sort dim
    assert zry < xry / 2

"""Storage layout for the columnar store: the layouts Spark's writer
does not give in one call.

At 100 TB the dominant costs are scan volume and shuffle volume; the
storage layout is where both are won. Hive partitioning is
``ingest.to_columnar(partition_cols=)`` and bucketing is
``DataFrameWriter.bucketBy`` (tests/test_storage.py pins the pruned scan
and the Exchange-free bucketed join); this module adds:

- ``write_range_clustered`` / ``write_zorder_clustered``: one range
  shuffle at write so per-file min/max footer stats prune selective
  scans, on one key or on the Morton interleave (``morton_interleave``)
  of several.
- ``replace_directory``: write a frame into a sibling directory, then
  swap it in — the rewrite step of ``compact_small_files`` and the
  streaming CDC apply.
- ``write_versioned`` / ``read_versioned``: manifest-committed snapshots
  with time travel.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import uuid
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession


def write_range_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Range-clustered Parquet: global range partition on cluster_cols +
    sort within each partition, so every output file covers a narrow,
    largely disjoint key range. Parquet footers carry per-file/row-group
    min/max for the cluster columns, and selective filters then skip
    whole files at scan time — the single-dimension answer to Z-ORDER,
    and the third layout lever next to hive partitioning (pruning on
    low-cardinality values) and bucketing (shuffle-free joins). Costs one
    range shuffle at write; wins every selective scan thereafter
    (verified by tests/test_storage.py against the actual footer stats)."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def replace_directory(df: DataFrame, path: str) -> None:
    """Write ``df`` as Parquet into a sibling of ``path``, then rename it
    into place; ``path`` need not exist yet. ``df`` may read ``path``
    itself: the sibling is complete before the old directory moves.

    Local-FS note: the swap uses two renames (not atomic vs readers); on
    object stores you'd write to a new prefix and flip a manifest/pointer.
    """
    base = path.rstrip("/")
    tmp = f"{base}__stage_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(base):
        old = f"{base}__old_{uuid.uuid4().hex[:8]}"
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old)
    else:
        os.rename(tmp, base)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_mb: float = 128,
    sort_within_by: list[str] | None = None,
) -> tuple[int, int]:
    """Compact a Parquet directory suffering the small-files problem into
    ~``target_file_mb`` outputs. Returns (files_before, files_after).

    The 100 TB rationale: every file costs a namenode/listing round-trip,
    a footer read, and a scheduler task; streaming sinks and partitioned
    appends routinely leave thousands of KB-sized files. Compaction sizes
    the output count off the directory's actual byte size (not row
    counts), rewrites once via coalesce — a shuffle-FREE narrow repack —
    and swaps directories (``replace_directory``). With ``sort_within_by``
    it instead range-repartitions on those columns (one shuffle) so the
    rewrite also re-establishes clustering (min/max pruning) while
    compacting."""
    size = 0
    n_before = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, f))
                n_before += 1
    n_out = max(1, math.ceil(size / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_within_by:
        df = df.repartitionByRange(n_out, *[F.col(c) for c in sort_within_by])
    else:
        df = df.coalesce(n_out)
    replace_directory(df, path)
    n_after = sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    return n_before, n_after


ZORDER_BITS = 16


def morton_interleave(cols: list[Column], bits: int) -> Column:
    """The Morton (z-order) interleave of the low ``bits`` bits of
    non-negative integer columns: bit ``b`` of input ``i`` of ``n`` lands
    at position ``b·n + i``. Pure shift/mask codegen, no UDF; the result
    has the inputs' integer type, so ``bits · n`` must fit it."""
    n = len(cols)
    return reduce(
        Column.bitwiseOR,
        (
            F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i)
            for b in range(bits)
            for i, c in enumerate(cols)
        ),
    )


def zorder_value(df: DataFrame, cols: list[str], bits: int = ZORDER_BITS) -> DataFrame:
    """Append a ``_z`` column: the Morton (z-order) interleave of the
    given numeric columns, each min/max-scaled to ``bits`` bits via a
    broadcast 1-row stats agg. Pure JVM bit arithmetic — no UDF.

    Range-partitioning on ``_z`` gives MULTI-dimensional data skipping:
    each output file covers a small hyper-rectangle of the key space, so
    min/max footer stats prune scans on ANY of the interleaved columns —
    the Delta/Iceberg OPTIMIZE ZORDER pattern, expressed with plain
    DataFrame ops."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__max_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    scaled = []
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
        q = F.least(
            F.lit((1 << bits) - 1),
            F.floor((F.col(c).cast("double") - lo) / span * (1 << bits)).cast("long"),
        )
        scaled.append(q)
    z = morton_interleave(scaled, bits)
    return out.withColumn("_z", z).drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])


def write_zorder_clustered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16, bits: int = ZORDER_BITS
) -> None:
    """Write Parquet range-partitioned on the z-order interleave of
    ``cols``: one range shuffle, then each file covers a compact
    hyper-rectangle -> footer min/max prune on every z-ordered column.
    Compare write_range_clustered, which clusters on ONE key ordering."""
    zdf = zorder_value(df, cols, bits)
    zdf.repartitionByRange(n_files, F.col("_z")).drop("_z").write.mode("overwrite").parquet(path)


def write_versioned(df: DataFrame, table_dir: str, note: str = "") -> int:
    """Versioned snapshot write — the minimal table-format core (what
    Delta/Iceberg layer under MERGE/time travel): each write lands in an
    immutable ``v=N`` directory, then a tiny ``_versions.json`` manifest
    commit makes it visible. Readers resolve the manifest FIRST, so a
    half-written snapshot is invisible (manifest commit = atomicity
    point; on object stores use a conditional put). Returns the new
    version number. Old versions stay readable -> time travel, audit,
    and safe concurrent readers during rewrites."""
    os.makedirs(table_dir, exist_ok=True)
    manifest_path = os.path.join(table_dir, "_versions.json")
    versions = []
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            versions = json.load(f)
    v = (versions[-1]["version"] + 1) if versions else 0
    path = os.path.join(table_dir, f"v={v}")
    df.write.mode("overwrite").parquet(path)
    n_rows = df.sparkSession.read.parquet(path).count()
    versions.append({"version": v, "path": f"v={v}", "rows": n_rows, "note": note})
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(versions, f)
    os.replace(tmp, manifest_path)  # atomic manifest commit
    return v


def read_versioned(spark: SparkSession, table_dir: str, version: int | None = None) -> DataFrame:
    """Time-travel read: latest version by default, or any retained
    ``version`` — resolved through the manifest, never by listing data
    directories (half-written snapshots are invisible)."""
    with open(os.path.join(table_dir, "_versions.json")) as f:
        versions = json.load(f)
    if version is None:
        entry = versions[-1]
    else:
        matches = [e for e in versions if e["version"] == version]
        if not matches:
            raise ValueError(f"version {version} not found; have {[e['version'] for e in versions]}")
        entry = matches[0]
    return spark.read.parquet(os.path.join(table_dir, entry["path"]))

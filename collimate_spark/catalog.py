"""Table catalog over the driver-provided Parquet test tables.

The on-disk layout (one Parquet dataset per table under an sf dir) is the
engine's columnar store — the Spark-native analog of the reference's
directory-of-column-files model (/root/reference/index.js:604-641): typed,
dictionary-encoded, splittable, self-describing.

The reference writes each table's column types once, into its
``index.json`` manifest, so no reader derives them again. The analog here
is a schema memo: the first ``load_table`` of a table infers its schema
from the Parquet footers (one Spark job), and later loads pass the
memoized schema to ``spark.read.schema(...)``, which builds the same
relation with no job. The memo is keyed by the table's file identity
(``table_identity``: resolved path plus every data file's name, size and
mtime_ns) and by the session's values of ``INFERENCE_CONFS``, so a table
rewritten in place, or a session with other Parquet confs, infers again.
Paths that are not on the local filesystem are never memoized.
"""

from __future__ import annotations

import os
import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: The one documented type every ``events.ts`` consumer may rely on.
EVENTS_TS_DTYPE = "timestamp_ntz"

_NTZ_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _normalize_events_ts(df: DataFrame) -> DataFrame:
    """Surface ``events.ts`` as TIMESTAMP_NTZ regardless of on-disk encoding.

    Driver testdata stores ts as parquet timestamp[us] without UTC
    adjustment, which Spark reads natively as TIMESTAMP_NTZ — the no-op
    fast path. Two legacy encodings are normalized timezone-independently
    (no NTZ↔LTZ session-tz cast, so correct under any caller session tz,
    including DST zones):

    - epoch-nanos BIGINT (parquet TIMESTAMP(NANOS) read under
      spark.sql.legacy.parquet.nanosAsLong): integer-divide to micros and
      add to the NTZ epoch — no double-precision loss.
    - TIMESTAMP (LTZ, parquet isAdjustedToUTC): take the absolute instant's
      micros (unix_micros is tz-independent) onto the NTZ epoch, i.e. the
      UTC wall-clock.
    """
    dtype = dict(df.dtypes).get("ts")
    if dtype == EVENTS_TS_DTYPE or dtype is None:
        return df
    if dtype == "bigint":
        return df.withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, ts DIV 1000, {_NTZ_EPOCH})")
        )
    if dtype == "timestamp":
        return df.withColumn(
            "ts", F.expr(f"timestampadd(MICROSECOND, unix_micros(ts), {_NTZ_EPOCH})")
        )
    raise TypeError(f"events.ts: unsupported on-disk dtype {dtype!r}")


#: Session confs that change the schema Parquet inference returns. Their
#: values are part of the schema memo's key.
INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

# (resolved path, INFERENCE_CONFS values) -> (file listing, schema). One
# entry per path and conf combination: a rewritten table replaces its own.
_SCHEMA_MEMO: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMA_MEMO_LOCK = threading.Lock()


def table_identity(name: str, sf_dir: str = DEFAULT_SF_DIR) -> tuple | None:
    """File identity of one catalog table: ``(resolved path, ((relative
    file name, size, mtime_ns), ...))`` over every file of the Parquet file
    or dataset directory. Any rewrite in place changes it. None when the
    path is not on the local filesystem (or does not exist): such a table
    has no identity to key a memo on, so callers must not memoize it."""
    path = os.path.realpath(os.path.join(sf_dir, f"{name}.parquet"))
    if os.path.isfile(path):
        st = os.stat(path)
        return path, (("", st.st_size, st.st_mtime_ns),)
    if not os.path.isdir(path):
        return None
    files = []
    for root, dirs, fnames in os.walk(path):
        dirs.sort()
        for fname in sorted(fnames):
            full = os.path.join(root, fname)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return path, tuple(files)


def _read_parquet(spark: SparkSession, name: str, sf_dir: str) -> DataFrame:
    """``spark.read.parquet`` of one table, inferring its schema only when
    the memo has none for this file identity and these confs. The listing
    is taken before inference, so a rewrite racing the inference leaves an
    entry the next load sees as stale."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ident = table_identity(name, sf_dir)
    if ident is None:
        return spark.read.parquet(path)
    resolved, files = ident
    key = (resolved, tuple(spark.conf.get(c) for c in INFERENCE_CONFS))
    with _SCHEMA_MEMO_LOCK:
        hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] == files:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMA_MEMO_LOCK:
        _SCHEMA_MEMO[key] = (files, df.schema)
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one catalog table. Column pruning / predicate pushdown happen at
    the Parquet scan (verify with .explain: PushedFilters / ReadSchema).

    The Parquet schema is inferred once per file identity and conf set and
    memoized (see the module docstring): a repeat load of an unchanged
    table starts no Spark job, and a table rewritten in place (any file's
    name, size or mtime changed) or read under different
    ``INFERENCE_CONFS`` values is inferred again.

    ``events.ts`` is always surfaced as ``EVENTS_TS_DTYPE`` (timestamp_ntz)
    — see ``_normalize_events_ts`` for the legacy encodings handled. The
    nanosAsLong conf is set here (runtime-settable) so the catalog works
    under ANY caller-provided SparkSession, not just
    collimate_spark.session's.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, name, sf_dir)
    if name == "events":
        df = _normalize_events_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}

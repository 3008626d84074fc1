"""Catalog contracts.

events.ts dtype: every consumer may rely on one documented type
(catalog.EVENTS_TS_DTYPE == timestamp_ntz) regardless of the on-disk
encoding — round-2's bench-killing regression was a consumer assuming an
accidental dtype.

Schema memo: a repeat load of an unchanged table starts no Spark job, and
a table rewritten in place or read under other Parquet inference confs
gets the schema inference gives.
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collimate_spark.catalog import (  # noqa: E402
    EVENTS_TS_DTYPE,
    _normalize_events_ts,
    load_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.001")


def test_events_ts_dtype_is_documented_type(spark):
    ev = load_table(spark, "events", SF_DIR)
    assert dict(ev.dtypes)["ts"] == EVENTS_TS_DTYPE


def test_legacy_nanos_bigint_normalizes_without_precision_loss(spark):
    # 2021-03-28 02:30:00.123456 UTC in epoch nanos — inside the EU DST
    # spring-forward gap, where a session-tz NTZ cast would corrupt.
    nanos = 1616898600123456789
    df = spark.createDataFrame([(nanos,)], "ts bigint")
    out = _normalize_events_ts(df)
    assert dict(out.dtypes)["ts"] == EVENTS_TS_DTYPE
    row = out.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")).first()
    assert row["s"] == "2021-03-28 02:30:00.123456"


def test_legacy_ltz_normalizes_tz_independently(spark):
    # An LTZ instant must surface as its UTC wall-clock whatever the
    # session tz is — exercised under a DST zone to catch offset-shift bugs.
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
        df = spark.createDataFrame(
            [("2021-03-28 02:30:00.5",)], "s string"
        ).select(F.to_timestamp("s").alias("ts"))
        assert dict(df.dtypes)["ts"] == "timestamp"
        out = _normalize_events_ts(df)
        assert dict(out.dtypes)["ts"] == EVENTS_TS_DTYPE
        got = out.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("s")).first()
        # 02:30 Berlin on 2021-03-28 does not exist (spring-forward); Spark
        # resolves the parse to the absolute instant 1616895000500000 µs =
        # 01:30:00.5 UTC. The NTZ normalization must land on exactly that
        # UTC wall-clock, not a Berlin-shifted one.
        assert got["s"] == "2021-03-28 01:30:00.500000"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


# --- schema memo ---------------------------------------------------------


def test_second_load_of_unchanged_table_starts_no_job(spark, tmp_path, jobs_started_by):
    shutil.copy(f"{SF_DIR}/nation.parquet", tmp_path / "nation.parquet")
    assert jobs_started_by(lambda: load_table(spark, "nation", str(tmp_path))) >= 1
    assert jobs_started_by(lambda: load_table(spark, "nation", str(tmp_path))) == 0


def test_table_rewritten_in_place_loads_new_columns(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, "t", str(tmp_path)).columns == ["a"]
    assert load_table(spark, "t", str(tmp_path)).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    df = load_table(spark, "t", str(tmp_path))
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y"), (3, "z")]


def test_inference_conf_toggle_gives_inferred_schema(spark, tmp_path):
    # parquet timestamp[us] without UTC adjustment: NTZ or LTZ by conf
    pq.write_table(
        pa.table({"ts": pa.array([0, 10**6], pa.timestamp("us"))}), tmp_path / "t.parquet"
    )
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(conf)
    try:
        for value, dtype in (("true", "timestamp_ntz"), ("false", "timestamp"),
                             ("true", "timestamp_ntz")):
            spark.conf.set(conf, value)
            got = load_table(spark, "t", str(tmp_path))
            assert got.schema == spark.read.parquet(str(tmp_path / "t.parquet")).schema
            assert dict(got.dtypes)["ts"] == dtype
            ev = load_table(spark, "events", SF_DIR)
            assert dict(ev.dtypes)["ts"] == EVENTS_TS_DTYPE
    finally:
        spark.conf.set(conf, prev)


def test_memoized_load_rows_match_uncached_read(spark):
    for name in ("lineitem", "events"):
        load_table(spark, name, SF_DIR)
        memo = load_table(spark, name, SF_DIR)
        plain = spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))
        if name == "events":
            plain = _normalize_events_ts(plain)
        assert memo.schema == plain.schema
        assert sorted(memo.collect()) == sorted(plain.collect())


def test_concurrent_first_loads_share_one_consistent_memo(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    from collimate_spark import catalog

    names = ("nation", "region", "customer", "orders", "lineitem")
    for n in names:  # fresh paths: every thread races on a memo miss
        shutil.copy(f"{SF_DIR}/{n}.parquet", tmp_path / f"{n}.parquet")
    want = {n: spark.read.parquet(str(tmp_path / f"{n}.parquet")).schema for n in names}
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(load_table, spark, n, str(tmp_path)) for n in names * 8]
            got = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(prev)
    assert [df.schema for df in got] == [want[n] for n in names * 8]
    for n in names:
        resolved, files = catalog.table_identity(n, str(tmp_path))
        entries = [v for k, v in catalog._SCHEMA_MEMO.items() if k[0] == resolved]
        assert len(entries) == 1 and entries[0][0] == files

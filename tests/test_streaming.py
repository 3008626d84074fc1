"""Structured Streaming tests: micro-batch file source, normalization
parity with the batch path, watermarked windows/sessions, streaming dedup,
and late-data handling."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql.window import Window

from collimate_spark.plans import executed_plan
from collimate_spark.streaming.pipeline import (
    deduped_stream,
    sessionized,
    stream_ingest,
    to_parquet_sink,
    windowed_counts,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("User Name", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


_EV_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)
_OD_SCHEMA = T.StructType(
    [
        T.StructField("o_ts", T.TimestampType()),
        T.StructField("o_user", T.LongType()),
        T.StructField("o_amount", T.DoubleType()),
    ]
)


def _write_chunk(indir, name, rows):
    with open(os.path.join(indir, name), "w") as fh:
        fh.write("event_id,ts,User Name,value\n")
        for r in rows:
            fh.write(",".join(str(x) for x in r) + "\n")


def test_stream_ingest_to_parquet(spark, tmp_path):
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(indir)
    _write_chunk(indir, "c1.csv", [(1, "2024-01-01 00:00:00", "alice", 1.5), (2, "2024-01-01 00:05:00", "na", 2.5)])
    _write_chunk(indir, "c2.csv", [(3, "2024-01-01 00:10:00", "bob", 3.5)])

    stream = stream_ingest(spark, indir, EVENT_SCHEMA)
    q = to_parquet_sink(stream, outdir, ckpt)
    q.awaitTermination(120)

    got = spark.read.parquet(outdir)
    assert got.columns == ["event_id", "ts", "user_name", "value"]  # sanitized
    assert got.count() == 3
    assert got.filter("user_name IS NULL").count() == 1  # 'na' token → NULL

    # exactly-once: a second availableNow run over the same input adds nothing
    q2 = to_parquet_sink(stream_ingest(spark, indir, EVENT_SCHEMA), outdir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(outdir).count() == 3


def test_stream_ingest_dotted_field_names(spark, tmp_path):
    """A dot in a frozen-schema field name is part of the name, not
    struct access, on both stream ingest paths."""
    from collimate_spark.streaming.pipeline import stream_ingest_with_quarantine

    schema = T.StructType(
        [T.StructField("v1.2 id", T.LongType()), T.StructField("Price (USD.)", T.StringType())]
    )
    indir = str(tmp_path / "in")
    os.makedirs(indir)
    with open(os.path.join(indir, "c1.csv"), "w") as fh:
        fh.write("v1.2 id,Price (USD.)\n1,2.5\n2,n/a\n")
    for i, stream in enumerate(
        (stream_ingest(spark, indir, schema), stream_ingest_with_quarantine(spark, indir, schema))
    ):
        q = stream.writeStream.format("memory").queryName(f"dotted_{i}").start()
        try:
            q.processAllAvailable()
            got = spark.sql(f"SELECT v1_2_id, price_usd FROM dotted_{i} ORDER BY v1_2_id").collect()
        finally:
            q.stop()
        assert [tuple(r) for r in got] == [(1, "2.5"), (2, None)]


def _run_events_stream(spark, tmp_path, transform, chunks):
    """Drive a transformed file-source stream into a memory sink, feeding
    chunks across separate micro-batches (processAllAvailable between
    writes) so watermarks actually advance."""
    indir = str(tmp_path / "ev_in")
    os.makedirs(indir, exist_ok=True)
    _write_chunk_header = "ts,user_id,event_type,value\n"
    stream = (
        spark.readStream.schema(_EV_SCHEMA).option("header", True).csv(indir)
    )
    out = transform(stream)
    name = f"mem_{abs(hash(str(tmp_path))) % 10**9}"
    q = out.writeStream.format("memory").queryName(name).outputMode(
        "append" if transform is not _COMPLETE else "complete"
    ).start()
    try:
        for i, chunk in enumerate(chunks):
            with open(os.path.join(indir, f"chunk{i}.csv"), "w") as fh:
                fh.write(_write_chunk_header)
                for r in chunk:
                    fh.write(",".join(str(x) for x in r) + "\n")
            q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}")
    finally:
        q.stop()


_COMPLETE = object()


def test_windowed_counts_with_late_data(spark, tmp_path):
    chunks = [
        # batch 1: two events in hour 0, one in hour 1 (advances watermark to 01:00-30m)
        [
            ("2024-01-01 00:10:00", 1, "click", 1.0),
            ("2024-01-01 00:20:00", 2, "click", 2.0),
            ("2024-01-01 01:10:00", 1, "view", 3.0),
        ],
        # batch 2: far-future event pushes watermark beyond hour-0 close
        [("2024-01-01 03:00:00", 3, "click", 4.0)],
        # batch 3: LATE event for hour 0 — behind watermark, must be dropped
        [("2024-01-01 00:30:00", 9, "click", 99.0)],
        # batch 4: advance again so closed windows flush
        [("2024-01-01 05:00:00", 3, "click", 5.0)],
    ]
    got = _run_events_stream(
        spark, tmp_path, lambda s: windowed_counts(s, "1 hour", "30 minutes"), chunks
    )
    rows = {(str(r.window_start), r.event_type): (r.n_events, r.sum_value) for r in got.collect()}
    # hour-0 click window closed with the 2 on-time events; late row dropped
    assert rows[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert rows[("2024-01-01 01:00:00", "view")] == (1, 3.0)
    assert ("2024-01-01 00:00:00", "click") in rows


def test_sessionized(spark, tmp_path):
    chunks = [
        [
            ("2024-01-01 00:00:00", 1, "click", 1.0),
            ("2024-01-01 00:10:00", 1, "click", 1.0),  # same session (gap<30m)
            ("2024-01-01 02:00:00", 1, "click", 1.0),  # new session
        ],
        [("2024-01-01 06:00:00", 2, "click", 1.0)],  # advances watermark
        [("2024-01-01 09:00:00", 2, "click", 1.0)],  # flush
    ]
    got = _run_events_stream(spark, tmp_path, lambda s: sessionized(s, "30 minutes", "1 hour"), chunks)
    sess = [(str(r.session_start), r.user_id, r.n_events) for r in got.collect()]
    assert ("2024-01-01 00:00:00", 1, 2) in sess
    assert ("2024-01-01 02:00:00", 1, 1) in sess


def test_stream_ingest_quarantine(spark, tmp_path):
    """Non-conforming rows land whole in _quarantine, never silently."""
    from collimate_spark.streaming.pipeline import stream_ingest_with_quarantine

    indir = str(tmp_path / "qin")
    os.makedirs(indir)
    with open(os.path.join(indir, "c1.csv"), "w") as fh:
        fh.write("event_id,ts,User Name,value\n")
        fh.write("1,2024-01-01 00:00:00,alice,1.5\n")
        fh.write("not_a_number,2024-01-01 00:01:00,bob,2.5\n")  # bad event_id
        fh.write("3,2024-01-01 00:02:00,carol,oops\n")  # bad value

    stream = stream_ingest_with_quarantine(spark, indir, EVENT_SCHEMA)
    name = "quarantine_mem"
    q = stream.writeStream.format("memory").queryName(name).outputMode("append").start()
    try:
        q.processAllAvailable()
        got = spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()
    assert len(got) == 3
    clean = [r for r in got if r._quarantine is None]
    bad = [r for r in got if r._quarantine is not None]
    assert len(clean) == 1 and clean[0].event_id == 1
    assert len(bad) == 2
    # the raw line is preserved for the dead-letter path
    assert any("not_a_number" in r._quarantine for r in bad)
    assert any("oops" in r._quarantine for r in bad)


def test_user_running_stats_stateful(spark, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches."""
    from collimate_spark.streaming.pipeline import user_running_stats

    chunks = [
        [
            ("2024-01-01 00:00:00", 1, "click", 1.0),
            ("2024-01-01 00:01:00", 1, "click", 2.0),
            ("2024-01-01 00:02:00", 2, "view", 10.0),
        ],
        [("2024-01-01 00:10:00", 1, "click", 3.0)],
    ]
    got = _run_events_stream(spark, tmp_path, user_running_stats, chunks).collect()
    updates = [(r.user_id, r.n_events_total, r.sum_value_total, r.batch_events) for r in got]
    # batch 1: user 1 → (2, 3.0), user 2 → (1, 10.0)
    assert (1, 2, 3.0, 2) in updates
    assert (2, 1, 10.0, 1) in updates
    # batch 2: user 1 state carried forward → totals (3, 6.0)
    assert (1, 3, 6.0, 1) in updates


def test_deduped_stream(spark, tmp_path):
    chunks = [
        [
            ("2024-01-01 00:00:00", 1, "click", 1.0),
            ("2024-01-01 00:00:00", 1, "click", 1.0),  # dup within batch
        ],
        [("2024-01-01 00:05:00", 1, "click", 1.0)],  # distinct ts → kept
    ]
    got = _run_events_stream(
        spark, tmp_path, lambda s: deduped_stream(s, ["user_id", "ts"], "1 hour"), chunks
    )
    assert got.count() == 2


def test_stream_stream_join(spark, tmp_path):
    """Watermarked stream×stream join: events match same-user orders
    within the 1-hour lookback; out-of-range orders don't."""
    from collimate_spark.streaming.pipeline import stream_stream_join

    ev_dir = str(tmp_path / "ssj_ev")
    od_dir = str(tmp_path / "ssj_od")
    os.makedirs(ev_dir); os.makedirs(od_dir)
    ev_schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    with open(os.path.join(ev_dir, "c0.csv"), "w") as fh:
        fh.write("ts,user_id,event_type\n")
        fh.write("2024-01-01 10:30:00,1,click\n")   # order at 10:00 in range
        fh.write("2024-01-01 12:30:00,1,view\n")    # 10:00 order out of range
        fh.write("2024-01-01 10:30:00,2,click\n")   # other user: no order
    with open(os.path.join(od_dir, "c0.csv"), "w") as fh:
        fh.write("o_ts,o_user,o_amount\n")
        fh.write("2024-01-01 10:00:00,1,99.5\n")
    ev = spark.readStream.schema(ev_schema).option("header", True).csv(ev_dir)
    od = spark.readStream.schema(_OD_SCHEMA).option("header", True).csv(od_dir)
    joined = stream_stream_join(ev, od, lookback="1 hour", watermark="2 hours")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ssj_out").collect()
    finally:
        q.stop()
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 1 and r.event_type == "click" and r.o_amount == 99.5


def test_stream_static_enrich(spark, tmp_path):
    from collimate_spark.streaming.pipeline import stream_static_enrich

    dim = spark.createDataFrame([(1, "gold"), (2, "basic")], "user_id: long, tier: string")
    chunks = [
        [
            ("2024-01-01 00:10:00", 1, "click", 1.0),
            ("2024-01-01 00:20:00", 2, "view", 2.0),
            ("2024-01-01 00:30:00", 9, "click", 3.0),  # no dim row -> null tier
        ]
    ]
    got = _run_events_stream(
        spark, tmp_path, lambda s: stream_static_enrich(s, dim), chunks
    ).collect()
    tiers = {r.user_id: r.tier for r in got}
    assert tiers == {1: "gold", 2: "basic", 9: None}


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_T1 = "the quick brown fox jumps over the lazy dog near the old river bank today"
_T2 = "completely different content about spark structured streaming state stores and watermarks"
_T3 = "yet another unrelated document describing parquet columnar storage and predicate pushdown"


def test_near_dup_stream_cross_and_within_batch(spark, tmp_path):
    """Streaming near-dup: a doc identical to one from a PREVIOUS epoch is
    flagged cross_batch; two identical docs in the SAME epoch are flagged
    within_batch; unrelated docs are not flagged."""
    import json

    from collimate_spark.streaming.pipeline import near_dup_stream

    indir = str(tmp_path / "nd_in")
    index_dir = str(tmp_path / "nd_index")
    out_dir = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    os.makedirs(indir)

    def _write_docs(name, docs):
        with open(os.path.join(indir, name), "w") as fh:
            for i, t in docs:
                fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    _write_docs("b1.jsonl", [(1, _T1), (2, _T2)])
    _write_docs("b2.jsonl", [(11, _T1), (12, _T3), (13, _T2), (14, _T2)])

    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(indir)
    )
    q = near_dup_stream(docs, index_dir, out_dir, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(out_dir).collect()
    pairs = {(r.doc_a, r.doc_b, r.kind) for r in got}
    assert (13, 14, "within_batch") in pairs
    assert (11, 1, "cross_batch") in pairs
    assert (13, 2, "cross_batch") in pairs and (14, 2, "cross_batch") in pairs
    # unrelated docs never pair
    flagged = {r.doc_a for r in got} | {r.doc_b for r in got}
    assert 12 not in flagged and 3 not in flagged


def test_near_dup_batch_idempotent_replay(spark, tmp_path):
    """foreachBatch retry semantics: re-running an epoch overwrites its
    own index slice (no duplication) and returns the same candidates."""
    from collimate_spark.streaming.pipeline import near_dup_candidates_batch

    index_dir = str(tmp_path / "idx")
    b0 = spark.createDataFrame([(1, _T1), (2, _T2)], DOC_SCHEMA)
    b1 = spark.createDataFrame([(11, _T1)], DOC_SCHEMA)

    assert near_dup_candidates_batch(b0, index_dir, 0).count() == 0
    first = {tuple(r) for r in near_dup_candidates_batch(b1, index_dir, 1).collect()}
    replay = {tuple(r) for r in near_dup_candidates_batch(b1, index_dir, 1).collect()}
    assert first == replay == {(11, 1, "cross_batch")}
    # index holds exactly one copy of each epoch's bands
    idx = spark.read.option("basePath", index_dir).parquet(index_dir)
    from collimate_spark.functions.fast_text import BAND_SCHEMA  # noqa: F401

    per_epoch = {r.epoch: r.n for r in idx.groupBy("epoch").agg(F.count("*").alias("n")).collect()}
    assert set(per_epoch) == {0, 1}
    assert per_epoch[1] == 32  # 32 bands for the single replayed doc


def test_rate_source_connector(spark, tmp_path):
    """Non-file connector: the rate source (DataSourceV2, same readStream
    surface as Kafka) feeds a windowed aggregation into a memory sink."""
    from collimate_spark.streaming.pipeline import rate_source_events

    stream = rate_source_events(spark, rows_per_second=200)
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
    )
    name = f"rate_{abs(hash(str(tmp_path))) % 10**9}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # poll the memory sink — NEVER processAllAvailable() on a rate
        # source: it waits for "all available" data while the generator
        # keeps producing, which can block indefinitely
        deadline = time.time() + 90
        rows = []
        while time.time() < deadline:
            time.sleep(2)
            rows = spark.sql(f"SELECT * FROM {name}").collect()
            if rows and sum(r.n for r in rows) >= 100:
                break
    finally:
        q.stop()
    assert rows, "rate source produced nothing"
    got_users = {r.user_id for r in rows}
    assert got_users <= set(range(7))
    assert sum(r.n for r in rows) >= 100  # stream actually flowed


def test_heavy_hitters_stream_cumulative_and_idempotent(spark, tmp_path):
    """Streaming heavy hitters: per-epoch snapshots reflect CUMULATIVE
    counts across epochs; replaying an epoch's batch body does not
    double-count (overwritten epoch partition)."""
    import json

    from collimate_spark.streaming.pipeline import (
        heavy_hitter_counts_batch,
        heavy_hitters_stream,
    )

    indir = str(tmp_path / "hh_in")
    counts_dir = str(tmp_path / "hh_counts")
    out_dir = str(tmp_path / "hh_out")
    ckpt = str(tmp_path / "hh_ckpt")
    os.makedirs(indir)

    def _write_docs(name, docs):
        with open(os.path.join(indir, name), "w") as fh:
            for i, t in docs:
                fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    # 'hot' dominates both batches; 'cold' stays under the phi threshold
    _write_docs("b1.jsonl", [(1, "hot hot hot hot cold"), (2, "hot hot hot warm warm")])
    _write_docs("b2.jsonl", [(3, "hot hot hot hot hot warm")])
    docs = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(indir)
    )
    q = heavy_hitters_stream(docs, counts_dir, out_dir, ckpt, phi=0.30)
    q.awaitTermination(180)

    snaps = spark.read.parquet(out_dir).collect()
    by_epoch = {}
    for r in snaps:
        by_epoch.setdefault(r.epoch, {})[r.word] = r.cnt
    last_epoch = max(by_epoch)
    # cumulative totals: hot = 7+5 = 12 of 16 words by the final epoch
    assert by_epoch[last_epoch]["hot"] == 12
    assert "cold" not in by_epoch[last_epoch]  # 1/16 < phi
    # warm: 2/10=0.2 < phi in epoch with only b1; 3/16 < phi finally
    assert "warm" not in by_epoch[last_epoch]

    # replay idempotency at the batch level
    b = spark.createDataFrame([(9, "hot hot")], DOC_SCHEMA)
    merged1 = {r.word: r.cnt for r in heavy_hitter_counts_batch(b, counts_dir, last_epoch + 1).collect()}
    merged2 = {r.word: r.cnt for r in heavy_hitter_counts_batch(b, counts_dir, last_epoch + 1).collect()}
    assert merged1 == merged2
    assert merged1["hot"] == 14


def test_heavy_hitters_stream_replayed_epoch_keeps_one_snapshot(spark, tmp_path):
    """Deleting the checkpoint's last commit makes the restarted stream
    re-run that epoch; its snapshot must replace, not duplicate, the one
    already in ``out_dir``."""
    import json

    from collimate_spark.streaming.pipeline import heavy_hitters_stream

    indir = str(tmp_path / "hh_in")
    counts_dir = str(tmp_path / "hh_counts")
    out_dir = str(tmp_path / "hh_out")
    ckpt = str(tmp_path / "hh_ckpt")
    os.makedirs(indir)
    for name, docs in (
        ("b1.jsonl", [(1, "hot hot hot hot cold"), (2, "hot hot hot warm warm")]),
        ("b2.jsonl", [(3, "hot hot hot hot hot warm")]),
    ):
        with open(os.path.join(indir, name), "w") as fh:
            for i, t in docs:
                fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")

    def _run():
        docs = spark.readStream.schema(DOC_SCHEMA).option("maxFilesPerTrigger", 1).json(indir)
        q = heavy_hitters_stream(docs, counts_dir, out_dir, ckpt, phi=0.30)
        assert q.awaitTermination(180), "drain did not finish"
        assert q.exception() is None

    _run()
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    _run()

    rows = [(r.epoch, r.word, r.cnt) for r in spark.read.parquet(out_dir).collect()]
    keys = [(e, w) for e, w, _ in rows]
    assert len(keys) == len(set(keys)), f"replayed epoch duplicated snapshot rows: {sorted(rows)}"
    assert {w: c for e, w, c in rows if e == last}["hot"] == 12


def test_cdc_apply_stream_merges_upserts_and_deletes(spark, tmp_path):
    """Two CDC batches fold into the keyed table in order: batch 2's
    update wins over batch 1's insert, its delete removes a live key,
    and within-batch multi-changes collapse to the max-seq one."""
    import json

    from collimate_spark.streaming.pipeline import cdc_apply_stream

    indir = str(tmp_path / "cdc_in")
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "cdc_ckpt")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("key", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    with open(os.path.join(indir, "b1.jsonl"), "w") as fh:
        fh.write(json.dumps({"op": "upsert", "key": 1, "value": 10.0, "seq": 1}) + "\n")
        fh.write(json.dumps({"op": "upsert", "key": 2, "value": 20.0, "seq": 2}) + "\n")
    with open(os.path.join(indir, "b2.jsonl"), "w") as fh:
        fh.write(json.dumps({"op": "upsert", "key": 1, "value": 11.0, "seq": 3}) + "\n")
        fh.write(json.dumps({"op": "upsert", "key": 1, "value": 12.0, "seq": 4}) + "\n")
        fh.write(json.dumps({"op": "delete", "key": 2, "value": None, "seq": 5}) + "\n")
        fh.write(json.dumps({"op": "upsert", "key": 3, "value": 30.0, "seq": 6}) + "\n")

    changes = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(indir)
    )
    q = cdc_apply_stream(changes, table, ckpt)
    q.awaitTermination(180)
    got = {r.key: r.value for r in spark.read.parquet(table).collect()}
    assert got == {1: 12.0, 3: 30.0}, got


def test_ivf_index_stream_assigns_and_prunes(spark, tmp_path):
    """Streaming IVF index: assignments must match the batch kernel
    exactly, land cell-partitioned (directory pruning), and accumulate
    across epochs without duplication."""
    import json

    import numpy as np

    from collimate_spark.functions import fast_vec
    from collimate_spark.streaming.pipeline import ivf_index_stream

    rng = np.random.Generator(np.random.PCG64(11))
    C = rng.standard_normal((4, 8))
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    indir = str(tmp_path / "vec_in")
    index_dir = str(tmp_path / "ivf_index")
    ckpt = str(tmp_path / "ivf_ckpt")
    os.makedirs(indir)
    vecs = {}
    for b in range(2):
        with open(os.path.join(indir, f"b{b}.jsonl"), "w") as fh:
            for i in range(10):
                vid = b * 10 + i
                v = [float(x) for x in rng.standard_normal(8)]
                vecs[vid] = v
                fh.write(json.dumps({"vec_id": vid, "embedding": v}) + "\n")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(indir)
    )
    q = ivf_index_stream(stream, C, index_dir, ckpt)
    q.awaitTermination(180)

    idx = spark.read.option("basePath", index_dir).parquet(index_dir)
    rows = idx.collect()
    assert len(rows) == 20 and len({r.vec_id for r in rows}) == 20
    X = np.array([vecs[r.vec_id] for r in rows], dtype=np.float64)
    expected = fast_vec.assign_clusters(X, C)
    assert [r.cell for r in rows] == [int(e) for e in expected]
    # partition pruning: reading one cell directory touches only its rows
    one_cell = int(rows[0].cell)
    pruned = spark.read.option("basePath", index_dir).parquet(index_dir).filter(
        F.col("cell") == one_cell
    )
    plan = executed_plan(pruned)
    assert "PartitionFilters: [isnotnull(cell" in plan or "cell#" in plan
    assert pruned.count() == sum(1 for r in rows if r.cell == one_cell)


def test_cdc_apply_stream_crash_recovery_exactly_once(spark, tmp_path):
    """The restart path a 100 TB pipeline actually exercises: kill a
    cdc_apply_stream mid-run (after ≥1 epoch committed, possibly mid-
    epoch), restart from the SAME checkpoint, drain, and require the
    final table to hash-match the batch twin (fold ALL changes, last
    seq per key wins, deletes drop). Exactly-once must hold no matter
    where the kill landed — a replayed epoch re-merges idempotently."""
    import json

    from collimate_spark.streaming.pipeline import cdc_apply_stream

    indir = str(tmp_path / "cdc_in")
    table = str(tmp_path / "cdc_table")
    ckpt = str(tmp_path / "cdc_ckpt")
    os.makedirs(indir)
    schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("key", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    # 8 single-row files → 8 epochs at maxFilesPerTrigger=1: interleaved
    # upserts/updates/deletes touching overlapping keys so a dropped or
    # doubled epoch necessarily changes the final table
    seq = 0
    changes_rows = []
    for b in range(8):
        with open(os.path.join(indir, f"b{b}.jsonl"), "w") as fh:
            key = b % 4
            op = "delete" if b == 5 else "upsert"
            seq += 1
            row = {"op": op, "key": key, "value": float(10 * b + key), "seq": seq}
            changes_rows.append(row)
            fh.write(json.dumps(row) + "\n")
        # the file source orders micro-batches by modification time; CDC
        # apply (like any MERGE-based pipeline) assumes in-order delivery
        # per key, so pin strictly increasing mtimes — checkpoint replay
        # then preserves epoch order across the restart too
        os.utime(os.path.join(indir, f"b{b}.jsonl"), (1_700_000_000 + b, 1_700_000_000 + b))

    def _reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(indir)
        )

    # run 1: kill as soon as the first table version lands (≥1 epoch
    # committed; the stop lands wherever it lands — that's the point)
    q1 = cdc_apply_stream(_reader(), table, ckpt)
    deadline = time.time() + 120
    while not os.path.isdir(table) and time.time() < deadline:
        time.sleep(0.05)
    assert os.path.isdir(table), "first epoch never committed"
    q1.stop()
    q1.awaitTermination(60)
    interrupted = {r.key: r.value for r in spark.read.parquet(table).collect()}

    # run 2: restart from the same checkpoint; availableNow drains the
    # remaining (and any replayed in-flight) epochs
    q2 = cdc_apply_stream(_reader(), table, ckpt)
    q2.awaitTermination(180)

    # batch twin: fold all changes at once
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    all_changes = spark.createDataFrame(
        [(r["op"], r["key"], r["value"], r["seq"]) for r in changes_rows], schema
    )
    expected = {
        r.key: r.value
        for r in (
            all_changes.withColumn("_rk", F.row_number().over(w))
            .filter((F.col("_rk") == 1) & (F.col("op") != "delete"))
            .collect()
        )
    }
    got = {r.key: r.value for r in spark.read.parquet(table).collect()}
    assert got == expected, (got, expected, interrupted)


def test_near_dup_stream_crash_recovery_no_duplicates(spark, tmp_path):
    """Kill a near_dup_stream mid-run, restart from the same checkpoint,
    and require (a) the final pair set equals the uninterrupted run's
    expectations and (b) NO duplicate rows — the epoch-partitioned
    overwrite sink must make a replayed epoch replace, never append."""
    import json

    from collimate_spark.streaming.pipeline import near_dup_stream

    indir = str(tmp_path / "nd_in")
    index_dir = str(tmp_path / "nd_index")
    out_dir = str(tmp_path / "nd_out")
    ckpt = str(tmp_path / "nd_ckpt")
    os.makedirs(indir)

    def _write_docs(name, docs, mtime):
        p = os.path.join(indir, name)
        with open(p, "w") as fh:
            for i, t in docs:
                fh.write(json.dumps({"doc_id": i, "text": t}) + "\n")
        os.utime(p, (mtime, mtime))

    _write_docs("b1.jsonl", [(1, _T1), (2, _T2)], 1_700_000_000)
    _write_docs("b2.jsonl", [(11, _T1), (12, _T3), (13, _T2), (14, _T2)], 1_700_000_001)

    def _reader():
        return (
            spark.readStream.schema(DOC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(indir)
        )

    q1 = near_dup_stream(_reader(), index_dir, out_dir, ckpt)
    deadline = time.time() + 120
    while not os.path.isdir(out_dir) and time.time() < deadline:
        time.sleep(0.05)
    assert os.path.isdir(out_dir), "first epoch never committed"
    q1.stop()
    q1.awaitTermination(60)

    q2 = near_dup_stream(_reader(), index_dir, out_dir, ckpt)
    q2.awaitTermination(180)

    rows = spark.read.option("basePath", out_dir).parquet(out_dir).collect()
    triples = [(r.doc_a, r.doc_b, r.kind) for r in rows]
    assert len(triples) == len(set(triples)), "replayed epoch duplicated pairs"
    pairs = set(triples)
    assert (13, 14, "within_batch") in pairs
    assert (11, 1, "cross_batch") in pairs
    assert (13, 2, "cross_batch") in pairs and (14, 2, "cross_batch") in pairs


def _write_events(path, start_min, n):
    """``n`` events one minute apart from 2024-01-01 00:00 + ``start_min``."""
    with open(path, "w") as fh:
        fh.write("ts,user_id,event_type,value\n")
        for m in range(start_min, start_min + n):
            fh.write(
                f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00,{m % 7},"
                f"{('click', 'view')[m % 2]},{m % 10}.5\n"
            )


def _drain(df, ckpt, fmt="noop", mode="append", name=None):
    """One ``availableNow`` run of ``df`` on checkpoint ``ckpt``; returns
    its progress."""
    writer = df.writeStream.format(fmt).option("checkpointLocation", ckpt).outputMode(mode)
    if name:
        writer = writer.queryName(name)
    q = writer.trigger(availableNow=True).start()
    assert q.awaitTermination(180), "drain did not finish"
    assert q.exception() is None
    return q.recentProgress


def test_stateful_drains_fork_no_readlink(spark, tmp_path, processes_started_by):
    """Checkpoint and state-store renames fork no ``readlink``: on a JVM
    without libhadoop, Spark's default FileContext checkpoint manager runs
    one per link-status check, four per rename. File creation still forks
    ``chmod`` for the checksum files, which shows the recording sees
    forks at all."""
    from collimate_spark.streaming.pipeline import stream_stream_join

    ev_dir, od_dir = str(tmp_path / "ev"), str(tmp_path / "od")
    os.makedirs(ev_dir)
    os.makedirs(od_dir)
    _write_events(os.path.join(ev_dir, "e0.csv"), 0, 300)
    with open(os.path.join(od_dir, "o0.csv"), "w") as fh:
        fh.write("o_ts,o_user,o_amount\n")
        for m in range(0, 300, 5):
            fh.write(f"2024-01-01 {m // 60:02d}:{m % 60:02d}:00,{m % 7},{m}.0\n")

    def ev():
        return spark.readStream.schema(_EV_SCHEMA).option("header", True).csv(ev_dir)

    def od():
        return spark.readStream.schema(_OD_SCHEMA).option("header", True).csv(od_dir)

    for name, build in (
        ("windowed_counts", lambda: windowed_counts(ev())),
        ("stream_stream_join", lambda: stream_stream_join(ev(), od())),
    ):
        ckpt = str(tmp_path / f"ck_{name}")
        forks = processes_started_by(lambda: _drain(build(), ckpt))
        assert forks["readlink"] == 0, (name, forks)
        assert forks["chmod"] > 0, (name, forks)


def test_windowed_counts_restart_keeps_state_and_checksums(spark, tmp_path):
    """Two ``availableNow`` runs on one checkpoint with a file appended
    between them: the second reads only the new rows, its windows carry
    the first run's counts forward, and the state store keeps every
    delta file with Spark's checksum beside it."""
    indir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    os.makedirs(indir)

    def run(name):
        stream = spark.readStream.schema(_EV_SCHEMA).option("header", True).csv(indir)
        return _drain(windowed_counts(stream), ckpt, "memory", "complete", name)

    _write_events(os.path.join(indir, "e0.csv"), 0, 110)
    run("restart_1")
    # overlaps the first file's last window and stays inside its watermark
    _write_events(os.path.join(indir, "e1.csv"), 90, 90)
    second = run("restart_2")
    assert sum(p["numInputRows"] for p in second) == 90

    batch = windowed_counts(spark.read.schema(_EV_SCHEMA).option("header", True).csv(indir))
    assert sorted(spark.table("restart_2").collect()) == sorted(batch.collect())

    state = {f for _, _, files in os.walk(os.path.join(ckpt, "state")) for f in files}
    assert {"1.delta", "1.delta.crc", "2.delta", "2.delta.crc"} <= state, sorted(state)
